"""Deduplication operators for large-scale training-data pipelines.

All implementations are pure ``pyspark.sql.functions`` compositions
(JVM-side, whole-stage codegen, no Python UDFs), so they scale with the
cluster: the only shuffles are the groupBys/joins stated per function.

- exact_dedup            — hash-groupBy on content digest
- normalized_dedup       — digest of lowercased/punct-stripped text
- minhash_lsh            — shingle -> k minhashes -> banded buckets ->
                           candidate pairs -> exact Jaccard verify
- simhash                — 64-bit sign-aggregated token hashes; banded
                           Hamming candidates
- ngram_jaccard_pairs    — exact n-gram Jaccard on candidate pairs
- embedding_neardup      — cosine near-duplicates within blocking keys
- connected_components   — cluster near-dup pairs (hash-min propagation)
"""

from __future__ import annotations

from typing import List, Optional, Sequence

from pyspark.sql import DataFrame, functions as F


def with_ngram_shingles(df: DataFrame, text_col: str, n: int = 3, out: str = "shingles") -> DataFrame:
    """Distinct word n-gram shingles of normalized text (built-ins only).

    Tokens are materialized as a column before the per-index slice —
    inlining the split() into the transform lambda makes Spark re-run
    the regexp tokenizer once per shingle index (O(tokens^2) regexps/doc,
    measured 30x slower on 200-token docs)."""
    toks = F.split(F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"[^a-z0-9\s]", " ")), r"\s+")
    df = df.withColumn("_ng_toks", toks)
    idx = F.sequence(F.lit(0), F.greatest(F.size("_ng_toks") - n, F.lit(0)))
    shingle = lambda i: F.array_join(F.slice("_ng_toks", i + 1, n), " ")  # noqa: E731
    return df.withColumn(out, F.array_distinct(F.transform(idx, shingle))).drop("_ng_toks")


def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Keep the lowest-id row per exact content digest.

    ONE exchange, skew-immune: ``min_by(struct(row), id)`` under a
    digest groupBy is partially aggregated map-side, so each map task
    ships at most one row per distinct digest — a mega-duplicated
    boilerplate digest (empty docs, license headers) collapses before
    the shuffle instead of landing every copy in one reduce task (the
    row_number-window shape's failure mode). The old groupBy-then-
    semi-join shape was also skew-safe but cost three exchanges moving
    the same full-row payload; at 100 TB the keep set is far past
    broadcast size, so that join cannot go BHJ either."""
    digest = F.md5(F.col(content_col).cast("string"))
    row = F.struct(*[F.col(c) for c in df.columns])
    kept = (
        df.withColumn("_digest", digest)
        .groupBy("_digest")
        .agg(F.min_by(row, F.col(id_col)).alias("_row"))
    )
    return kept.select(*[F.col(f"_row.{c}").alias(c) for c in df.columns])


def normalized_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup after whitespace/punct/case normalization."""
    norm = F.trim(F.regexp_replace(F.regexp_replace(F.lower(F.col(text_col)), r"[^a-z0-9\s]", ""), r"\s+", " "))
    return exact_dedup(df.withColumn("_norm", norm), "_norm", id_col).drop("_norm")


def minhash_signature(df: DataFrame, text_col: str, num_hashes: int = 32, shingle_n: int = 3, out: str = "minhash") -> DataFrame:
    """k minhashes per doc: min over shingles of xxhash64(shingle, seed).

    Computed as ONE aggregate pass over the shingle array carrying k
    running minima — k separate array_min(transform(...)) expressions
    would let Catalyst collapse the shingle projection into each of them
    and recompute the tokenizer k times (measured 30x slower). xxhash64
    is a Spark built-in; one narrow projection, no shuffle."""
    df = with_ngram_shingles(df, text_col, n=shingle_n)
    init = F.array(*[F.lit(9223372036854775807).cast("long") for _ in range(num_hashes)])
    sig = F.aggregate(
        "shingles",
        init,
        lambda acc, s: F.zip_with(
            acc,
            F.array(*[F.xxhash64(s, F.lit(i)) for i in range(num_hashes)]),
            lambda a, h: F.least(a, h),
        ),
    )
    return df.withColumn(out, sig).drop("shingles")


def _band_buckets(df: DataFrame, id_col: str, sig_col: str, bands: int, rows_per_band: int) -> DataFrame:
    """(id, band, bucket) membership rows from a minhash signature —
    the persistable unit of a banded-LSH index."""
    return df.select(
        F.col(id_col),
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(F.concat_ws("_", *[F.col(sig_col)[b * rows_per_band + r] for r in range(rows_per_band)]))
                    for b in range(bands)
                ]
            )
        ).alias("band", "bucket"),
    )


def lsh_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    rows_per_band: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """The persistable LSH INDEX of a corpus: (id, band, bucket) rows.
    Store it as an engine table and each new crawl batch dedups against
    it in O(batch) with :func:`dedup_against_lsh_index` — no corpus
    re-signature, no all-pairs anything. Identical texts produce
    identical signatures, so exact re-crawls are caught with recall 1;
    near-dups are caught at the usual banded-LSH probability."""
    sig = minhash_signature(df, text_col, num_hashes=num_hashes, shingle_n=shingle_n)
    return _band_buckets(sig, id_col, "minhash", bands, rows_per_band)


def dedup_against_lsh_index(
    new_docs: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    rows_per_band: int = 4,
    shingle_n: int = 3,
) -> dict:
    """Incremental near-dup dedup of a NEW batch against an existing
    corpus :func:`lsh_index` (the Dolma/CCNet incremental-crawl shape).

    A new doc is flagged when ANY of its band buckets already exists in
    the index (band + bucket equality — a semi-join keyed on
    (band, bucket), so the shuffle is O(batch buckets + matching index
    rows), never O(corpus)). Returns ``{"survivors", "flagged",
    "index_delta"}``: survivors are the unflagged docs, ``index_delta``
    their (id, band, bucket) rows to APPEND to the index table —
    corpus state stays an append-only table, maintained incrementally.

    In-batch duplicates are NOT handled here (run
    :func:`minhash_dedup` on the batch first); index parameters must
    match the ones the index was built with, or buckets can't collide.
    """
    nb = lsh_index(
        new_docs, id_col, text_col, num_hashes=num_hashes, bands=bands,
        rows_per_band=rows_per_band, shingle_n=shingle_n,
    ).localCheckpoint(eager=True)
    # hit_ids is O(batch) ids and feeds all three returned frames —
    # checkpoint it so the (possibly expensive) index side is scanned
    # exactly once, not once per downstream action (a lazily-passed
    # lsh_index(corpus) plan would otherwise re-sign the corpus for
    # every count over survivors/flagged/index_delta)
    hit_ids = (
        nb.join(index.select("band", "bucket").distinct(), ["band", "bucket"], "left_semi")
        .select(id_col)
        .distinct()
        .localCheckpoint(eager=True)
    )
    survivors = new_docs.join(hit_ids, id_col, "left_anti")
    flagged = new_docs.join(hit_ids, id_col, "left_semi")
    index_delta = nb.join(hit_ids, id_col, "left_anti")
    return {"survivors": survivors, "flagged": flagged, "index_delta": index_delta}


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    bands: int = 8,
    rows_per_band: int = 4,
    sig_col: str = "minhash",
    max_bucket_size: Optional[int] = 1000,
) -> DataFrame:
    """Banded LSH: docs sharing any band bucket become candidate pairs.

    Shuffle pattern: explode to (band, bucket) -> self-join per bucket.
    ``max_bucket_size`` drops over-full buckets (boilerplate/empty-doc
    hash collisions) — the skew guard: one hot bucket of size k costs
    k^2/2 pairs and stalls a single reducer at scale. Docs dropped from
    a hot bucket usually still pair via their other bands.
    Returns distinct (id_a, id_b) with id_a < id_b."""
    buckets = _band_buckets(df, id_col, sig_col, bands, rows_per_band)
    if max_bucket_size:
        from pyspark.sql import Window

        w = Window.partitionBy("band", "bucket")
        buckets = buckets.withColumn("_bsz", F.count("*").over(w)).where(F.col("_bsz") <= max_bucket_size).drop("_bsz")
    # materialize before the self-join: both join sides otherwise
    # re-derive the full minhash-signature subtree (tokenizer + k
    # hashes per shingle), doubling the most expensive stage of the
    # pipeline. The bucket rows are narrow (id, band, bucket) —
    # O(docs * bands). localCheckpoint, not persist (guide §5 memory
    # hygiene): checkpoint blocks are released by the ContextCleaner
    # when the frame is GC'd, where the old never-unpersisted
    # MEMORY_AND_DISK blocks accumulated for the life of the session —
    # and, unlike an evictable cache under concurrent combined-row
    # builds, checkpoint blocks spill instead of silently recomputing
    # the signature pipeline.
    buckets = buckets.localCheckpoint(eager=True)
    a, b = buckets.alias("a"), buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    shingle_n: int = 3,
    candidates: Optional[DataFrame] = None,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs (LSH-pruned when given,
    else all distinct pairs — quadratic, only for small/blocked inputs).

    Returns (id_a, id_b, jaccard) with jaccard >= threshold."""
    sh = with_ngram_shingles(df, text_col, n=shingle_n).select(F.col(id_col), F.col("shingles"))
    # materialize: the verify join references the shingled frame on
    # BOTH sides, and Catalyst would otherwise run the tokenizer +
    # shingler regexes twice. localCheckpoint, not persist — blocks
    # release with the frame instead of accumulating per invocation
    # (guide §5; see minhash_lsh_candidates)
    sh = sh.localCheckpoint(eager=True)
    if candidates is None:
        a, b = sh.alias("a"), sh.alias("b")
        joined = a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    else:
        a = sh.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
        b = sh.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
        joined = candidates.join(a, "id_a").join(b, "id_b")
        return (
            joined.withColumn("_i", F.size(F.array_intersect("sh_a", "sh_b")))
            # |A∪B| = |A|+|B|−|A∩B| for the distinct-element shingle
            # arrays — same integers, one array-hash op per pair instead
            # of two (array_union built a whole array only to size it)
            .withColumn(
                "jaccard",
                F.col("_i") / (F.size("sh_a") + F.size("sh_b") - F.col("_i")),
            )
            .where(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )
    return (
        joined.withColumn("_i", F.size(F.array_intersect("a.shingles", "b.shingles")))
        # union size via the inclusion-exclusion identity (see above)
        .withColumn(
            "jaccard",
            F.col("_i")
            / (F.size("a.shingles") + F.size("b.shingles") - F.col("_i")),
        )
        .where(F.col("jaccard") >= threshold)
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"), "jaccard")
    )


def jaccard_prefix_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    shingle_n: int = 3,
    block_cols: Optional[Sequence[str]] = None,
) -> DataFrame:
    """EXACT n-gram Jaccard self-join (jaccard >= threshold) via prefix
    filtering (Bayardo/Ma/Srikant, "Scaling Up All Pairs", WWW'07).

    Candidate generation is an inverted-index join on each document's
    *prefix* — its ``n - ceil(t*n) + 1`` rarest shingles under a global
    document-frequency order. The prefix-filter theorem guarantees any
    pair with jaccard >= t shares at least one prefix shingle, so this
    prunes candidates without losing pairs: results are identical to the
    quadratic join (and therefore still SQL-oracle-checkable).

    Shuffle pattern at scale: one groupBy(block, shingle) for per-block
    doc frequency, one window shuffle by doc id to rank shingles, one
    equi-join on (prefix shingle, block) — buckets are shingles *rare
    within their block* by construction, so no hot keys — one
    candidate-distinct, one verify join. No quadratic block anywhere.

    Plan-level notes (the constants that matter as much as the
    complexity):
    - the shingled frame is checkpointed: it feeds the token explode,
      both candidate sides, and both verify sides, and Catalyst would
      otherwise re-run the tokenizer+shingler regexes per branch
      (~5x measured); the blocks release with the frame;
    - doc frequency is computed per block key, so the frequency table,
      the prefix ordering, and the candidate buckets all shrink to
      block-local size, and the candidate join carries the block key as
      an equi-join key instead of a post-join filter;
    - ``prefix_len`` subtracts an epsilon before ceil so floating-point
      error can only lengthen the prefix, never shorten it below the
      safe bound (a short prefix would silently drop qualifying pairs).
    """
    from pyspark.sql import Window

    blocks = list(block_cols or [])
    sh = with_ngram_shingles(df, text_col, n=shingle_n).select(
        F.col(id_col), *[F.col(c) for c in blocks], F.col("shingles"), F.size("shingles").alias("_n")
    )
    # localCheckpoint, not persist: blocks release with the frame
    # instead of accumulating per invocation (guide §5; see
    # minhash_lsh_candidates)
    sh = sh.localCheckpoint(eager=True)
    tok = sh.select(F.col(id_col), *[F.col(c) for c in blocks], "_n", F.explode("shingles").alias("_sh"))
    doc_freq = tok.groupBy("_sh", *blocks).agg(F.count("*").alias("_df"))
    w = Window.partitionBy(id_col).orderBy("_df", "_sh")
    prefix_len = F.col("_n") - F.ceil(F.lit(threshold) * F.col("_n") - F.lit(1e-9)) + 1
    idx = (
        tok.join(doc_freq, ["_sh", *blocks])
        .withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= prefix_len)
        .select(F.col(id_col), *[F.col(c) for c in blocks], "_n", "_sh")
    )
    a = idx.select(F.col(id_col).alias("id_a"), *blocks, F.col("_n").alias("_na"), "_sh")
    b = idx.select(F.col(id_col).alias("id_b"), *blocks, F.col("_n").alias("_nb"), "_sh")
    # size-ratio: J >= t requires t*|B| <= |A| <= |B|/t — cheap necessary
    # condition applied inside the candidate join
    cond = (
        (F.col("id_a") < F.col("id_b"))
        & (F.col("_na") >= threshold * F.col("_nb"))
        & (F.col("_nb") >= threshold * F.col("_na"))
    )
    cands = a.join(b, on=["_sh", *blocks]).where(cond).select("id_a", "id_b").distinct()
    sa = sh.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("_i", F.size(F.array_intersect("sh_a", "sh_b")))
        # union size via the inclusion-exclusion identity over the
        # distinct-element shingle arrays (see ngram_jaccard_pairs)
        .withColumn(
            "jaccard",
            F.col("_i") / (F.size("sh_a") + F.size("sh_b") - F.col("_i")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    max_bucket_size: Optional[int] = 1000,
    return_pairs: bool = False,
):
    """Full near-dup pipeline: minhash -> LSH candidates -> Jaccard verify
    -> drop the higher id of each surviving pair (greedy).

    ``max_bucket_size`` is the LSH skew guard (see
    :func:`minhash_lsh_candidates`); pass ``None`` for the deterministic
    guarantee that identical-signature docs always become candidates.

    ``return_pairs=True`` returns ``{"survivors", "verified_pairs"}``
    instead of just the survivor DataFrame — the verified (id_a, id_b,
    jaccard) pairs are the audit trail ("why was this doc dropped"),
    checkpointed once so asking for them never recomputes the
    signature/LSH/verify pipeline."""
    sig = minhash_signature(df, text_col)
    cands = minhash_lsh_candidates(sig, id_col, max_bucket_size=max_bucket_size)
    dups = ngram_jaccard_pairs(df, id_col, text_col, threshold, candidates=cands)
    if return_pairs:
        dups = dups.localCheckpoint(eager=True)  # reused by drop + audit
    to_drop = dups.select(F.col("id_b").alias(id_col)).distinct()
    survivors = df.join(to_drop, on=id_col, how="left_anti")
    if return_pairs:
        return {"survivors": survivors, "verified_pairs": dups}
    return survivors


def simhash(df: DataFrame, text_col: str, out: str = "simhash", bits: int = 64) -> DataFrame:
    """64-bit SimHash: per-token xxhash64, sum(+1/-1) per bit, sign bits
    packed into a long. Pure built-ins: explode -> 64 conditional sums ->
    one groupBy (map-side combinable)."""
    other = [c for c in df.columns]
    toks = F.split(F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"[^a-z0-9\s]", " ")), r"\s+")
    tok = df.select(*other, F.explode(toks).alias("_tok")).withColumn("_h", F.xxhash64("_tok"))
    aggs = [
        F.sum(F.when(F.shiftright("_h", i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)).alias(f"_b{i}")
        for i in range(bits)
    ]
    sums = tok.groupBy(*other).agg(*aggs)
    packed = None
    for i in range(bits):
        bit = F.when(F.col(f"_b{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, i)
        packed = term if packed is None else packed.bitwiseXOR(term)
    return sums.withColumn(out, packed).drop(*[f"_b{i}" for i in range(bits)])


def simhash_candidates(
    df: DataFrame,
    id_col: str,
    sim_col: str = "simhash",
    band_bits: int = 16,
    max_bucket_size: Optional[int] = None,
) -> DataFrame:
    """Candidate pairs sharing any 16-bit band of the simhash (docs within
    Hamming distance 3 of each other share a band with high probability).

    ``max_bucket_size`` caps band buckets as a skew guard — but unlike
    minhash LSH (where a doc dropped from one hot bucket usually still
    pairs via other bands), IDENTICAL simhashes are identical in ALL
    bands, so capping silently drops every pair of a duplicate cluster
    larger than the cap. It therefore defaults to None (exact candidate
    superset); set it only after exact/normalized dedup has removed
    identical-content clusters, where it then guards against the k^2/2
    single-reducer blowup of boilerplate collisions."""
    bands = 64 // band_bits
    mask = (1 << band_bits) - 1
    b = df.select(
        F.col(id_col),
        F.col(sim_col),
        F.posexplode(
            F.array(*[F.shiftrightunsigned(sim_col, i * band_bits).bitwiseAND(F.lit(mask)) for i in range(bands)])
        ).alias("band", "bucket"),
    )
    if max_bucket_size:
        from pyspark.sql import Window

        w = Window.partitionBy("band", "bucket")
        b = b.withColumn("_bsz", F.count("*").over(w)).where(F.col("_bsz") <= max_bucket_size).drop("_bsz")
    x, y = b.alias("x"), b.alias("y")
    return (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col(f"x.{id_col}") < F.col(f"y.{id_col}")),
        )
        .select(F.col(f"x.{id_col}").alias("id_a"), F.col(f"y.{id_col}").alias("id_b"))
        .distinct()
    )


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    block_cols: Optional[Sequence[str]] = None,
    threshold: float = 0.95,
) -> DataFrame:
    """Cosine near-duplicate pairs within blocking keys.

    The dot product runs JVM-side via zip_with + aggregate (no Python).
    Blocking bounds the quadratic join; pass block_cols=None only for
    small inputs. Returns (id_a, id_b, cos) rounded to 6 digits.

    The embedding is cast to array<double> ONCE per side before the
    self-join — casting inside the zip_with lambda would re-run per
    element per candidate pair (measured ~40% of the operator's time)."""
    vec_d = F.col(vec_col).cast("array<double>")
    norm = F.sqrt(F.aggregate(vec_d, F.lit(0.0), lambda acc, x: acc + x * x))
    base = df.select(
        F.col(id_col),
        *(block_cols or []),
        vec_d.alias(vec_col),
        norm.alias("_norm"),
    )
    a = base.select(
        F.col(id_col).alias("id_a"),
        *[F.col(c).alias(f"_ba_{c}") for c in (block_cols or [])],
        F.col(vec_col).alias("_va"),
        F.col("_norm").alias("_na"),
    )
    b = base.select(
        F.col(id_col).alias("id_b"),
        *[F.col(c).alias(f"_bb_{c}") for c in (block_cols or [])],
        F.col(vec_col).alias("_vb"),
        F.col("_norm").alias("_nb"),
    )
    cond = F.col("id_a") < F.col("id_b")
    for c in block_cols or []:
        cond = cond & (F.col(f"_ba_{c}") == F.col(f"_bb_{c}"))
    dot = F.aggregate(
        F.zip_with("_va", "_vb", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        a.join(b, cond)
        .withColumn("cos", F.round(dot / (F.col("_na") * F.col("_nb")), 6))
        .where(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def _cc_star(edges: DataFrame, max_iter: int) -> DataFrame:
    """Alternating large-star/small-star connected components (Kiveris
    et al., "Connected Components in MapReduce and Beyond", SoCC'14,
    Algorithm 2) — O(log^2 n) rounds on ANY graph shape, including the
    adversarial long chains where plain hash-min needs O(diameter).

    Each half-round is one groupBy(node) -> min + explode — the exact
    join shape of the hash-min loop, map-side combinable, keyed on node
    id (uniform). The edge set only ever shrinks toward the star
    forest, so per-round shuffle volume is monotonically bounded by the
    input. Convergence = the directed edge multiset reaches a fixpoint
    (exact exceptAll check, not a hash).

    ``edges`` is a deduplicated (u, v) frame with u != v; returns
    (node, component_id) with component_id = min node of the component.
    """
    e = edges.select("u", "v").where(F.col("u") != F.col("v")).distinct().localCheckpoint(eager=True)
    for _ in range(max_iter):
        # large-star: every node attaches its STRICTLY GREATER neighbors
        # to the minimum of its neighborhood (including itself). Shape:
        # one min-groupBy (O(1) state, map-side combinable) + one join
        # back on the SAME key (exchange reused) — no neighborhood
        # collect_set, so a hub node never materializes its degree in
        # one aggregation buffer.
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(F.min("v").alias("_mv"))
        m = F.least(F.col("_mv"), F.col("u"))
        large = (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), m.alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: orient edges large->small; every node attaches its
        # (all <=) neighbors AND itself to the neighborhood minimum
        oriented = large.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        mins2 = oriented.groupBy("u").agg(F.min("v").alias("_m"))
        small = (
            oriented.join(mins2, "u")
            .where(F.col("v") != F.col("_m"))
            .select(F.col("v").alias("u"), F.col("_m").alias("v"))
            .union(mins2.select(F.col("u"), F.col("_m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)  # cut lineage each round
        )
        converged = (
            small.count() == e.count()
            and small.exceptAll(e).limit(1).count() == 0
        )
        e = small
        if converged:
            break
    else:
        raise RuntimeError(
            f"star connected_components did not converge in max_iter={max_iter} rounds"
        )
    # fixpoint edge set is a star forest oriented child -> root (root =
    # component min); roots themselves map to themselves
    roots = e.select(F.col("v").alias("node")).distinct().withColumn("component_id", F.col("node"))
    return e.select(F.col("u").alias("node"), F.col("v").alias("component_id")).union(roots)


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    driver_threshold: int = 2_000_000,
    algorithm: str = "hashmin",
) -> DataFrame:
    """Connected components over an undirected edge list — the clustering
    step after any near-dup pair generator (keep one doc per component).
    Returns (node, component_id) where component_id is the minimum node
    id reachable from ``node``.

    Hybrid execution: an edge list at or under ``driver_threshold`` is
    collected and solved with a driver union-find (near-dup edges are
    threshold-pruned and tiny relative to the corpus; microseconds beat
    rounds of shuffle jobs). Larger graphs run the distributed hash-min
    loop below — set ``driver_threshold=0`` to force it.

    Distributed shape: hash-min label propagation. Each round is one keyed
    aggregation (min neighbor label) plus one join — both shuffled on the
    node id so AQE reuses the exchange — and the lineage is cut with an
    eager ``localCheckpoint`` so the plan stays constant-size across
    rounds. Rounds needed = eccentricity of the component's min node;
    near-dup clusters are shallow (pairs come from a similarity
    threshold, so components are dense and tiny). For adversarial
    long-chain graphs pass ``algorithm="star"``: alternating
    large-star/small-star (:func:`_cc_star`, O(log^2 n) rounds on ANY
    graph shape) with the same min-groupBy + join round shape.
    No reference counterpart (pyiceberg has no graph ops); semantics per
    Kiveris et al., "Connected Components in MapReduce and Beyond"."""
    if algorithm not in ("hashmin", "star"):
        raise ValueError(f"unknown connected-components algorithm {algorithm!r}")
    # materialize the edge list FIRST: everything below references it 2+
    # times (symmetrize + node seed), and the upstream plan is typically
    # an expensive similarity join that must not be re-run per reference
    edges = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).localCheckpoint(eager=True)
    n_edges = edges.count()  # free: checkpointed
    # the distributed loops run in the caller's session with no conf
    # change and no lock: AQE coalescing sizes each round's reduce side
    # from the shuffled bytes, so independent CC variants built on
    # overlapped driver threads (dedup_clusters_combined) run
    # concurrently without a per-loop width
    if algorithm == "star" and n_edges > driver_threshold:
        return _cc_star(edges, max_iter)
    if n_edges <= driver_threshold:
        # small-graph fast path: near-dup edge lists are threshold-pruned
        # and usually tiny relative to the corpus, so a driver union-find
        # beats 3+ rounds of shuffle jobs — the same kind of size-based
        # switch AQE makes for broadcast joins. The distributed loop below
        # remains the path for graphs that don't fit one machine.
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:  # path compression
                parent[x], x = r, parent[x]
            return r

        rows = edges.collect()
        for row in rows:
            a, b = find(row[0]), find(row[1])
            if a != b:
                # union by min so the root IS the component id
                lo, hi = (a, b) if a < b else (b, a)
                parent[hi] = lo
        out = sorted({x for row in rows for x in (row[0], row[1])})
        spark = edges.sparkSession
        from pyspark.sql import types as T

        ntype = edges.schema["u"].dataType
        from iceberg_python_spark.operators._local import local_rows_df

        return local_rows_df(
            spark,
            [(x, find(x)) for x in out],
            T.StructType(
                [T.StructField("node", ntype), T.StructField("component_id", ntype)]
            ),
        )
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    labels = sym.select(F.col("u").alias("node")).distinct().withColumn("lbl", F.col("node"))
    labels = labels.localCheckpoint(eager=True)
    sym = sym.localCheckpoint(eager=True)
    return _cc_hashmin_loop(sym, labels, max_iter)


def _cc_hashmin_loop(sym: DataFrame, labels: DataFrame, max_iter: int) -> DataFrame:
    for _ in range(max_iter):
        nbr_min = (
            sym.join(labels, sym.v == labels.node)
            .groupBy("u")
            .agg(F.min("lbl").alias("_nbr_lbl"))
        )
        # pointer doubling (shortcutting): fold in the label OF the
        # current label as well — chains halve every round, so
        # convergence is O(log eccentricity) instead of O(eccentricity)
        # (the hash-min + jumping hybrid of Kiveris et al. §3)
        lbl2 = labels.select(F.col("node").alias("_ln"), F.col("lbl").alias("_ll"))
        new_labels = (
            labels.join(nbr_min, labels.node == nbr_min.u, "left")
            .join(lbl2, labels.lbl == lbl2._ln, "left")
            .select(
                "node",
                F.least(
                    F.col("lbl"),
                    F.coalesce(F.col("_nbr_lbl"), F.col("lbl")),
                    F.coalesce(F.col("_ll"), F.col("lbl")),
                ).alias("lbl"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.lbl") != F.col("o.lbl"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # labels were still moving on the last round: a component's
        # min-label eccentricity exceeds max_iter and the ids below would
        # be silently wrong — fail loudly; rounds needed = eccentricity
        raise RuntimeError(
            f"connected_components did not converge in max_iter={max_iter} rounds; "
            "raise max_iter for long-chain graphs (or pre-contract with union-find)"
        )
    return labels.select(F.col("node"), F.col("lbl").alias("component_id"))


def _merge_dup_windows(dup: DataFrame, id_col: str, k: int) -> DataFrame:
    """Gaps-and-islands merge of constant-width duplicated windows:
    ``dup`` is a (id, pos) stream of k-gram starts; overlapping/adjacent
    [pos, pos+k) windows merge into islands. With constant width the
    previous row's end is lag(pos)+k, so island starts are a lag compare
    — per-doc window state bounded by positions-per-doc. Returns
    (id, _s, _e) half-open token intervals."""
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("pos")
    return (
        dup.withColumn("_prev_end", F.lag("pos").over(w) + k)
        .withColumn(
            "_new_island",
            F.when(F.col("_prev_end").isNull() | (F.col("pos") > F.col("_prev_end")), 1).otherwise(0),
        )
        .withColumn("_island", F.sum("_new_island").over(w))
        .groupBy(id_col, "_island")
        .agg(F.min("pos").alias("_s"), (F.max("pos") + k).alias("_e"))
        .drop("_island")
    )


def duplicated_span_stats(df: DataFrame, id_col: str, text_col: str, k: int = 8) -> DataFrame:
    """Exact duplicated-substring signal (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better" metric,
    token-granular): per document, how much of it is covered by k-token
    grams that ALSO appear in another document.

    Spark shape, all built-ins:
    - tokenize + posexplode the k-gram starts (narrow, O(tokens)/doc);
    - groupBy(gram) with min(id)/max(id) — a gram is cross-document iff
      min != max, O(1) aggregation state and map-side combinable (no
      count-distinct sketch needed);
    - semi-join the gram stream against the cross-doc grams (uniform
      hash keys), then a per-doc gaps-and-islands pass merges the
      overlapping [pos, pos+k) windows: with constant width, the
      previous row's end is lag(pos)+k, so island starts are a lag
      compare and coverage is sum(island_end - island_start).

    At 100 TB every shuffle is keyed on gram text or doc id (uniform);
    per-doc window state is bounded by positions-per-doc. Returns
    (id, n_grams, n_dup_grams, covered_tokens) — covered_tokens is the
    union length, so nested/overlapping duplicated windows never double
    count."""
    toks = F.split(F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"[^a-z0-9\s]", " ")), r"\s+")
    base = df.select(F.col(id_col), toks.alias("_toks")).where(F.size("_toks") >= k)
    starts = F.sequence(F.lit(0), F.size("_toks") - k)
    grams = base.select(
        F.col(id_col),
        F.posexplode(starts).alias("_i", "pos"),
        F.col("_toks"),
    ).select(
        F.col(id_col),
        F.col("pos"),
        F.array_join(F.slice("_toks", F.col("pos") + 1, k), " ").alias("gram"),
    )
    # three consumers (cross-doc groupBy, semi-join probe, per-doc
    # totals) would each re-run the tokenize+explode over the full
    # corpus; materialize the gram stream once (localCheckpoint blocks
    # are GC-released with the result)
    grams = grams.localCheckpoint(eager=True)
    cross_doc = (
        grams.groupBy("gram")
        .agg(F.min(id_col).alias("_lo"), F.max(id_col).alias("_hi"))
        .where(F.col("_lo") != F.col("_hi"))
        .select("gram")
    )
    # two consumers (counts + island merge) — materialize the (small,
    # dup-bounded) stream so the semi join runs once
    dup = grams.join(cross_doc, "gram", "left_semi").localCheckpoint(eager=True)
    islands = (
        _merge_dup_windows(dup, id_col, k)
        .groupBy(id_col)
        .agg(
            F.sum(F.col("_e") - F.col("_s")).cast("long").alias("covered_tokens"),
        )
    )
    totals = grams.groupBy(id_col).agg(F.count("*").cast("long").alias("n_grams"))
    dup_counts = dup.groupBy(id_col).agg(F.count("*").cast("long").alias("n_dup_grams"))
    return (
        totals.join(dup_counts, id_col, "left")
        .join(islands, id_col, "left")
        .select(
            id_col,
            "n_grams",
            F.coalesce("n_dup_grams", F.lit(0)).cast("long").alias("n_dup_grams"),
            F.coalesce("covered_tokens", F.lit(0)).cast("long").alias("covered_tokens"),
        )
    )


def remove_duplicated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_span: Optional[int] = None,
) -> DataFrame:
    """Cut cross-document duplicated spans OUT of every document — the
    actual intervention of Lee et al. 2022 ("Deduplicating Training
    Data Makes Language Models Better", ExactSubstr): any k-token
    window that also appears in another document is removed from BOTH
    occurrences. ``duplicated_span_stats`` measures this signal; this
    operator applies it.

    Token / matching semantics:
    - tokens are RAW whitespace tokens, so kept tokens are spliced back
      verbatim (content-preserving — unlike the stats operator's
      punctuation-stripped tokens, which cannot be spliced);
    - gram matching is case-insensitive (lowercased k-token windows);
    - ``min_span`` (default k) removes only merged islands covering at
      least that many tokens — Lee et al. cut spans >= 50 tokens;
      the default removes every duplicated window.

    Documents with no removed span keep their ORIGINAL text
    byte-for-byte; rewritten documents are re-joined with single
    spaces (token-granular splicing cannot reconstruct inner
    whitespace runs). A fully-covered document becomes "".

    Spark shape (same machinery as duplicated_span_stats — gram
    stream, min!=max cross-doc test with O(1) map-side-combinable
    state, semi-join, lag-based island merge):
    - islands explode to covered positions (disjoint by construction,
      no distinct needed; linear in covered tokens);
    - ONLY affected docs (semi-join on islands) re-explode their token
      stream for the anti-join + ordered re-assembly, so the rewrite
      cost scales with the duplicated subset, not the corpus;
    - re-assembly is collect_list per doc — state bounded by document
      length, the same bound every per-doc operator carries.
    Every shuffle keys on gram text or doc id (uniform); boilerplate
    gram skew concentrates linearly (groupBy, never a pair join).

    Returns the input columns (text rewritten in place) plus
    ``n_tokens`` (pre-removal whitespace token count) and
    ``n_removed_tokens``. No reference counterpart (pyiceberg has no
    text operators); semantics per the paper.
    """
    if min_span is None:
        min_span = k
    raw_toks = F.split(F.trim(F.col(text_col)), r"\s+")
    base = df.select(F.col(id_col), raw_toks.alias("_toks"))
    with_k = base.where(F.size("_toks") >= k)
    starts = F.sequence(F.lit(0), F.size("_toks") - k)
    grams = (
        with_k.select(F.col(id_col), F.posexplode(starts).alias("_i", "pos"), F.col("_toks"))
        .select(
            F.col(id_col),
            F.col("pos"),
            F.lower(F.array_join(F.slice("_toks", F.col("pos") + 1, k), " ")).alias("gram"),
        )
        # two consumers (cross-doc groupBy + semi-join probe): materialize
        # once; blocks are GC-released with the result
        .localCheckpoint(eager=True)
    )
    cross_doc = (
        grams.groupBy("gram")
        .agg(F.min(id_col).alias("_lo"), F.max(id_col).alias("_hi"))
        .where(F.col("_lo") != F.col("_hi"))
        .select("gram")
    )
    dup = grams.join(cross_doc, "gram", "left_semi")
    islands = (
        _merge_dup_windows(dup, id_col, k)
        .where(F.col("_e") - F.col("_s") >= min_span)
        .localCheckpoint(eager=True)  # feeds covered, affected, removed
    )
    covered = islands.select(
        F.col(id_col), F.explode(F.sequence(F.col("_s"), F.col("_e") - 1)).alias("pos")
    )
    affected = islands.select(id_col).distinct()
    tok_stream = base.join(affected, id_col, "left_semi").select(
        F.col(id_col), F.posexplode("_toks").alias("pos", "_tok")
    )
    kept = tok_stream.join(covered, [id_col, "pos"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(F.array_sort(F.collect_list(F.struct("pos", "_tok"))), lambda s: s["_tok"]),
            " ",
        ).alias("_new_text")
    )
    removed = islands.groupBy(id_col).agg(
        F.sum(F.col("_e") - F.col("_s")).cast("long").alias("_nrem")
    )
    n_tokens = (
        F.when(F.col(text_col).rlike(r"\S"), F.size(F.split(F.trim(F.col(text_col)), r"\s+")))
        .otherwise(F.lit(0))
        .cast("long")
    )
    # a doc is rewritten iff it has a removed island; a fully-covered doc
    # has no surviving tokens (rebuilt NULL) and becomes ""
    replaced = F.when(
        F.col("_nrem").isNotNull(), F.coalesce(F.col("_new_text"), F.lit(""))
    ).otherwise(F.col(text_col))
    out_cols = [replaced.alias(c) if c == text_col else F.col(c) for c in df.columns]
    return (
        df.join(rebuilt, id_col, "left")
        .join(removed, id_col, "left")
        .select(
            *out_cols,
            n_tokens.alias("n_tokens"),
            F.coalesce(F.col("_nrem"), F.lit(0)).cast("long").alias("n_removed_tokens"),
        )
    )
