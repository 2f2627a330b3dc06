"""End-to-end corpus curation: the training-data operators composed
into one auditable pipeline, with engine tables as stage lineage.

``curate_corpus`` runs the standard pretraining preparation sequence —

    raw documents
      -> Gopher rule-based quality gate       (gopher_quality_flags)
      -> exact/normalized dedup               (normalized_dedup)
      -> MinHash near-dup removal             (minhash_dedup)
      -> optional benchmark decontamination   (contamination_flags)
      -> content-stable train/val/test split  (dataset_split)
      -> temperature mixture over train       (mixture_temperature)
      -> sequence packing plan                (pack_sequences)

— and, when given a catalog, snapshots each stage's output as an
engine table (``{prefix}_clean`` — carrying the split label —
``{prefix}_mix`` and ``{prefix}_packed``) whose snapshot summaries
carry the stage's row counts: the full curation run is time-travelable and diffable with the
ordinary table machinery (incremental scans, changelogs) instead of a
side-channel manifest.

Every stage is one of the already-scale-shaped operators (SCALE.md
rows); the composition adds NO new shuffle patterns. Determinism:
every stage is a pure function of (content, salt), so re-running the
pipeline over the same corpus reproduces byte-identical outputs, and
growing the corpus only extends splits/mixtures monotonically.
"""

from __future__ import annotations

from typing import Any, Dict, Mapping, Optional, Sequence

from pyspark.sql import DataFrame, functions as F

from .operators.dedup import minhash_dedup, normalized_dedup, remove_duplicated_spans
from .operators.packing import mixture_temperature, pack_sequences
from .operators.sampling import dataset_split
from .operators.text import (
    contamination_flags,
    gopher_quality_flags,
    ngram_lm_perplexity,
    quality_deciles,
)


def curate_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    benchmark_df: Optional[DataFrame] = None,
    contamination_n: int = 13,
    split_fractions: Optional[Mapping[str, float]] = None,
    train_token_budget: int = 1_000_000,
    mixture_alpha: float = 0.5,
    seq_len: int = 2048,
    neardup_threshold: float = 0.8,
    quality_flags: Optional[Sequence[str]] = None,
    quality_top_deciles: Optional[int] = None,
    max_docs_per_source: Optional[int] = None,
    dsir_target_df: Optional[DataFrame] = None,
    dsir_keep: Optional[int] = None,
    span_removal_k: Optional[int] = None,
    span_removal_min: Optional[int] = None,
    salt: str = "",
    catalog=None,
    dest_prefix: Optional[str] = None,
) -> Dict[str, Any]:
    """Run the curation sequence; return its artifacts and counts.

    Optional stages (off by default, enabled by their parameter):
    - ``quality_top_deciles=k``: model-based quality gate between the
      rule gate and dedup — score every survivor under the corpus's own
      add-k bigram LM (``ngram_lm_perplexity``), decile-bin the scores
      with the bounded-state ``quality_deciles`` path, keep the k
      LOWEST-perplexity deciles (low ppl = close to the corpus
      distribution = keep). Deciles, not a ppl threshold, so the gate
      is scale-free.
    - ``span_removal_k=k``: after near-dup removal, cut cross-document
      duplicated spans >= ``span_removal_min`` (default k) tokens out
      of the surviving docs (``remove_duplicated_spans`` — rewrites
      text, never drops rows).
    - ``max_docs_per_source=N``: domain-dominance guard — at most N
      docs per source survive (deterministic md5-rank cap), applied
      before the expensive stages.
    - ``dsir_target_df`` + ``dsir_keep=k``: domain selection — keep the
      k docs whose hashed n-gram bags score highest under DSIR
      importance weights toward the target corpus (after the quality
      gates, before dedup).
    - ``benchmark_df``: decontamination — drop docs sharing any
      ``contamination_n``-gram (default 13, the GPT-3/PaLM convention)
      with the benchmark set.

    Returns a dict with DataFrames ``clean`` (quality+dedup survivors,
    with their split label), ``mixture`` (the temperature-sampled train
    subset) and ``packed`` (the packing plan over the mixture), plus
    ``stats`` (per-stage row counts, non-increasing through the
    filters; ``span_tokens_removed`` when span removal ran). With
    ``catalog`` and ``dest_prefix`` set, each artifact is also
    committed as ``{dest_prefix}_clean`` / ``_mix`` / ``_packed`` and
    the returned dict carries the table handles."""
    fractions = dict(split_fractions or {"train": 0.9, "val": 0.05, "test": 0.05})
    stats: Dict[str, int] = {"input": docs.count()}

    # quality_flags selects WHICH Gopher rules gate the corpus (default:
    # all of them via the combined `keep`). Corpora that legitimately
    # fail a rule class — non-English text fails the English-stopword
    # rule, code fails the symbol-ratio rule — pass the applicable
    # subset instead of dropping the gate entirely.
    flags_df = gopher_quality_flags(docs, text_col, id_col)
    if quality_flags is None:
        gate = F.col("keep")
    else:
        gate = F.lit(True)
        for name in quality_flags:
            gate = gate & F.col(name)
    # Each stage is materialized ONCE (localCheckpoint, blocks
    # GC-released with the result): the per-stage counts are part of
    # the pipeline's contract, and without materialization every
    # downstream count would re-execute the entire upstream chain (a
    # recompute pyramid — the quality gate would run six times).
    # eager=False everywhere a count follows immediately: the count is
    # the action that materializes the checkpoint blocks, so each
    # stage costs ONE job instead of a materialize job + a count job.
    kept = flags_df.where(gate).select(id_col)
    quality = docs.join(kept, id_col, "left_semi").localCheckpoint(eager=False)
    stats["after_quality"] = quality.count()

    _mq_obs = None
    if quality_top_deciles is not None:
        # model-based gate: bigram-LM perplexity deciles over the
        # rule-gate survivors; keep the quality_top_deciles LOWEST
        # deciles. Bounded state end to end (the LM table is
        # O(distinct bigrams); the decile cuts are an approx_percentile
        # sketch), so the stage composes at any corpus size.
        scored = ngram_lm_perplexity(quality, text_col, id_col)
        # checkpointed: feeds the keep filter AND is returned for
        # decile-population audits (out["quality_bins"])
        binned = quality_deciles(scored, "ppl", id_col).localCheckpoint(eager=False)
        quality_bins = binned
        keep_ids = binned.where(F.col("bucket") <= int(quality_top_deciles)).select(id_col)
        quality = quality.join(keep_ids, id_col, "left_semi")
        if max_docs_per_source is None and not (dsir_target_df is not None and dsir_keep is not None):
            # the semi-join output flows into exactly ONE single-pass
            # consumer (normalized_dedup's groupBy), so its count can
            # ride that stage's materialization as an observe() metric
            # instead of paying its own checkpoint compile + count job
            # (each localCheckpoint costs a full plan->RDD compile on
            # the driver — measured ~0.66s apiece in this pipeline)
            from pyspark.sql import Observation

            _mq_obs = Observation()
            quality = quality.observe(_mq_obs, F.count(F.lit(1)).alias("n"))
        else:
            # the optional cap/dsir stages read the model-gate output
            # more than once — keep the materialize-then-count shape
            quality = quality.localCheckpoint(eager=False)
    else:
        quality_bins = None
    if _mq_obs is None:
        # model gate off: same frame as after_quality — same count, no job
        stats["after_model_quality"] = (
            stats["after_quality"] if quality_top_deciles is None else quality.count()
        )
    else:
        # placeholder keeps the stats key order; the real value is
        # filled from the observation right after the dedup stage's
        # materialization below
        stats["after_model_quality"] = -1

    if max_docs_per_source is not None:
        # domain-dominance guard (C4/RefinedWeb): cap docs per source
        # BEFORE the expensive stages; deterministic md5-rank selection
        from .operators.sampling import cap_per_group

        quality = cap_per_group(
            quality, source_col, id_col, int(max_docs_per_source), salt=salt
        ).localCheckpoint(eager=False)
        stats["after_source_cap"] = quality.count()

    if dsir_target_df is not None and dsir_keep is not None:
        # domain selection (DSIR, Xie et al. 2023): keep the dsir_keep
        # docs whose hashed n-gram bags look most like the target —
        # runs after the quality gates (score clean text) and before
        # dedup (shrink the corpus before the expensive stages)
        from .operators.sampling import dsir_select

        picked = dsir_select(
            quality.select(id_col, text_col), dsir_target_df, text_col, id_col, k=int(dsir_keep)
        ).select(id_col)
        quality = quality.join(picked, id_col, "left_semi").localCheckpoint(eager=False)
        stats["after_dsir"] = quality.count()

    exact = normalized_dedup(quality, text_col, id_col).localCheckpoint(eager=False)
    _n_exact = exact.count()
    if _mq_obs is not None:
        # the observed metric was computed by the count above (the
        # dedup plan contains the observe node); same value the
        # dedicated count produced, one fewer materialization
        stats["after_model_quality"] = int(_mq_obs.get["n"])
        if stats["after_model_quality"] < _n_exact:
            # exact dedup keeps a subset of the model-gate output, so a
            # smaller observed count means the metric did not resolve
            # (observe() reads 0 in some plan placements)
            raise RuntimeError(
                f"model-gate observation read {stats['after_model_quality']} rows, "
                f"below the {_n_exact} rows exact dedup kept from it"
            )
    stats["after_exact_dedup"] = _n_exact

    neardup = minhash_dedup(exact, id_col, text_col, threshold=neardup_threshold).localCheckpoint(eager=False)
    stats["after_neardup"] = neardup.count()

    if span_removal_k is not None:
        # span-level rewrite (Lee et al. ExactSubstr): cuts duplicated
        # cross-doc spans out of the surviving text — row count is
        # unchanged (monotone counts unaffected); the removed token
        # total is reported instead
        rewritten = remove_duplicated_spans(
            neardup, id_col, text_col, k=int(span_removal_k), min_span=span_removal_min
        ).localCheckpoint(eager=False)
        stats["span_tokens_removed"] = (
            rewritten.agg(F.sum("n_removed_tokens")).first()[0] or 0
        )
        neardup = rewritten.drop("n_tokens", "n_removed_tokens")

    if benchmark_df is not None:
        contaminated = contamination_flags(
            neardup, benchmark_df, text_col, id_col, n=contamination_n
        )
        decontaminated = neardup.join(contaminated, id_col, "left_anti")
    else:
        decontaminated = neardup

    # the split label is a pure single-pass projection (no shuffle, no
    # second read of its input), so the decontamination join and the
    # split share ONE materialization: the checkpointed ``clean`` IS
    # the decontaminated corpus plus a label column, and one aggregate
    # over it yields BOTH stage counts (guide §1.2 — don't run passes
    # you can fuse; this drops a full checkpoint pass + count job).
    clean = dataset_split(decontaminated, id_col, fractions, salt=salt).localCheckpoint(eager=False)
    _counts = clean.agg(
        F.count("*").alias("_n"),
        F.count(F.when(F.col("split") == "train", True)).alias("_tr"),
    ).first()
    stats["after_decontamination"] = _counts["_n"]
    train = clean.where(F.col("split") == "train")
    stats["train"] = _counts["_tr"]

    # mixture_temperature is total: an empty train split (or one whose
    # strata are all NULL) yields an empty schema-correct mixture, so
    # the pipeline never crashes mid-flight. Checkpointed: the mixture
    # feeds the stats count, pack_sequences AND the _mix table write.
    mixture = mixture_temperature(
        train.drop("split"),
        source_col,
        id_col,
        text_col,
        train_token_budget,
        alpha=mixture_alpha,
        salt=salt,
    ).localCheckpoint(eager=False)
    stats["mixture_docs"] = mixture.count()

    packed = pack_sequences(
        mixture.select(id_col, text_col), text_col, id_col, seq_len=seq_len, salt=salt
    )

    out: Dict[str, Any] = {"clean": clean, "mixture": mixture, "packed": packed, "stats": stats}
    if quality_bins is not None:
        out["quality_bins"] = quality_bins
    if catalog is not None and dest_prefix:
        from .schema import schema_from_spark

        for name, df in (("clean", clean), ("mix", mixture), ("packed", packed)):
            ident = f"{dest_prefix}_{name}"
            t = catalog.create_table_if_not_exists(ident, schema_from_spark(df.schema))
            t.overwrite(df)
            out[f"{name}_table"] = t
    return out


def curate_incremental(
    docs_table,
    from_snapshot_id: Optional[int] = None,
    existing_clean: Optional[DataFrame] = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    **curate_kwargs: Any,
) -> Dict[str, Any]:
    """Curate ONLY the documents appended to an engine table since a
    snapshot — the steady-state shape of a production corpus pipeline,
    where re-curating 100 TB for each day's 0.1 TB of new crawl is not
    an option.

    - ``docs_table`` is an engine Table; the new-docs frame is its
      ``incremental_append_scan(from_snapshot_id)`` (exactly the rows
      appended in ``(from_snapshot_id, current]`` — metadata-resolved,
      no diffing scan).
    - ``existing_clean`` (e.g. the previous run's ``clean`` table) makes
      dedup CROSS-BATCH: new docs whose normalized content digest
      already appears in the curated corpus are dropped before the
      in-batch pipeline runs — one semi-join keyed on the digest, which
      only ever touches the digest column of the existing corpus (a
      narrow scan at any corpus size). Near-dup/minhash state across
      batches is deliberately NOT rebuilt per increment: run the
      in-batch near-dup here and schedule periodic full-corpus sweeps
      (the standard bulk/incremental split).

    Returns ``curate_corpus``'s dict plus ``stats["new_docs"]`` and
    ``stats["after_cross_batch_dedup"]``, and ``last_snapshot_id`` —
    persist it and pass it back as ``from_snapshot_id`` next run.
    """
    snap = docs_table.current_snapshot()
    new_docs = docs_table.incremental_append_scan(from_snapshot_id).to_df()
    pre_stats: Dict[str, Any] = {"new_docs": new_docs.count()}

    if existing_clean is not None:
        norm = F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower(F.col(text_col)), r"[^a-z0-9\s]", ""), r"\s+", " "
            )
        )
        seen = existing_clean.select(F.md5(norm).alias("_digest")).distinct()
        new_docs = (
            new_docs.withColumn("_digest", F.md5(norm))
            .join(seen, "_digest", "left_anti")
            .drop("_digest")
            .localCheckpoint(eager=False)
        )
    pre_stats["after_cross_batch_dedup"] = new_docs.count()

    out = curate_corpus(new_docs, id_col=id_col, text_col=text_col, **curate_kwargs)
    out["stats"] = {**pre_stats, **out["stats"]}
    out["last_snapshot_id"] = snap.snapshot_id if snap else None
    return out
