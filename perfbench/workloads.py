"""The benchmark's workloads: seeded inputs, the fixture each builds
through the library's public API, the closed-loop ops, and the oracles
that check every op.

Each workload exposes ``build()`` (the fixture, timed as set-up),
``op(i)`` (returns an ``Op`` for the i-th call of the closed loop) and
``final_check()`` (run after the timed window). All inputs come from the
seed; the library only sees the generated tables and filters.
"""

from __future__ import annotations

import datetime as dt
import re
from dataclasses import dataclass
from typing import Any, Callable, Dict, List, Optional

import numpy as np
import pandas as pd

EPOCH = dt.date(1970, 1, 1)


@dataclass
class Op:
    cls: str
    run: Callable[[], Any]
    #: returns an error message for a wrong result, None when correct
    check: Callable[[Any], Optional[str]]
    #: rows (or documents) the op covers, for rows_per_s
    rows: Callable[[Any], int]


def _month_start(base_year: int, m: int) -> dt.date:
    return dt.date(base_year + m // 12, m % 12 + 1, 1)


def _gen_lineitem(rng: np.random.Generator, n: int, months: int, base_year: int, key0: int = 0,
                  first_month: int = 0) -> pd.DataFrame:
    month = rng.integers(first_month, months, n)
    starts = np.array([(_month_start(base_year, m) - EPOCH).days for m in range(months)])
    days = starts[month] + rng.integers(0, 28, n)
    return pd.DataFrame(
        {
            "orderkey": np.arange(key0, key0 + n, dtype=np.int64),
            "suppkey": rng.integers(1, 1001, n).astype(np.int64),
            "quantity": rng.integers(1, 51, n).astype(np.float64),
            "extendedprice": np.round(rng.uniform(900.0, 100000.0, n), 2),
            "discount": rng.integers(0, 11, n) / 100.0,
            "shipdate": pd.to_datetime(days, unit="D").date,
            "returnflag": rng.choice(np.array(["A", "N", "R"]), n),
        }
    )


def _lineitem_spark(spark, pdf: pd.DataFrame):
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("orderkey", T.LongType(), False),
            T.StructField("suppkey", T.LongType(), True),
            T.StructField("quantity", T.DoubleType(), True),
            T.StructField("extendedprice", T.DoubleType(), True),
            T.StructField("discount", T.DoubleType(), True),
            T.StructField("shipdate", T.DateType(), True),
            T.StructField("returnflag", T.StringType(), True),
        ]
    )
    return spark.createDataFrame(pdf, schema=schema)


def _days(pdf: pd.DataFrame) -> np.ndarray:
    return np.array([(d - EPOCH).days for d in pdf["shipdate"]], dtype=np.int64)


# -- scan_plan ----------------------------------------------------------------
class ScanPlan:
    """Many small files in many manifests; ops are mostly ``plan_files``.

    Fixture: a month(shipdate) x bucket[8](suppkey) table. The benchmark
    writes each partition's rows, sorted by quantity, as several small
    parquet files (so files have narrow quantity ranges), reads their
    footer stats with ``io.write.collect_file_stats`` and commits them in
    month order through ``Table.register_data_files``, one append per
    manifest. Filter families come in a fixed order and their values
    from the seed, over a space whose distinct file lists exceed the
    library's 256-entry read-plan cache; count and read ops use the
    selective families only."""

    name = "scan_plan"
    #: fixed class order, so every run spends the same share on each class
    cycle = ("plan",) * 9 + ("count",) + ("plan",) * 9 + ("read",)

    def __init__(self, spark, catalog, seed: int, rows: int = 120_000, months: int = 24,
                 records_per_file: int = 100, manifests: int = 12) -> None:
        self.spark, self.catalog = spark, catalog
        self.rng = np.random.default_rng([seed, 0])
        self.op_rng = np.random.default_rng([seed, 1])
        self.rows, self.months, self.rpf, self.n_manifests = rows, months, records_per_file, manifests
        self.base_year = 1995

    def build(self) -> None:
        import os

        import pyarrow as pa
        import pyarrow.parquet as pq
        from iceberg_python_spark import spec_from_names
        from iceberg_python_spark.io.write import collect_file_stats
        from iceberg_python_spark.schema import schema_from_spark

        pdf = _gen_lineitem(self.rng, self.rows, self.months, self.base_year)
        self.days = _days(pdf)
        self.supp = pdf["suppkey"].to_numpy()
        self.qty = pdf["quantity"].to_numpy()
        self.okey = pdf["orderkey"].to_numpy()
        schema = schema_from_spark(_lineitem_spark(self.spark, pdf.iloc[:1]).schema)
        spec = spec_from_names(schema, ("shipdate", "month"), ("suppkey", "bucket[8]"))
        self.catalog.create_namespace_if_not_exists("db")
        t = self.catalog.create_table("db.lineitem_scan", schema, partition_spec=spec)

        # partition tuple per row, through the table's own transforms
        fns = {pf.name: (schema.find_field(pf.source_id).name, pf.transform.transform(schema.find_field(pf.source_id).field_type))
               for pf in spec.fields}
        src = {"shipdate": self.days, "suppkey": self.supp}
        keys = {}
        for name, (col, fn) in fns.items():
            uniq, inv = np.unique(src[col], return_inverse=True)
            keys[name] = np.array([fn(int(v)) for v in uniq])[inv]
        names = list(fns)
        pdf = pdf.assign(_p0=keys[names[0]], _p1=keys[names[1]])
        paths, partitions = [], {}
        data_dir = os.path.join(t.location, "data")
        arrow_schema = pa.schema([
            ("orderkey", pa.int64()), ("suppkey", pa.int64()), ("quantity", pa.float64()),
            ("extendedprice", pa.float64()), ("discount", pa.float64()), ("shipdate", pa.date32()),
            ("returnflag", pa.string()),
        ])
        for (p0, p1), grp in pdf.sort_values(["_p0", "_p1", "quantity", "orderkey"]).groupby(["_p0", "_p1"], sort=True):
            d = os.path.join(data_dir, f"{names[0]}={p0}", f"{names[1]}={p1}")
            os.makedirs(d, exist_ok=True)
            body = grp.drop(columns=["_p0", "_p1"])
            for k in range(0, len(body), self.rpf):
                path = os.path.join(d, f"part-{k // self.rpf:05d}.parquet")
                pq.write_table(pa.Table.from_pandas(body.iloc[k:k + self.rpf], schema=arrow_schema,
                                                    preserve_index=False), path)
                paths.append(path)
                partitions[path] = {names[0]: int(p0), names[1]: int(p1)}
        # footer stats read on the driver, four files per call (larger
        # calls launch a Spark job per call)
        stats = {}
        for k in range(0, len(paths), 4):
            stats.update(collect_file_stats(self.spark, paths[k:k + 4], schema))
        files = [
            {"content": 0, "file_path": p, "file_format": "PARQUET", "spec_id": spec.spec_id,
             "schema_id": schema.schema_id, "partition": partitions[p], **stats[p]}
            for p in paths
        ]
        per = -(-len(files) // self.n_manifests)
        for k in range(0, len(files), per):
            t.register_data_files(files[k:k + per])

    #: filter family per plan op, in a fixed order that every op cycle
    #: repeats three times: two thirds prune to one or a few manifests,
    #: so the median plan sits among them
    PLAN_FAMILIES = ("point", "month", "qty", "point", "month", "none")
    #: count and read ops switch between the selective families every
    #: two cycles, so traced and untraced cycles get both
    READ_FAMILIES = ("point", "month")

    def _filter(self, fam: str, selective: bool):
        """(filter string or None, row mask) for ``fam``; values are
        drawn from the seed. Selective month filters span one month."""
        r = self.op_rng
        if fam == "none":
            return None, np.ones(len(self.days), dtype=bool)
        if fam in ("month", "point"):
            k = int(r.integers(1, 4)) if fam == "month" and not selective else 1
            m0 = int(r.integers(0, self.months - k + 1))
            lo, hi = _month_start(self.base_year, m0), _month_start(self.base_year, m0 + k)
            expr = f"shipdate >= '{lo}' and shipdate < '{hi}'"
            mask = (self.days >= (lo - EPOCH).days) & (self.days < (hi - EPOCH).days)
            if fam == "point":
                s = int(r.integers(1, 1001))
                expr = f"suppkey = {s} and {expr}"
                mask &= self.supp == s
            return expr, mask
        a = int(r.integers(1, 51))
        w = int(r.integers(0, 3))
        return f"quantity >= {a} and quantity <= {a + w}", (self.qty >= a) & (self.qty <= a + w)

    def warmup(self) -> List[Op]:
        return [self.op(-1, "read"), self.op(-2, "count")]

    def op(self, i: int, cls: Optional[str] = None) -> Op:
        cls = cls or self.cycle[i % len(self.cycle)]
        selective = cls != "plan"
        if selective:
            fam = self.READ_FAMILIES[(i // len(self.cycle) // 2) % len(self.READ_FAMILIES)]
        else:
            plans_before = self.cycle[: i % len(self.cycle)].count("plan")
            fam = self.PLAN_FAMILIES[plans_before % len(self.PLAN_FAMILIES)]
        expr, mask = self._filter(fam, selective)
        exact = int(mask.sum())

        def scan(expr=expr):
            # a query resolves its table through the catalog
            t = self.catalog.load_table("db.lineitem_scan")
            return t.scan(row_filter=expr) if expr else t.scan()

        if cls == "plan":
            def check(tasks, fam=fam, exact=exact):
                planned = sum(t.data_file["record_count"] for t in tasks)
                if fam in ("none", "month") and planned != exact:
                    return f"plan {fam}: {planned} rows planned, {exact} expected"
                if planned < exact:
                    return f"plan {fam}: {planned} rows planned < {exact} matching"
                return None

            return Op("plan", lambda: scan().plan_files(), check,
                      lambda tasks: sum(t.data_file["record_count"] for t in tasks))
        if cls == "count":
            return Op("count", lambda: scan().count(),
                      lambda n, exact=exact: None if n == exact else f"count {fam}: {n} != {exact}",
                      lambda n: n)
        key_sum = int(self.okey[mask].sum())

        def read():
            from pyspark.sql import Observation, functions as F

            obs = Observation()
            df = scan().to_df().observe(obs, F.count(F.lit(1)).alias("n"), F.sum("orderkey").alias("s"))
            df.write.format("noop").mode("overwrite").save()
            got = obs.get
            return int(got["n"]), int(got["s"] or 0)

        return Op("read", read,
                  lambda r, exact=exact, key_sum=key_sum: None if r == (exact, key_sum)
                  else f"read {fam}: (rows, key sum) {r} != {(exact, key_sum)}",
                  lambda r: r[0])

    def final_check(self) -> List[str]:
        return []


# -- ingest -------------------------------------------------------------------
class Ingest:
    """A seeded, fixed-order sequence of committing writes.

    Fixture: a month-partitioned table with identifier key ``orderkey``;
    keys follow ship date, so a key range sits in one or two partitions.
    Ops cycle append / copy-on-write delete / append / upsert. Appends
    spread 2,000 rows over every month (one file per month); deletes and
    upserts take disjoint key slots, so every op changes the table and
    both sides of an A/B pass the same table states. Upserts update 500
    existing rows and insert 500 into the two latest months. The default
    fixture has 16 key slots, enough for 8 deletes and 8 upserts (a
    window of about a minute); an op past that fails on the empty slot
    list."""

    name = "ingest"
    cycle = ("append", "delete", "append", "upsert")

    def __init__(self, spark, catalog, seed: int, rows: int = 16_000, months: int = 16,
                 batch: int = 2_000, delete_slot: int = 300, upsert_rows: int = 1_000) -> None:
        self.spark, self.catalog = spark, catalog
        self.rng = np.random.default_rng([seed, 0])
        self.op_rng = np.random.default_rng([seed, 1])
        self.rows, self.months, self.batch = rows, months, batch
        self.delete_slot, self.upsert_rows = delete_slot, upsert_rows
        self.base_year = 1992
        self.committed = 0

    def build(self) -> None:
        from iceberg_python_spark import Schema, spec_from_names
        from iceberg_python_spark.schema import schema_from_spark

        pdf = _gen_lineitem(self.rng, self.rows, self.months, self.base_year)
        pdf = pdf.sort_values(["shipdate", "orderkey"], kind="stable").reset_index(drop=True)
        pdf["orderkey"] = np.arange(self.rows, dtype=np.int64)
        self.model = pdf.set_index("orderkey", drop=False).rename_axis(None)
        self.next_key = self.rows
        base = schema_from_spark(_lineitem_spark(self.spark, pdf.iloc[:1]).schema)
        schema = Schema(*base.fields, schema_id=base.schema_id,
                        identifier_field_ids=[base.find_field("orderkey").field_id])
        spec = spec_from_names(schema, ("shipdate", "month"))
        self.catalog.create_namespace_if_not_exists("db")
        t = self.catalog.create_table("db.lineitem_ingest", schema, partition_spec=spec)
        t.append(_lineitem_spark(self.spark, pdf))
        self.table = self.catalog.load_table("db.lineitem_ingest")
        # disjoint key slots over the fixture keys: deletes and upserts
        # never touch a slot twice, so every op has rows to change
        slots = self.rng.permutation(self.rows // self.upsert_rows)
        self.delete_slots = list(slots[: len(slots) // 2])
        self.upsert_slots = list(slots[len(slots) // 2:])

    def _new_rows(self, n: int, first_month: int = 0) -> pd.DataFrame:
        pdf = _gen_lineitem(self.op_rng, n, self.months, self.base_year, key0=self.next_key,
                            first_month=first_month)
        self.next_key += n
        return pdf

    def warmup(self) -> List[Op]:
        # the fixture's own append has started the write path
        return []

    def op(self, i: int) -> Op:
        kind = self.cycle[i % len(self.cycle)]
        tbl = self.table
        if kind == "append":
            pdf = self._new_rows(self.batch)

            def run(pdf=pdf):
                tbl.append(_lineitem_spark(self.spark, pdf))
                self.model = pd.concat([self.model, pdf.set_index("orderkey", drop=False).rename_axis(None)])
                self.committed += 1

            return Op("append", run, lambda _: None, lambda _, n=len(pdf): n)
        if kind == "delete":
            slot = int(self.delete_slots.pop())
            lo = slot * self.upsert_rows + int(self.op_rng.integers(0, self.upsert_rows - self.delete_slot))
            hi = lo + self.delete_slot
            n_live = int(((self.model.index >= lo) & (self.model.index < hi)).sum())

            def run(lo=lo, hi=hi):
                tbl.delete(f"orderkey >= {lo} and orderkey < {hi}")
                self.model = self.model[(self.model.index < lo) | (self.model.index >= hi)]
                self.committed += 1

            return Op("delete", run, lambda _: None, lambda _, n=n_live: n)
        slot = int(self.upsert_slots.pop())
        half = self.upsert_rows // 2
        keys = np.arange(slot * self.upsert_rows, slot * self.upsert_rows + half)
        upd = self.model.loc[keys].copy()
        upd["extendedprice"] = np.round(upd["extendedprice"] + 1.0 + self.op_rng.integers(0, 100, len(upd)), 2)
        ins = self._new_rows(self.upsert_rows - half, first_month=self.months - 2)
        src = pd.concat([upd, ins]).reset_index(drop=True)

        def run(src=src, upd=upd, ins=ins):
            res = tbl.upsert(_lineitem_spark(self.spark, src), join_cols=["orderkey"])
            m = self.model.copy()
            m.loc[upd.index, "extendedprice"] = upd["extendedprice"].to_numpy()
            self.model = pd.concat([m, ins.set_index("orderkey", drop=False).rename_axis(None)])
            self.committed += 1
            return res

        return Op("upsert", run,
                  lambda r, nu=len(upd), ni=len(ins): None
                  if (r.rows_updated, r.rows_inserted) == (nu, ni)
                  else f"upsert: (updated, inserted) {(r.rows_updated, r.rows_inserted)} != {(nu, ni)}",
                  lambda _, n=len(src): n)

    def final_check(self) -> List[str]:
        errs = []
        t = self.catalog.load_table("db.lineitem_ingest")
        n_snap = len(t.snapshots())
        if n_snap != 1 + self.committed:
            errs.append(f"ingest: {n_snap} snapshots, expected {1 + self.committed}")
        got = t.scan().to_df().toPandas().sort_values("orderkey").reset_index(drop=True)
        want = self.model.sort_values("orderkey").reset_index(drop=True)
        if _frame_hash(got) != _frame_hash(want):
            errs.append(f"ingest: table contents differ from the op model ({len(got)} vs {len(want)} rows)")
        return errs


def _frame_hash(pdf: pd.DataFrame) -> int:
    cols = sorted(pdf.columns)
    norm = pdf[cols].copy()
    for c in cols:
        if norm[c].dtype == object:
            norm[c] = norm[c].astype(str)
    return int(pd.util.hash_pandas_object(norm, index=False).sum())


# -- curate -------------------------------------------------------------------
#: Gopher rules the generated text passes; word_count_ok drops the planted
#: short docs. (The combined default gate drops every generated doc.)
CURATE_FLAGS = (
    "word_count_ok",
    "mean_word_len_ok",
    "symbol_ratio_ok",
    "bullet_ratio_ok",
    "ellipsis_ratio_ok",
    "alpha_ratio_ok",
    "stopword_ok",
)
_STOP = ("the", "is", "to", "of", "and", "that", "have", "with")
_TOKEN = re.compile(r"[^a-z0-9\s]")


def _shingles(text: str, n: int = 3) -> set:
    toks = _TOKEN.sub(" ", text.lower()).split()
    return {" ".join(toks[i:i + n]) for i in range(max(len(toks) - n + 1, 1))}


def _jaccard(a: str, b: str) -> float:
    x, y = _shingles(a), _shingles(b)
    return len(x & y) / len(x | y)


def _words(rng: np.random.Generator, vocab: np.ndarray, n_words: int) -> List[str]:
    words = vocab[rng.integers(0, len(vocab), n_words)]
    stops = rng.choice(n_words, max(4, n_words // 8), replace=False)
    words[stops] = np.array(_STOP)[rng.integers(0, len(_STOP), len(stops))]
    return list(words)


def _text(words: List[str]) -> str:
    return "\n".join(" ".join(words[i:i + 15]) + "." for i in range(0, len(words), 15))


def make_corpus(rng: np.random.Generator, n: int, n_words: int):
    """Seeded documents plus the stage counts their planted defects fix:
    5% short docs, exact-duplicate families of 2-4 (case, punctuation and
    whitespace variants) and near-duplicate families of 2-3."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 9, 6000)
    vocab = np.array(sorted({"".join(rng.choice(letters, k)) for k in lens}))
    n_short = n // 20
    exact_fams = [int(s) for s in rng.integers(2, 5, n // 40)]
    near_fams = [int(s) for s in rng.integers(2, 4, n // 40)]
    n_single = n - n_short - sum(exact_fams) - sum(near_fams)
    texts = [_text(_words(rng, vocab, n_words)) for _ in range(n_single)]
    texts += [_text(_words(rng, vocab, int(rng.integers(20, 40)))) for _ in range(n_short)]
    for size in exact_fams:
        base = _text(_words(rng, vocab, n_words))
        texts.append(base)
        for k in range(size - 1):
            texts.append(base.upper() if k % 2 == 0 else base.replace(" ", "  ").replace(".", "!"))
    for size in near_fams:
        words = _words(rng, vocab, n_words)
        members = [_text(words)]
        # one changed word per member, at positions four or more words
        # apart, keeps every pair's 3-gram Jaccard >= 0.85
        for pos in rng.choice(np.arange(10, n_words - 10, 4), size - 1, replace=False):
            w = list(words)
            w[int(pos)] = "x" + w[int(pos)]
            members.append(_text(w))
        if any(_jaccard(a, b) < 0.85 for a in members for b in members if a is not b):
            raise RuntimeError("planted near-duplicate family below the 0.85 Jaccard floor")
        texts.extend(members)
    order = rng.permutation(len(texts))
    sources = np.array(["web", "books", "wiki", "forum"])
    pdf = pd.DataFrame(
        {
            "doc_id": np.arange(len(texts), dtype=np.int64),
            "text": [texts[j] for j in order],
            "source": sources[rng.integers(0, len(sources), len(texts))],
        }
    )
    dropped_exact = sum(s - 1 for s in exact_fams)
    expected = {
        "input": len(texts),
        "after_quality": len(texts) - n_short,
        "after_exact_dedup": len(texts) - n_short - dropped_exact,
        "after_neardup": len(texts) - n_short - dropped_exact - sum(s - 1 for s in near_fams),
    }
    return pdf, expected


class Curate:
    """The curation pipeline over a seeded synthetic corpus.

    Fixture: an Iceberg table of generated documents across four
    sources, with planted short docs (dropped by the word-count rule),
    exact-duplicate families (case/punctuation/whitespace variants) and
    near-duplicate families (one word swapped per member; 3-gram Jaccard
    >= 0.85 within a family, ~0 across). Each op runs ``curate_corpus``
    on a fresh scan and commits three result tables under a unique
    prefix."""

    name = "curate"
    cycle = ("curate",)

    def __init__(self, spark, catalog, seed: int, docs: int = 2_000, words: int = 120) -> None:
        self.spark, self.catalog = spark, catalog
        self.rng = np.random.default_rng([seed, 0])
        self.docs, self.words = docs, words
        self.first_stats: Optional[Dict[str, int]] = None

    def build(self) -> None:
        self.pdf, self.expected = make_corpus(self.rng, self.docs, self.words)
        from iceberg_python_spark.schema import schema_from_spark

        sdf = self.spark.createDataFrame(self.pdf, "doc_id long, text string, source string")
        self.catalog.create_namespace_if_not_exists("db")
        t = self.catalog.create_table("db.docs", schema_from_spark(sdf.schema))
        t.append(sdf)


    def warmup(self) -> List[Op]:
        return [self.op(-1)]

    def op(self, i: int) -> Op:
        from iceberg_python_spark.pipeline import curate_corpus

        def run():
            out = curate_corpus(
                self.catalog.load_table("db.docs").scan().to_df(),
                quality_flags=list(CURATE_FLAGS),
                train_token_budget=10 * self.docs * self.words,
                catalog=self.catalog,
                dest_prefix=f"db.cur{i + 1}",
            )
            return out["stats"]

        return Op("curate", run, self._check, lambda s: s["input"])

    def _check(self, stats: Dict[str, int]) -> Optional[str]:
        for k, v in self.expected.items():
            if stats.get(k) != v:
                return f"curate: stats[{k}] = {stats.get(k)}, planted {v}"
        if self.first_stats is None:
            self.first_stats = dict(stats)
        elif stats != self.first_stats:
            return f"curate: stats {stats} differ from the first op's {self.first_stats}"
        return None

    def final_check(self) -> List[str]:
        return []


WORKLOADS = {w.name: w for w in (ScanPlan, Ingest, Curate)}
