"""Small driver-side row sets as Arrow-backed local relations.

``spark.createDataFrame(list_of_tuples, schema)`` compiles to a
``parallelize`` Python RDD with ``defaultParallelism`` slices: every
materialization of any plan containing it round-trips through that many
Python worker tasks (measured ~0.4-5s per evaluation on local[32] for a
ONE-row frame). Routing the same rows through a pandas frame takes the
Arrow conversion path instead, which lands in the JVM as a plain local
relation — zero Python work at execution time (guide §4: keep tiny
driver-side rows off the Python boundary).

Falls back to the row path when Arrow conversion is unavailable (e.g.
a session without pyarrow); results are identical either way.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager
from typing import Iterable, Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession

#: serializes scaled-shuffle sections across driver threads: the
#: session conf is GLOBAL, so two overlapped builds interleaving
#: set/restore would leak a scaled partition count to the rest of the
#: session (combined registry rows build independent sub-frames on
#: concurrent driver threads)
_SCALED_SHUFFLE_LOCK = threading.RLock()


@contextmanager
def scaled_shuffle(spark: SparkSession, n_keys: int, per_partition: int = 1) -> Iterator[int]:
    """Temporarily size ``spark.sql.shuffle.partitions`` from the DATA
    (guide §2: scale-adaptive partitioning, not a constant tuned for
    either local mode or the cluster): ``ceil(n_keys / per_partition)``
    clamped to ``[2, current session width]``. The session width stays
    the upper bound, so on a real cluster the same derivation widens
    with the configured parallelism while tiny scenarios stop paying
    for dozens of near-empty partitions.

    This is the library's ONE conf-scoped width mechanism, and it
    exists for streaming state stores: their partition count is fixed
    when the query starts (each state partition costs a state-store
    commit + a Python round trip per micro-batch), so AQE cannot
    coalesce it afterwards. Batch loops (connected components,
    pagerank) need no width of their own: they run in their input's
    session and AQE coalescing sizes each round's reduce side. The
    lock serializes set/restore against sibling driver threads, so
    scaled sections are overlap-safe by construction."""
    per = max(int(per_partition), 1)
    with _SCALED_SHUFFLE_LOCK:
        old = spark.conf.get("spark.sql.shuffle.partitions")
        parts = max(2, min(int(old), (int(n_keys) + per - 1) // per))
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        try:
            yield parts
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)


def local_rows_df(spark: SparkSession, rows: Sequence[Iterable], schema) -> DataFrame:
    """Build a DataFrame from a small driver-side list of row tuples.

    ``schema`` is a DDL string or StructType; columns map positionally,
    exactly like ``createDataFrame(rows, schema)``."""
    if not rows:
        return spark.createDataFrame([], schema)
    try:
        import pandas as pd

        pdf = pd.DataFrame([list(r) for r in rows], dtype=object)
        return spark.createDataFrame(pdf, schema)
    except Exception:
        return spark.createDataFrame([tuple(r) for r in rows], schema)
