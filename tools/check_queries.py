"""Side-by-side Spark-vs-DuckDB check of ``__spark_entry__`` queries with
the driver's correctness semantics: equal row count, equal column names,
and equal SHA-256 over every cell's ``str()`` with columns sorted by
name and rows sorted. Row and column order do not matter; any changed
cell does (there is no float tolerance). Prints one line per query with
the seconds it took. Usage:

    python tools/check_queries.py [sf_dir] [query ...]

No query names = every oracled query. Exits 1 if any query fails.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings")


def _hash_df(pdf) -> str:
    pdf = pdf[sorted(pdf.columns)]
    rows = sorted(tuple(str(v) for v in r) for r in pdf.itertuples(index=False, name=None))
    h = hashlib.sha256()
    for r in rows:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def compare(sdf, odf) -> tuple[bool, bool, bool]:
    """(rows match, column names match, value hash matches) of two
    pandas frames; the hash is only compared when rows and names match."""
    ok_rows = len(sdf) == len(odf)
    ok_cols = sorted(sdf.columns) == sorted(odf.columns)
    ok_hash = ok_rows and ok_cols and _hash_df(sdf) == _hash_df(odf)
    return ok_rows, ok_cols, ok_hash


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from host_memory import driver_memory
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[16]")
        .config("spark.driver.memory", driver_memory(16))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    import duckdb

    import __spark_entry__ as entry

    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    names = sys.argv[2:] or [n for n in qs if n in oracles]
    failed = []
    t0 = time.time()
    for name in names:
        try:
            t1 = time.time()
            sdf = qs[name](spark, sf_dir).toPandas()
            dt = time.time() - t1
            odf = con.execute(oracles[name]).df()
            ok_rows, ok_cols, ok_hash = compare(sdf, odf)
            status = "PASS" if ok_hash else "FAIL"
            print(
                f"{status} {name} {dt:.1f}s: spark={len(sdf)} oracle={len(odf)} cols={ok_cols} hash={ok_hash}",
                flush=True,
            )
            if status == "FAIL":
                failed.append(name)
        except Exception as e:
            print(f"ERROR {name}: {type(e).__name__}: {str(e)[:300]}", flush=True)
            failed.append(name)
    print(f"{len(names)} queries, {len(failed)} failing, total {time.time() - t0:.0f}s")
    print("FAILED:", failed if failed else "none")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
