"""Scan-planning / append / pruning benchmark — the three metrics the
reference's own harness watches (BASELINE.md): (a) planning time vs
file count, (b) partitioned-append throughput with stats collection,
(c) pruning effectiveness (files skipped / files total).

Builds a many-file partitioned table from sf0.01 lineitem (one file per
(month, bucket) via maxRecordsPerFile), then times:

- append wall-time + rows/sec (fan-out write + footer stats + commit)
- plan_files() for a partition-aligned filter, a stats-aligned filter,
  and no filter — driver loop AND distributed planner paths, each timed
  cold (manifest decode cache cleared, so every manifest and manifest
  list is read and decoded) and warm (cache kept), medians of three, so
  the cache cannot hide a decode regression
- pruning fraction for each
- for a partition-aligned read, the ``to_df()`` build time and the
  number of Spark jobs the build plus a ``noop`` write run: one, the
  read itself; a second would be Spark's parallel file listing, which
  a planned read must never launch. The read spans a year (~96 files),
  since the three-month filter above names fewer files than Spark's
  32-path listing threshold and so could never show the listing job

Prints one JSON line; run standalone, not inside bench.py (it mutates
its own scratch warehouse).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import tempfile
import time


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "16")
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from iceberg_python_spark import SqliteCatalog, spec_from_names
    from iceberg_python_spark.schema import schema_from_spark
    from iceberg_python_spark.table.manifests import clear_decode_cache

    wh = tempfile.mkdtemp(prefix="ips_planbench_")
    cat = SqliteCatalog("planbench", wh, spark)
    raw = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    n_rows = raw.count()
    schema = schema_from_spark(raw.schema)
    spec = spec_from_names(schema, ("l_shipdate", "month"), ("l_suppkey", "bucket[8]"))
    t = cat.create_table(
        "db.lineitem_many_files",
        schema,
        partition_spec=spec,
        properties={"write.parquet.max-records-per-file": "1000"},
    )

    t0 = time.time()
    t.append(raw)
    append_sec = round(time.time() - t0, 3)
    t = t.refresh()
    files_total = len(list(t.scan().plan_files()))

    # throughput-shaped append (default file sizing) for a fair rows/sec;
    # the many-files table above deliberately stresses planning, not IO
    tn = cat.create_table("db.lineitem_throughput", schema, partition_spec=spec_from_names(schema, ("l_shipdate", "month")))
    t0 = time.time()
    tn.append(raw)
    append_normal_sec = round(time.time() - t0, 3)

    def plan(row_filter, distributed: bool):
        # the planner switches to the distributed Spark job above
        # read.plan.distributed-threshold manifest entries; 0 forces it
        t.set_properties({"read.plan.distributed-threshold": "0" if distributed else "200000"})
        tt = t.refresh()
        scan = tt.scan(row_filter=row_filter) if row_filter else tt.scan()

        def median_ms(cold: bool) -> float:
            walls = []
            for _ in range(3):
                if cold:
                    clear_decode_cache()
                t1 = time.perf_counter()
                scan.plan_files()
                walls.append(time.perf_counter() - t1)
            return round(statistics.median(walls) * 1000, 1)

        cold_ms = median_ms(cold=True)
        return cold_ms, median_ms(cold=False), len(scan.plan_files())

    filters = {
        "none": None,
        "partition_aligned": "l_shipdate >= '1996-01-01' and l_shipdate < '1996-04-01'",
        "stats_aligned": "l_quantity > 49.5",
        "point": "l_suppkey = 17 and l_shipdate >= '1996-01-01' and l_shipdate < '1996-02-01'",
    }
    out = {
        "rows": n_rows,
        "files_total": files_total,
        "append_many_files_sec": append_sec,
        "append_normal_sec": append_normal_sec,
        "append_rows_per_sec": round(n_rows / append_normal_sec, 1),
        "plans": {},
    }
    for name, f in filters.items():
        for dist in (False, True):
            key = f"{name}_{'dist' if dist else 'driver'}"
            try:
                cold_ms, warm_ms, n = plan(f, dist)
            except Exception as e:  # noqa: BLE001
                out["plans"][key] = {"err": f"{type(e).__name__}: {str(e)[:80]}"}
                continue
            out["plans"][key] = {
                "cold_ms": cold_ms,
                "warm_ms": warm_ms,
                "files_matched": n,
                "pruned_frac": round(1 - n / max(files_total, 1), 4),
            }
    t.set_properties({"read.plan.distributed-threshold": "200000"})
    out["partition_aligned_read"] = aligned_read(
        spark, t.refresh(), "l_shipdate >= '1996-01-01' and l_shipdate < '1997-01-01'"
    )
    print(json.dumps(out))


def aligned_read(spark, table, row_filter: str) -> dict:
    """Files read, ``to_df()`` build ms and the Spark jobs of build +
    ``noop`` write, counted in a job group of their own."""
    n_files = len(table.scan(row_filter=row_filter).plan_files())
    sc = spark.sparkContext
    group = "bench-planning-aligned-read"
    sc.setJobGroup(group, "partition-aligned read")
    try:
        t0 = time.perf_counter()
        df = table.scan(row_filter=row_filter).to_df()
        build_ms = round((time.perf_counter() - t0) * 1000, 1)
        df.write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return {
        "files": n_files,
        "to_df_ms": build_ms,
        "spark_jobs": len(sc.statusTracker().getJobIdsForGroup(group)),
        "partitions": df.rdd.getNumPartitions(),
    }


if __name__ == "__main__":
    main()
