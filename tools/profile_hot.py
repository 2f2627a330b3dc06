"""Profile declared queries in isolation (guide §1): time each named
query via the noop sink on an idle session and write its
.explain("formatted") to plans/r<round>/<name>_<tag>.txt, where the
round is the one after the latest committed CORRECTNESS_r*.json (see
rotation_state.py), so a re-run never overwrites an earlier round's
plans.

Usage:
  python tools/profile_hot.py [--tag before|after] [--reps N] [--no-plans] name [name ...]

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32).
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--no-plans", action="store_true")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from host_memory import driver_memory
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("profile_hot")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory(48))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    import __spark_entry__ as entry

    t0 = time.time()
    entry._wh(spark, sf_dir)
    print(f"# load {time.time() - t0:.1f}s", file=sys.stderr)

    from rotation_state import correctness_history

    qs = entry.queries()
    plans_dir = os.path.join(root, "plans", f"r{max(correctness_history()) + 1}")
    os.makedirs(plans_dir, exist_ok=True)

    out: dict = {}
    for name in args.names:
        fn = qs.get(name)
        if fn is None:
            print(f"# unknown query {name}", file=sys.stderr)
            continue
        times = []
        for rep in range(args.reps):
            spark.sparkContext.setJobDescription(f"{name} rep{rep}")
            t1 = time.time()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            times.append(round(time.time() - t1, 3))
            if rep == 0 and not args.no_plans:
                try:
                    plan = df._jdf.queryExecution().explainString(
                        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
                    )
                    with open(os.path.join(plans_dir, f"{name}_{args.tag}.txt"), "w") as f:
                        f.write(plan)
                except Exception as e:
                    print(f"# plan capture failed for {name}: {e}", file=sys.stderr)
            del df
            gc.collect()
            spark.catalog.clearCache()
        out[name] = times
        print(json.dumps({name: times}), flush=True)
    print(json.dumps({"tag": args.tag, "times": out}))


if __name__ == "__main__":
    main()
