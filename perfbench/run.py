"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload scan_plan --seed 1 --seconds 20 --trace 0

Run from the root of a source checkout. The run starts one local[N]
Spark session (N = usable cores), builds the workload's fixture from the
seed (timed as ``setup_s``), runs the workload's ops in a closed loop
for ``--seconds``, checks every op against its oracle, and prints as its
last stdout line one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics``. ``--trace 0`` reports the end-to-end metrics; ``--trace
1`` wraps the library's layer entry points, enables the Spark event log,
traces alternate op cycles and reports the per-layer metrics. The line
before it is a JSON report with host state, wall-clock figures and
per-op-class medians.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from typing import Dict, List, Optional  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: end-to-end metrics (every workload reports all of them) and their
#: units. Wall-clock throughput and latency, and the driver's own CPU per
#: op, swing with host steal by more than a tenth between runs on a
#: shared VM, so they are in the report line only.
E2E_UNITS = {
    "setup_s": "s",
    "cpu_s_per_op": "s",
    "driver_peak_rss_mb": "MB",
}

#: per-layer metrics (the traced run reports all of them); units by suffix
def per_layer_units() -> Dict[str, str]:
    from tracing import OPERATORS, SPARK_METRICS

    names = [
        "catalog.load_calls", "catalog.load_ms", "catalog.commit_calls", "catalog.commit_ms",
        "catalog.commit_retries",
        "table.plan_self_ms", "table.files_total", "table.files_planned", "table.pruned_frac",
        "table.commit_snapshot_self_ms",
        "manifests.list_reads", "manifests.reads", "manifests.read_ms", "manifests.entries_read",
        "manifests.useful_frac", "manifests.writes", "manifests.write_ms", "manifests.live_count",
        "expressions.bind_ms", "expressions.eval_ms", "expressions.residual_calls",
        "io.write_ms", "io.files_written", "io.stats_ms", "io.stats_files",
        "fileio.calls", "fileio.ms",
        "read.df_build_ms", "read.plan_cache_hit_frac",
        *SPARK_METRICS,
        *[f"operators.{op}_{k}" for op in OPERATORS for k in ("ms", "calls")],
        "proc.driver_cpu_ms", "proc.jvm_cpu_ms",
        "trace.overhead_ms",
    ]
    return {n: _unit(n) for n in names}


def _unit(name: str) -> str:
    if name.endswith("ms"):
        return "ms"
    if name.endswith("_frac"):
        return "ratio"
    if name.endswith("_bytes"):
        return "bytes"
    return "count"


#: what a layer's metric must not silently read as zero on a workload
#: that exercises the layer. (curate runs no Python worker: its operators
#: are JVM built-ins and its commits read footers on the driver, so
#: spark.python_worker_ms is zero there; the fold's Python-worker key is
#: pinned by test_perfbench instead.)
MUST_BE_NONZERO = {
    "scan_plan": ("catalog.load_ms", "manifests.reads", "manifests.read_ms", "table.plan_self_ms",
                  "expressions.eval_ms", "read.df_build_ms", "spark.jobs"),
    "ingest": ("io.stats_ms", "io.files_written", "catalog.commit_calls", "manifests.writes",
               "spark.jobs"),
    "curate": ("operators.minhash_dedup_ms", "io.files_written", "catalog.commit_calls",
               "manifests.writes", "spark.jobs", "spark.executor_run_ms"),
}

#: fixture and op sizes for ``--size tiny`` (the smoke test); the full
#: sizes are the workload classes' defaults
TINY = {
    "scan_plan": {"rows": 4_000, "months": 6, "records_per_file": 100, "manifests": 4},
    "ingest": {"rows": 4_000, "months": 6, "batch": 200, "delete_slot": 30, "upsert_rows": 100},
    "curate": {"docs": 200},
}


def _pctl(xs: List[float], q: float) -> float:
    xs = sorted(xs)
    k = (len(xs) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def _overhead_ms(cycle, traced: Dict[str, List[float]], untraced: Dict[str, List[float]]) -> float:
    """Traced minus untraced median per op class, weighted by the class's
    share of the workload's op cycle."""
    both = [c for c in set(cycle) if traced.get(c) and untraced.get(c)]
    n = sum(cycle.count(c) for c in both)
    return sum(
        cycle.count(c) / n * (statistics.median(traced[c]) - statistics.median(untraced[c])) for c in both
    ) if n else 0.0


def main(argv: Optional[List[str]] = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "iceberg_python_spark")):
        print(f"perfbench: no iceberg_python_spark package under {ROOT}; run from a source checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # the short-lived launcher JVM of spark-submit, too
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    try:
        return _run(args, run_dir, out_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass


def _run(args, run_dir: str, out_dir: str) -> int:
    import host
    import tracing
    from workloads import WORKLOADS

    watch = host.HostWatch()
    cores = host.nproc()
    event_dir = os.path.join(run_dir, "events") if args.trace else None
    if event_dir:
        os.makedirs(event_dir)
    spark = host.start_session(run_dir, cores, event_dir)
    try:
        session_s = time.perf_counter() - T_START
        from iceberg_python_spark import SqliteCatalog

        catalog = SqliteCatalog("perfbench", os.path.join(run_dir, "warehouse"), spark)
        sizes = TINY[args.workload] if args.size == "tiny" else {}
        wl = WORKLOADS[args.workload](spark, catalog, args.seed, **sizes)
        wl.build()
        setup_s = time.perf_counter() - T_START
        procs = host.SparkProcs(host.jvm_pid())
        sc = spark.sparkContext

        errors: List[str] = []
        # untimed, checked ops: JIT, worker start-up and caches settle
        for warm in wl.warmup():
            sc.setJobGroup("perfbench-warmup", warm.cls)
            err = warm.check(warm.run())
            if err:
                errors.append("warm-up: " + err)

        tracer = tracing.Tracer()
        inst = tracing.install(tracer) if args.trace else None
        lat: Dict[str, List[float]] = {}
        traced_lat: Dict[str, List[float]] = {}
        walls: Dict[str, tuple] = {}
        attempted = failed = rows = 0
        cpu_drv = cpu_jvm = 0.0
        # driver CPU is the main thread's: py4j and JVM-facing helper
        # threads burn CPU per wall second, which steal stretches
        drv0 = time.thread_time()
        cpu0 = host.driver_cpu_s() + procs.jvm_cpu_s() + procs.workers_cpu_s()
        loop0 = time.perf_counter()
        i = 0
        while time.perf_counter() - loop0 < args.seconds:
            op = wl.op(i)
            # alternate whole op cycles, so both halves hold every class
            traced = bool(args.trace) and (i // len(wl.cycle)) % 2 == 0
            group = f"perfbench-{i}"
            sc.setJobGroup(group, op.cls)
            tracer.enabled, tracer.op_id = traced, i
            d0, j0 = time.thread_time(), procs.jvm_cpu_s()
            w0, t0 = time.time() * 1000.0, time.perf_counter()
            try:
                res = op.run()
                ok = True
            except Exception:  # noqa: BLE001 - a failed op is counted, the loop goes on
                ok = False
                errors.append(f"op {i} ({op.cls}) raised:\n{traceback.format_exc(limit=6)}")
            dt_ms = (time.perf_counter() - t0) * 1000.0
            w1 = time.time() * 1000.0
            tracer.enabled = False
            if traced:
                cpu_drv += time.thread_time() - d0
                cpu_jvm += procs.jvm_cpu_s() - j0
                walls[group] = (w0, w1)
            attempted += 1
            if ok:
                err = op.check(res)
                if err:
                    ok = False
                    errors.append(f"op {i}: {err}")
            if ok:
                (traced_lat if traced else lat).setdefault(op.cls, []).append(dt_ms)
                rows += op.rows(res)
            else:
                failed += 1
            i += 1
        loop_s = time.perf_counter() - loop0
        drv_s = time.thread_time() - drv0
        cpu_s = host.driver_cpu_s() + procs.jvm_cpu_s() + procs.workers_cpu_s() - cpu0
        if inst is not None:
            inst.uninstall()
        final_errs = wl.final_check()
        if final_errs:
            errors.extend(final_errs)
            failed = attempted
        completed = attempted - failed
    finally:
        host.stop_session(spark)

    correct = not errors
    all_lat = {c: lat.get(c, []) + traced_lat.get(c, []) for c in set(lat) | set(traced_lat)}
    report = {
        "workload": args.workload,
        "host": watch.state(args.seed),
        "cores": cores,
        "session_s": session_s,
        "fixture_s": setup_s - session_s,
        "loop_s": loop_s,
        "failed_frac": failed / attempted if attempted else 1.0,
        "ops_per_s": completed / loop_s,
        "op_ms.p50": statistics.median(x for v in all_lat.values() for x in v) if completed else None,
        "rows_per_s": rows / loop_s,
        "driver_cpu_ms_per_op": drv_s * 1000.0 / completed if completed else None,
        "ops": {c: {"n": len(v), "ms.p50": statistics.median(v), "ms.p90": _pctl(v, 0.9) if len(v) >= 100 else None}
                for c, v in sorted(all_lat.items()) if v},
        "errors": errors[:5],
    }
    if args.trace:
        n_traced = sum(len(v) for v in traced_lat.values())
        metrics = tracing.layer_metrics(tracer, n_traced)
        lines: List[str] = []
        for name in os.listdir(event_dir):
            with open(os.path.join(event_dir, name)) as f:
                lines.extend(f)
        folded = tracing.fold_event_log(lines, walls)
        for k in tracing.SPARK_METRICS:
            metrics[k] = sum(g[k] for g in folded.values()) / max(n_traced, 1)
        metrics["proc.driver_cpu_ms"] = cpu_drv * 1000.0 / max(n_traced, 1)
        metrics["proc.jvm_cpu_ms"] = cpu_jvm * 1000.0 / max(n_traced, 1)
        metrics["trace.overhead_ms"] = _overhead_ms(wl.cycle, traced_lat, lat)
        zero = [k for k in MUST_BE_NONZERO.get(args.workload, ()) if not metrics.get(k)]
        if zero:
            correct = False
            report["errors"].append(f"layer metrics read zero on a layer this workload exercises: {zero}")
        report["spans"] = len(tracer.spans)
        report["spans_dropped"] = tracer.dropped
        tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
        units = per_layer_units()
    else:
        metrics = {
            "setup_s": setup_s,
            "cpu_s_per_op": cpu_s / max(completed, 1),
            "driver_peak_rss_mb": host.driver_peak_rss_mb(),
        }
        units = E2E_UNITS
    result = {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }
    with open(os.path.join(out_dir, f"{args.workload}-{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump({"report": report, "result": result}, f, indent=1)
    if not correct:
        for e in report["errors"]:
            print(e, file=sys.stderr)
    print(json.dumps({"report": report}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
