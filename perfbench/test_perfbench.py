"""Tests of the benchmark itself (not of the library).

    python3 -m pytest perfbench/test_perfbench.py -q

The event-log and smoke tests start Spark; the smoke tests run every
workload at its tiny size on a fixed seed, in both modes, and take a few
minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import tracing  # noqa: E402
import workloads  # noqa: E402

SMOKE_SEED = 7


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_tracer_self_time_and_layer_dedup():
    tr = tracing.Tracer()
    tr.enabled = True

    def leaf(x):
        return x + 1

    w_leaf = tracing._wrapper(tr, "leaf", "L", leaf, None)

    def inner(x):
        return w_leaf(x) + w_leaf(x)

    w_inner = tracing._wrapper(tr, "inner", "L", inner, None)

    def outer(x):
        return w_inner(x) * 2

    w_outer = tracing._wrapper(tr, "outer", "O", outer, None)
    tr.op_id = 3
    assert w_outer(1) == 8
    assert tr.calls == {"leaf": 2, "inner": 1, "outer": 1}
    # nested same-layer spans count once at the layer level
    assert tr.layer_s["L"] == pytest.approx(tr.total_s["inner"])
    assert tr.self_s["outer"] == pytest.approx(tr.total_s["outer"] - tr.total_s["inner"])
    assert tr.self_s["inner"] == pytest.approx(tr.total_s["inner"] - tr.total_s["leaf"])
    names = [s[0] for s in tr.spans]
    assert names == ["outer", "inner", "leaf", "leaf"]
    assert [s[3] for s in tr.spans] == [-1, 0, 1, 1]
    assert all(s[4] == 3 and s[2] >= s[1] for s in tr.spans)
    tr.enabled = False
    w_outer(1)
    assert tr.calls["outer"] == 1


def test_union_of_job_intervals():
    assert tracing._union_ms([(0, 10), (5, 15), (20, 30)]) == 25
    assert tracing._union_ms([]) == 0


def test_fold_event_log_of_a_tiny_query(tmp_path):
    """Job, stage and task counts and the Python-worker keys of a small
    run under job groups, folded from Spark's event log."""
    import host

    events = tmp_path / "events"
    events.mkdir()
    spark = host.start_session(str(tmp_path), 2, str(events))
    try:
        from pyspark.sql import functions as F
        from pyspark.sql.functions import pandas_udf

        sc = spark.sparkContext
        walls = {}

        def timed(group, fn):
            import time

            sc.setJobGroup(group, group)
            t0 = time.time() * 1000
            fn()
            walls[group] = (t0, time.time() * 1000)

        timed("rdd", lambda: sc.parallelize(range(100), 4).map(lambda x: x * 2).sum())

        @pandas_udf("long")
        def plus1(s):
            return s + 1

        timed("udf", lambda: spark.range(1000).select(plus1("id").alias("v")).agg(F.sum("v")).collect())
        timed("jvm", lambda: spark.range(10).count())
    finally:
        host.stop_session(spark)
    lines = [ln for f in events.iterdir() for ln in f.open()]
    out = tracing.fold_event_log(lines, walls)
    rdd, udf, jvm = out["rdd"], out["udf"], out["jvm"]
    assert (rdd["spark.jobs"], rdd["spark.stages"], rdd["spark.tasks"]) == (1, 1, 4)
    assert rdd["spark.python_worker_ms"] > 0  # PythonRDD stage
    assert udf["spark.jobs"] >= 1 and udf["spark.python_worker_ms"] > 0 and udf["spark.python_bytes"] > 0
    assert jvm["spark.jobs"] >= 1 and jvm["spark.python_worker_ms"] == 0
    for g in out.values():
        assert 0 < g["spark.job_ms"] and g["spark.driver_only_ms"] >= 0


def test_inputs_come_from_the_seed():
    a = workloads._gen_lineitem(np.random.default_rng([5, 0]), 500, 6, 1995)
    b = workloads._gen_lineitem(np.random.default_rng([5, 0]), 500, 6, 1995)
    c = workloads._gen_lineitem(np.random.default_rng([6, 0]), 500, 6, 1995)
    assert a.equals(b) and not a.equals(c)
    p1, e1 = workloads.make_corpus(np.random.default_rng([5, 0]), 400, 120)
    p2, e2 = workloads.make_corpus(np.random.default_rng([5, 0]), 400, 120)
    assert p1.equals(p2) and e1 == e2
    assert e1["input"] == 400 and e1["after_neardup"] < e1["after_exact_dedup"] < e1["after_quality"] < 400


def _run(workload: str, trace: int) -> dict:
    bench = _bench()
    cmd = bench["command"] + ["--workload", workload, "--seed", str(SMOKE_SEED), "--seconds", "2",
                              "--trace", str(trace), "--size", "tiny"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in _bench()["workloads"]] + ["ingest"])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_every_metric_present_with_unit(workload, trace):
    if workload == "ingest" and trace == 1:
        pytest.skip("ingest is not a listed workload; its untraced run covers its checks")
    res = _run(workload, trace)
    bench = _bench()
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in bench["end_to_end" if trace == 0 else "per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(isinstance(v["value"], float) for v in res["metrics"].values())
    if trace == 0:
        assert all(v["value"] > 0 for v in res["metrics"].values())


def test_refuses_to_run_without_the_library(tmp_path):
    """In a directory holding only the benchmark, it exits non-zero and
    prints no result."""
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    bench = _bench()
    proc = subprocess.run(bench["command"] + ["--workload", "scan_plan", "--seed", "1", "--seconds", "1",
                                              "--trace", "0"], cwd=tmp_path, capture_output=True, text=True,
                          timeout=120)
    assert proc.returncode != 0 and proc.stdout == ""
