"""Integer-micro PageRank: exact reference equality and guards."""

import pytest

from iceberg_python_spark.operators.graph import pagerank

SCALE = 1_000_000


def _ref_pagerank(edges, iterations=5, damping=850_000):
    edges = sorted(set(edges))
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    outdeg = {}
    for u, _ in edges:
        outdeg[u] = outdeg.get(u, 0) + 1
    pr = {n: SCALE for n in nodes}
    for _ in range(iterations):
        inflow = {n: 0 for n in nodes}
        for u, v in edges:
            inflow[v] += (pr[u] * damping) // (SCALE * outdeg[u])
        pr = {n: (SCALE - damping) + inflow[n] for n in nodes}
    return pr


def test_pagerank_matches_integer_reference(spark):
    edges = [
        (1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (4, 1), (5, 4), (3, 3),
        (6, 1),  # 6 has out-edges but no in-edges; 2 is a relative sink
    ]
    df = spark.createDataFrame(edges + edges[:3], "src long, dst long")  # dup edges collapse
    got = {r["node"]: r["pr_micro"] for r in pagerank(df, "src", "dst").collect()}
    assert got == _ref_pagerank(edges)
    # authority ordering: 3 (most in-links incl. self-loop) tops 2
    assert got[3] > got[2] > got[6]


def test_pagerank_hub_and_guards(spark):
    # star graph: everything points at 0
    edges = [(i, 0) for i in range(1, 9)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["pr_micro"] for r in pagerank(df, "src", "dst", iterations=3).collect()}
    assert got == _ref_pagerank(edges, iterations=3)
    assert got[0] > max(got[i] for i in range(1, 9))
    with pytest.raises(ValueError, match="iterations"):
        pagerank(df, "src", "dst", iterations=0)
    with pytest.raises(ValueError, match="damping"):
        pagerank(df, "src", "dst", damping_micro=2_000_000)


def test_pagerank_iteration_runs_two_shuffles(spark, monkeypatch):
    """Each iteration's plan shuffles at most twice (the rank join's
    one side and the inflow groupBy): the out-degree is pre-joined
    once, and the loop runs in the caller's session with no
    repartition of its own."""
    import re

    from pyspark.sql import functions as F

    # built from range so the planner knows the input sizes, as it does
    # for table scans (a parallelized list plans every join as a shuffle)
    edges = [(i, (i * 7 + 3) % 50) for i in range(200)]
    df = spark.range(200).select(
        F.col("id").alias("src"), ((F.col("id") * 7 + 3) % 50).alias("dst")
    )
    plans = []
    frame_cls = type(df)
    checkpoint = frame_cls.localCheckpoint

    def recording(self, *a, **kw):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return checkpoint(self, *a, **kw)

    monkeypatch.setattr(frame_cls, "localCheckpoint", recording)
    got = {r["node"]: r["pr_micro"] for r in pagerank(df, "src", "dst", iterations=3).collect()}
    assert got == _ref_pagerank(edges, iterations=3)
    # three setup checkpoints (edges, edges + degree, nodes), then one
    # per iteration
    assert len(plans) == 6, len(plans)
    shuffles = [len(re.findall(r"(?<!Broadcast)Exchange \w", p)) for p in plans[3:]]
    assert all(1 <= n <= 2 for n in shuffles), (shuffles, plans[-1])
