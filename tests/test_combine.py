"""Combined registry rows compose their one-row claim frames one way:
``__spark_entry__._combine`` collects each claim frame inside its
``_overlap`` thread and appends its columns as typed literals.

- ``_combine`` gives the same column names, types and values as the
  ``crossJoin(F.broadcast(...))`` composition it replaced, with and
  without a multi-row grain frame.
- A claim frame that does not hold exactly one row raises.
- A claims-only combine plans no join and no broadcast exchange.
- An AST guard keeps ``crossJoin(F.broadcast(...))`` out of every
  ``_q_*_combined`` builder."""

import ast
import datetime
import pathlib
import sys
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

ROOT = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

import __spark_entry__ as entry  # noqa: E402


def _claim_builders(spark):
    counts = lambda: spark.range(10).agg(  # noqa: E731
        F.count("*").cast("long").alias("n"), (F.sum("id") > 5).alias("ok")
    )
    mixed = lambda: spark.range(1).select(  # noqa: E731
        F.lit(0.1).alias("x"),
        F.lit("s").alias("s"),
        F.lit(Decimal("1.25")).cast("decimal(10,2)").alias("d"),
        F.lit(None).cast("int").alias("missing"),
        F.lit(datetime.date(2024, 2, 29)).alias("day"),
        F.lit(datetime.datetime(2024, 2, 29, 12, 30, 1, 5)).alias("ts"),
        F.array(F.lit(1), F.lit(2)).cast("array<bigint>").alias("arr"),
    )
    return {"a_": counts, "b_": mixed}


def _schema(df):
    return [(f.name, f.dataType) for f in df.schema.fields]


def _crossjoined(base, claims):
    for p, build in claims.items():
        base = base.crossJoin(F.broadcast(entry._prefixed(build(), p)))
    return base


def test_combine_matches_crossjoin_composition(spark):
    claims = _claim_builders(spark)
    first, *rest = claims.items()
    want = _crossjoined(entry._prefixed(first[1](), first[0]), dict(rest))
    got = entry._combine(spark, claims)
    assert _schema(got) == _schema(want)
    assert got.collect() == want.collect()

    grain = spark.range(3).select(F.col("id").alias("k"), (F.col("id") * 2.5).alias("v"))
    want = _crossjoined(grain, claims)
    got = entry._combine(spark, claims, grain=lambda: grain)
    assert _schema(got) == _schema(want)
    assert sorted(got.collect()) == sorted(want.collect())
    assert got.count() == 3


@pytest.mark.parametrize("n_rows", [0, 2])
def test_combine_rejects_claim_frame_without_one_row(spark, n_rows):
    claims = {**_claim_builders(spark), "bad_": lambda: spark.range(n_rows)}
    with pytest.raises(ValueError, match=f"'bad_' has {n_rows} rows, expected 1"):
        entry._combine(spark, claims)


def test_claims_only_combine_plans_no_join(spark):
    claims = _claim_builders(spark)
    first, *rest = claims.items()
    joined = _crossjoined(entry._prefixed(first[1](), first[0]), dict(rest))
    # the composition it replaces plans a broadcast join: the check reads the plan
    joined_plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Join" in joined_plan and "BroadcastExchange" in joined_plan
    plan = entry._combine(spark, claims)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "BroadcastExchange" not in plan, plan


def _broadcast_crossjoins(tree: ast.AST):
    """``function:line`` for every ``crossJoin`` call with an
    ``F.broadcast(...)`` (or bare ``broadcast(...)``) argument inside a
    ``_q_*_combined`` function, nested functions and lambdas included."""
    out = []
    for fn in ast.walk(tree):
        if not (
            isinstance(fn, ast.FunctionDef)
            and fn.name.startswith("_q_")
            and fn.name.endswith("_combined")
        ):
            continue
        for node in ast.walk(fn):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "crossJoin"
                and any(
                    isinstance(a, ast.Call)
                    and getattr(a.func, "attr", getattr(a.func, "id", None)) == "broadcast"
                    for a in node.args
                )
            ):
                out.append(f"{fn.name}:{node.lineno}")
    return out


def test_combined_rows_never_crossjoin_a_broadcast():
    tree = ast.parse((ROOT / "__spark_entry__.py").read_text())
    combined = [
        n.name
        for n in ast.walk(tree)
        if isinstance(n, ast.FunctionDef) and n.name.startswith("_q_") and n.name.endswith("_combined")
    ]
    assert len(combined) >= 6, combined  # the guard still finds the builders
    assert _broadcast_crossjoins(tree) == []


def test_guard_flags_broadcast_crossjoin_in_combined_rows():
    snippet = (
        "def _q_x_combined(spark, env):\n"
        "    a = env['a'].crossJoin(F.broadcast(env['b']))\n"
        "    def inner():\n"
        "        return a.crossJoin(broadcast(env['c']))\n"
        "    return inner()\n"
        "def _q_y_combined(spark, env):\n"
        "    return env['a'].crossJoin(env['b']).join(F.broadcast(env['c']), 'k')\n"
        "def _q_other(spark, env):\n"
        "    return env['a'].crossJoin(F.broadcast(env['b']))\n"
    )
    assert _broadcast_crossjoins(ast.parse(snippet)) == ["_q_x_combined:2", "_q_x_combined:4"]


def test_overlap_threads_inherit_job_tags(spark):
    """Each ``_overlap`` thread carries the caller's job tags, so jobs it
    runs stay attributable, and wrapping the thunks raises no
    missing-session warning."""
    import warnings

    spark.addTag("overlap-probe")
    try:
        with warnings.catch_warnings():
            warnings.simplefilter("error", UserWarning)
            seen = entry._overlap(lambda: set(spark.getTags()), lambda: set(spark.getTags()))
    finally:
        spark.removeTag("overlap-probe")
    assert all("overlap-probe" in tags for tags in seen), seen
