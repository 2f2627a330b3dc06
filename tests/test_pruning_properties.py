"""Property-based soundness tests for the metadata evaluators.

The invariants that make pruning safe (SURVEY.md §7 watch-list item 4):

- inclusive metrics evaluator: if a file contains ANY row matching the
  predicate, the evaluator must say might-match (false negatives lose
  rows silently);
- strict metrics evaluator: if it says must-match, EVERY row matches
  (false positives delete live rows in metadata-only deletes);
- inclusive partition projection: any row's partition tuple must satisfy
  the projected partition predicate whenever the row satisfies the
  original predicate;
- residual: AlwaysTrue residual ⇒ every row in the partition matches;
  AlwaysFalse ⇒ none do.

Pure-Python checks over generated data (no Spark), so hypothesis can run
hundreds of cases quickly.
"""

import math

import pytest
from hypothesis import given, settings, strategies as st

from iceberg_python_spark import types as it
from iceberg_python_spark.expressions import UnboundPredicate, bind
from iceberg_python_spark.expressions.visitors import (
    expression_evaluator,
    inclusive_metrics_evaluator,
    residual,
    strict_metrics_evaluator,
)
from iceberg_python_spark.partitioning import spec_from_names
from iceberg_python_spark.schema import Schema
from iceberg_python_spark.transforms import BucketTransform, MonthTransform, TruncateTransform

SCHEMA = Schema(
    it.NestedField(1, "x", it.LongType()),
    it.NestedField(2, "s", it.StringType()),
)

values = st.one_of(st.none(), st.integers(min_value=-1000, max_value=1000))
strings = st.one_of(st.none(), st.text(alphabet="abcxyz", min_size=0, max_size=6))

ops_binary = st.sampled_from(["eq", "not_eq", "lt", "lt_eq", "gt", "gt_eq"])


def _file_stats(xs, ss):
    non_null_x = [v for v in xs if v is not None]
    non_null_s = [v for v in ss if v is not None]
    stats = {
        "record_count": len(xs),
        "value_counts": {1: len(xs), 2: len(ss)},
        "null_value_counts": {1: len(xs) - len(non_null_x), 2: len(ss) - len(non_null_s)},
        "nan_value_counts": {},
        "lower_bounds": {},
        "upper_bounds": {},
    }
    if non_null_x:
        stats["lower_bounds"][1] = min(non_null_x)
        stats["upper_bounds"][1] = max(non_null_x)
    if non_null_s:
        stats["lower_bounds"][2] = min(non_null_s)
        stats["upper_bounds"][2] = max(non_null_s)
    return stats


def _predicate(op, lit_x, lit_s, target):
    if target == "x":
        return UnboundPredicate(op, "x", lit_x)
    return UnboundPredicate(op, "s", lit_s)


@given(
    xs=st.lists(values, min_size=1, max_size=30),
    ss=st.lists(strings, min_size=1, max_size=30),
    op=ops_binary,
    lit_x=st.integers(min_value=-1000, max_value=1000),
    lit_s=st.text(alphabet="abcxyz", min_size=0, max_size=6),
    target=st.sampled_from(["x", "s"]),
)
@settings(max_examples=300, deadline=None)
def test_metrics_evaluators_sound(xs, ss, op, lit_x, lit_s, target):
    n = max(len(xs), len(ss))
    xs = (xs * n)[:n]
    ss = (ss * n)[:n]
    stats = _file_stats(xs, ss)
    expr = bind(_predicate(op, lit_x, lit_s, target), SCHEMA)
    rows = [{"x": x, "s": s} for x, s in zip(xs, ss)]
    ev = expression_evaluator(expr)
    matches = [r for r in rows if ev(r)]

    might = inclusive_metrics_evaluator(expr)(stats)
    must = strict_metrics_evaluator(expr)(stats)

    if matches:
        assert might, f"inclusive evaluator lost rows: {expr}, stats={stats}"
    if must:
        assert len(matches) == len(rows), f"strict evaluator over-claimed: {expr}, stats={stats}"


@given(
    xs=st.lists(st.integers(min_value=-10000, max_value=10000), min_size=1, max_size=25),
    op=ops_binary,
    lit=st.integers(min_value=-10000, max_value=10000),
    width=st.sampled_from([2, 10, 50]),
    buckets=st.sampled_from([4, 16]),
)
@settings(max_examples=300, deadline=None)
def test_partition_projection_sound(xs, op, lit, width, buckets):
    schema = Schema(it.NestedField(1, "x", it.LongType()))
    for spec in (
        spec_from_names(schema, ("x", f"truncate[{width}]")),
        spec_from_names(schema, ("x", f"bucket[{buckets}]")),
        spec_from_names(schema, "x"),
    ):
        pf = spec.fields[0]
        fn = pf.transform.transform(it.LongType())
        expr = bind(UnboundPredicate(op, "x", lit), schema)
        proj = spec.inclusive_projection(schema, expr)
        proj_ev = expression_evaluator(proj)
        row_ev = expression_evaluator(expr)
        for x in xs:
            row = {"x": x}
            part = {pf.name: fn(x)}
            if row_ev(row):
                # inclusive projection may never exclude a matching row's partition
                assert proj_ev(part), f"projection lost row x={x}: {expr} -> {proj} part={part}"


_DAY_US = 86_400_000_000
#: (source type, transform, an internal value near 1995-01-01): every
#: order-preserving transform over an integer-domain source
RESIDUAL_CASES = [
    (it.DateType(), "year", 9131),
    (it.DateType(), "month", 9131),
    (it.DateType(), "day", 9131),
    (it.TimestampType(), "year", 9131 * _DAY_US),
    (it.TimestampType(), "month", 9131 * _DAY_US),
    (it.TimestampType(), "day", 9131 * _DAY_US),
    (it.TimestampType(), "hour", 9131 * _DAY_US),
    (it.TimestamptzType(), "month", 9131 * _DAY_US),
    (it.TimestamptzType(), "hour", 9131 * _DAY_US),
    (it.TimestampNanoType(), "day", 9131 * _DAY_US * 1000),
    (it.TimestamptzNanoType(), "hour", 9131 * _DAY_US * 1000),
    (it.LongType(), "truncate[10]", 1000),
    (it.IntegerType(), "truncate[7]", 1000),
]


def _first_value(fn, p: int, hi: int) -> int:
    """Smallest internal value v in [0, hi] with fn(v) >= p: the first
    value of partition p, found through the transform's monotonicity."""
    lo = 0
    while lo < hi:
        mid = (lo + hi) // 2
        if fn(mid) >= p:
            hi = mid
        else:
            lo = mid + 1
    return lo


@given(
    case=st.sampled_from(RESIDUAL_CASES),
    rows=st.lists(st.tuples(st.integers(0, 6), st.integers(-2, 2)), min_size=1, max_size=25),
    op=ops_binary,
    lit=st.tuples(st.integers(0, 6), st.integers(-1, 1)),
)
@settings(max_examples=400, deadline=None)
def test_residual_sound_month_transform(case, rows, op, lit):
    """Residual soundness for month and every other order-preserving
    transform over integer-domain sources. Rows and literals sit on and
    next to partition boundaries, where the inclusive operators' strict
    projection steps one unit."""
    from iceberg_python_spark.expressions import AlwaysFalse, AlwaysTrue

    src, tf, anchor = case
    schema = Schema(it.NestedField(1, "d", src))
    spec = spec_from_names(schema, ("d", tf))
    part_name = spec.fields[0].name
    fn = spec.fields[0].transform.transform(src)
    p0 = fn(anchor)

    def value(k: int, delta: int) -> int:
        return _first_value(fn, p0 + k, 3 * anchor) + delta

    values = [value(k, delta) for k, delta in rows]
    expr = bind(UnboundPredicate(op, "d", value(*lit)), schema)
    row_ev = expression_evaluator(expr)
    by_part = {}
    for d in values:
        by_part.setdefault(fn(d), []).append(d)
    for part, ds in by_part.items():
        res = residual(spec, schema, expr, {part_name: part})
        if isinstance(res, AlwaysTrue):
            assert all(row_ev({"d": d}) for d in ds), f"residual=True but non-matching row in {tf} {part}"
        elif isinstance(res, AlwaysFalse):
            assert not any(row_ev({"d": d}) for d in ds), f"residual=False but matching row in {tf} {part}"
        else:
            res_ev = expression_evaluator(res)
            for d in ds:
                assert res_ev({"d": d}) == row_ev({"d": d}), f"residual disagrees for d={d}"


@pytest.mark.parametrize("src,tf,anchor", RESIDUAL_CASES)
def test_residual_exact_for_aligned_ranges(src, tf, anchor):
    """An inclusive or exclusive range whose ends sit on partition
    boundaries leaves no residual on the partitions inside it: ``d >=
    start(p)`` and ``d <= start(p+1) - 1`` project strictly onto ``p``."""
    from iceberg_python_spark.expressions import AlwaysTrue, And

    schema = Schema(it.NestedField(1, "d", src))
    spec = spec_from_names(schema, ("d", tf))
    part_name = spec.fields[0].name
    fn = spec.fields[0].transform.transform(src)
    p = fn(anchor)
    start, end = _first_value(fn, p, 3 * anchor), _first_value(fn, p + 1, 3 * anchor)
    assert fn(start) == p == fn(end - 1) != fn(end)
    for lo_op, lo, hi_op, hi in (("gt_eq", start, "lt", end), ("gt", start - 1, "lt_eq", end - 1)):
        expr = bind(And(UnboundPredicate(lo_op, "d", lo), UnboundPredicate(hi_op, "d", hi)), schema)
        res = residual(spec, schema, expr, {part_name: p})
        assert isinstance(res, AlwaysTrue), f"{tf} over {src}: {expr} leaves {res}"
