"""Expression visitors: Spark-column conversion, row evaluation, and the
metadata evaluators that make scan planning cheap at 100 TB.

Reference parity (pyiceberg/expressions/visitors.py):
- ``to_spark_column``       — :863-955 (_ConvertToArrowExpression), here
                              emitting ``pyspark.sql.Column`` instead.
- ``expression_evaluator``  — :453-546 (row eval against partition tuples).
- ``manifest_evaluator``    — :555-797 (partition-summary bounds pruning).
- ``inclusive_metrics_evaluator`` — :1166-1475 (file min/max/null/NaN
                              stats → might-match; file skipping).
- ``strict_metrics_evaluator``    — :1501-1795 (must-match; enables
                              metadata-only deletes).
- ``residual``              — :1797-2020 (per-partition partial eval; an
                              AlwaysTrue residual means the data-plane
                              filter can be dropped entirely).

All evaluators work on *internal* values (dates=days, timestamps=µs) and
treat missing stats as inconclusive (inclusive: might match; strict:
might not match).
"""

from __future__ import annotations

import math
from typing import Any, Callable, Dict, Mapping, Optional

from pyspark.sql import Column
from pyspark.sql import functions as F

from . import (
    AlwaysFalse,
    AlwaysTrue,
    And,
    BooleanExpression,
    BoundPredicate,
    Not,
    Or,
    UnboundPredicate,
    internal_to_python,
    rewrite_not,
)
from ..types import DoubleType, FloatType, StringType

ROWS_MIGHT_MATCH = True
ROWS_CANNOT_MATCH = False
ROWS_MUST_MATCH = True
ROWS_MIGHT_NOT_MATCH = False


def _visit(expr: BooleanExpression, pred_fn: Callable[[BoundPredicate], Any], and_fn, or_fn, true_val, false_val):
    expr = rewrite_not(expr)

    def go(e: BooleanExpression):
        if isinstance(e, AlwaysTrue):
            return true_val
        if isinstance(e, AlwaysFalse):
            return false_val
        if isinstance(e, And):
            return and_fn(go(e.left), go(e.right))
        if isinstance(e, Or):
            return or_fn(go(e.left), go(e.right))
        if isinstance(e, (BoundPredicate, UnboundPredicate)):
            return pred_fn(e)
        raise TypeError(f"unexpected node {e!r}")

    return go(expr)


# ---------------------------------------------------------------------------
# expression -> pyspark Column (data plane)
# ---------------------------------------------------------------------------


def to_spark_column(
    expr: BooleanExpression,
    column_for: Optional[Callable[[BoundPredicate], Column]] = None,
    keep_internal: bool = False,
) -> Column:
    """Convert a bound expression tree to a Spark Column predicate.

    ``column_for`` maps a predicate to the Column holding that field
    (defaults to ``F.col(field.name)``); pass a custom mapper to target
    renamed per-file columns. ``keep_internal=True`` leaves literals in
    internal representation (days/µs ints) for columns that physically
    hold internal values, e.g. JSON-parsed partition tuples.
    """

    def pred(p: BoundPredicate) -> Column:
        if not isinstance(p, BoundPredicate):
            raise ValueError(f"expression must be bound first: {p!r}")
        c = column_for(p) if column_for else F.col(p.field.name)
        t = p.field.field_type
        vals = list(p.values) if keep_internal else [internal_to_python(v, t) for v in p.values]
        op = p.op
        if op == "is_null":
            return c.isNull()
        if op == "not_null":
            return c.isNotNull()
        if op == "is_nan":
            return F.isnan(c)
        if op == "not_nan":
            return ~F.isnan(c)
        if op == "eq":
            return c == F.lit(vals[0])
        if op == "not_eq":
            return c != F.lit(vals[0])
        if op == "lt":
            return c < F.lit(vals[0])
        if op == "lt_eq":
            return c <= F.lit(vals[0])
        if op == "gt":
            return c > F.lit(vals[0])
        if op == "gt_eq":
            return c >= F.lit(vals[0])
        if op == "in":
            return c.isin(vals)
        if op == "not_in":
            return ~c.isin(vals)
        if op == "starts_with":
            return c.startswith(vals[0])
        if op == "not_starts_with":
            return ~c.startswith(vals[0])
        raise ValueError(f"unknown op {op}")

    return _visit(expr, pred, lambda a, b: a & b, lambda a, b: a | b, F.lit(True), F.lit(False))


# ---------------------------------------------------------------------------
# row-level evaluation (planning: partition tuples)
# ---------------------------------------------------------------------------


def expression_evaluator(expr: BooleanExpression) -> Callable[[Mapping[str, Any]], bool]:
    """Evaluate a bound expression against a row dict keyed by field name
    (used on partition records during planning)."""

    def make(p: BoundPredicate) -> Callable[[Mapping[str, Any]], bool]:
        name = p.field.name
        op, values = p.op, p.values

        def f(row: Mapping[str, Any]) -> bool:
            v = row.get(name)
            if op == "is_null":
                return v is None
            if op == "not_null":
                return v is not None
            if op == "is_nan":
                return v is not None and isinstance(v, float) and math.isnan(v)
            if op == "not_nan":
                return not (v is not None and isinstance(v, float) and math.isnan(v))
            if v is None:
                return False
            if op == "eq":
                return v == values[0]
            if op == "not_eq":
                return v != values[0]
            if op == "lt":
                return v < values[0]
            if op == "lt_eq":
                return v <= values[0]
            if op == "gt":
                return v > values[0]
            if op == "gt_eq":
                return v >= values[0]
            if op == "in":
                return v in values
            if op == "not_in":
                return v not in values
            if op == "starts_with":
                return str(v).startswith(values[0])
            if op == "not_starts_with":
                return not str(v).startswith(values[0])
            raise ValueError(f"unknown op {op}")

        return f

    fns = _visit(
        expr,
        make,
        lambda a, b: (lambda r: a(r) and b(r)),
        lambda a, b: (lambda r: a(r) or b(r)),
        lambda r: True,
        lambda r: False,
    )
    return fns


# ---------------------------------------------------------------------------
# manifest evaluator (partition field summaries)
# ---------------------------------------------------------------------------


def manifest_evaluator(summaries_by_name: Mapping[str, Mapping[str, Any]]) -> Callable[[BooleanExpression], bool]:
    """Build an evaluator over a manifest's per-partition-field summaries.

    ``summaries_by_name[name]`` has keys: lower, upper (internal values or
    None), contains_null (bool), contains_nan (bool|None). The input
    expression must be bound to the partition schema.
    """

    def pred(p: BoundPredicate) -> bool:
        s = summaries_by_name.get(p.field.name)
        if s is None:
            return ROWS_MIGHT_MATCH
        lower, upper = s.get("lower"), s.get("upper")
        contains_null = s.get("contains_null", True)
        contains_nan = s.get("contains_nan")
        op, values = p.op, p.values
        if op == "is_null":
            return contains_null
        if op == "not_null":
            # all-null partitions have no bounds
            return not (lower is None and upper is None and not contains_nan)
        if op == "is_nan":
            return contains_nan is not False
        if op == "not_nan":
            return True
        if lower is None or upper is None:
            return ROWS_CANNOT_MATCH  # no non-null values at all
        v = values[0] if values else None
        if op == "lt":
            return lower < v
        if op == "lt_eq":
            return lower <= v
        if op == "gt":
            return upper > v
        if op == "gt_eq":
            return upper >= v
        if op == "eq":
            return lower <= v <= upper
        if op == "not_eq":
            return ROWS_MIGHT_MATCH
        if op == "in":
            return any(lower <= x <= upper for x in values)
        if op == "not_in":
            return ROWS_MIGHT_MATCH
        if op == "starts_with":
            pref = str(v)
            lo = str(lower)[: len(pref)]
            hi = str(upper)[: len(pref)]
            return lo <= pref <= hi
        if op == "not_starts_with":
            return ROWS_MIGHT_MATCH
        raise ValueError(f"unknown op {op}")

    return lambda expr: _visit(expr, pred, lambda a, b: a and b, lambda a, b: a or b, True, False)


# ---------------------------------------------------------------------------
# metrics evaluators (per data-file column stats)
# ---------------------------------------------------------------------------


class _FileStats:
    """Adapter over a DataFile's stats maps (keyed by field id)."""

    def __init__(self, data_file: Mapping[str, Any]):
        self.record_count = data_file.get("record_count") or 0
        self.value_counts = data_file.get("value_counts") or {}
        self.null_counts = data_file.get("null_value_counts") or {}
        self.nan_counts = data_file.get("nan_value_counts") or {}
        self.lower = data_file.get("lower_bounds") or {}
        self.upper = data_file.get("upper_bounds") or {}

    def get(self, m: Mapping, fid: int):
        if fid in m:
            return m[fid]
        return m.get(str(fid))  # JSON round-trip turns int keys into strings


def inclusive_metrics_evaluator(expr: BooleanExpression) -> Callable[[Mapping[str, Any]], bool]:
    """might-match on file stats (reference visitors.py:1166-1475). The
    expression is compiled into closures once per scan, so a data file
    costs one stats lookup per predicate, not a tree walk."""

    def make(p: BoundPredicate) -> Callable[[_FileStats], bool]:
        fid = p.field.field_id
        op, values = p.op, p.values

        def pred(st: _FileStats) -> bool:
            value_count = st.get(st.value_counts, fid)
            null_count = st.get(st.null_counts, fid)
            nan_count = st.get(st.nan_counts, fid)
            lower = st.get(st.lower, fid)
            upper = st.get(st.upper, fid)
            if op == "is_null":
                return null_count is None or null_count > 0
            if op == "not_null":
                if value_count is not None and null_count is not None and value_count == null_count:
                    return ROWS_CANNOT_MATCH
                return ROWS_MIGHT_MATCH
            if op == "is_nan":
                if nan_count is not None:
                    return nan_count > 0
                return ROWS_MIGHT_MATCH
            if op == "not_nan":
                if nan_count is not None and value_count is not None and null_count is not None:
                    if nan_count + null_count == value_count:
                        return ROWS_CANNOT_MATCH
                return ROWS_MIGHT_MATCH
            # value comparisons: all-null column cannot match
            if value_count is not None and null_count is not None and value_count == null_count:
                return ROWS_CANNOT_MATCH
            # NaN-only float column: bounds unusable but NaN might... bounds
            # exclude NaN per spec, so missing bounds -> might match
            if lower is None or upper is None:
                return ROWS_MIGHT_MATCH
            v = values[0] if values else None
            if op == "lt":
                return ROWS_CANNOT_MATCH if lower >= v else ROWS_MIGHT_MATCH
            if op == "lt_eq":
                return ROWS_CANNOT_MATCH if lower > v else ROWS_MIGHT_MATCH
            if op == "gt":
                return ROWS_CANNOT_MATCH if upper <= v else ROWS_MIGHT_MATCH
            if op == "gt_eq":
                return ROWS_CANNOT_MATCH if upper < v else ROWS_MIGHT_MATCH
            if op == "eq":
                return ROWS_CANNOT_MATCH if (v < lower or v > upper) else ROWS_MIGHT_MATCH
            if op == "not_eq":
                return ROWS_MIGHT_MATCH
            if op == "in":
                return ROWS_MIGHT_MATCH if any(lower <= x <= upper for x in values) else ROWS_CANNOT_MATCH
            if op == "not_in":
                return ROWS_MIGHT_MATCH
            if op == "starts_with":
                pref = str(v)
                if str(lower)[: len(pref)] > pref:
                    return ROWS_CANNOT_MATCH
                if str(upper)[: len(pref)] < pref:
                    return ROWS_CANNOT_MATCH
                return ROWS_MIGHT_MATCH
            if op == "not_starts_with":
                return ROWS_MIGHT_MATCH
            raise ValueError(f"unknown op {op}")

        return pred

    test = _visit(
        expr,
        make,
        lambda a, b: (lambda st: a(st) and b(st)),
        lambda a, b: (lambda st: a(st) or b(st)),
        lambda st: True,
        lambda st: False,
    )

    def evaluate(data_file: Mapping[str, Any]) -> bool:
        st = _FileStats(data_file)
        if st.record_count == 0:
            return ROWS_CANNOT_MATCH
        return test(st)

    return evaluate


def strict_metrics_evaluator(expr: BooleanExpression) -> Callable[[Mapping[str, Any]], bool]:
    """must-match on file stats (reference visitors.py:1501-1795).

    True means EVERY row in the file matches the predicate — safe to act
    on the whole file without reading it (metadata-only delete)."""

    def evaluate(data_file: Mapping[str, Any]) -> bool:
        st = _FileStats(data_file)
        if st.record_count == 0:
            return ROWS_MUST_MATCH  # vacuously

        def pred(p: BoundPredicate) -> bool:
            fid = p.field.field_id
            value_count = st.get(st.value_counts, fid)
            null_count = st.get(st.null_counts, fid)
            nan_count = st.get(st.nan_counts, fid)
            lower = st.get(st.lower, fid)
            upper = st.get(st.upper, fid)
            op, values = p.op, p.values
            if op == "is_null":
                return (
                    value_count is not None
                    and null_count is not None
                    and value_count == null_count
                    and (nan_count is None or nan_count == 0)
                )
            if op == "not_null":
                return null_count == 0 if null_count is not None else ROWS_MIGHT_NOT_MATCH
            if op == "is_nan":
                return (
                    nan_count is not None and value_count is not None and nan_count == value_count
                )
            if op == "not_nan":
                return nan_count == 0 if nan_count is not None else ROWS_MIGHT_NOT_MATCH
            # value comparisons need: no nulls, no NaNs, usable bounds
            if null_count is None or null_count > 0:
                return ROWS_MIGHT_NOT_MATCH
            if isinstance(p.field.field_type, (FloatType, DoubleType)) and (nan_count is None or nan_count > 0):
                return ROWS_MIGHT_NOT_MATCH
            if lower is None or upper is None:
                return ROWS_MIGHT_NOT_MATCH
            v = values[0] if values else None
            if op == "lt":
                return upper < v
            if op == "lt_eq":
                return upper <= v
            if op == "gt":
                return lower > v
            if op == "gt_eq":
                return lower >= v
            if op == "eq":
                return lower == v and upper == v
            if op == "not_eq":
                return v < lower or v > upper
            if op == "in":
                return lower == upper and lower in values
            if op == "not_in":
                return all(x < lower or x > upper for x in values)
            if op == "starts_with":
                pref = str(v)
                return str(lower).startswith(pref) and str(upper)[: len(pref)] == pref and len(str(upper)) >= len(pref) and str(lower)[: len(pref)] == pref
            if op == "not_starts_with":
                pref = str(v)
                lo, hi = str(lower)[: len(pref)], str(upper)[: len(pref)]
                return hi < pref or lo > pref
            raise ValueError(f"unknown op {op}")

        return _visit(expr, pred, lambda a, b: a and b, lambda a, b: a or b, True, False)

    return evaluate


# ---------------------------------------------------------------------------
# residual evaluation (reference visitors.py:1797-2020)
# ---------------------------------------------------------------------------


def residual(
    spec,  # PartitionSpec
    schema,  # table Schema (bound target)
    expr: BooleanExpression,
    partition_values: Mapping[str, Any],
) -> BooleanExpression:
    """Partially evaluate ``expr`` (bound to the table schema) for one
    file's partition tuple. AlwaysTrue ⇒ drop the data-plane filter for
    this file; AlwaysFalse ⇒ skip the file."""
    from ..expressions import bind

    expr = rewrite_not(expr)
    part_schema = None

    def bind_part(p: BooleanExpression) -> BooleanExpression:
        # built on first use: a spec over a dropped column fails only if consulted
        nonlocal part_schema
        if part_schema is None:
            part_schema = spec.partition_schema(schema)
        return bind(p, part_schema)

    def go(e: BooleanExpression) -> BooleanExpression:
        if isinstance(e, (AlwaysTrue, AlwaysFalse)):
            return e
        if isinstance(e, And):
            return And(go(e.left), go(e.right))
        if isinstance(e, Or):
            return Or(go(e.left), go(e.right))
        assert isinstance(e, BoundPredicate), f"residual input must be bound: {e!r}"
        parts = spec.fields_by_source_id(e.field.field_id)
        for part in parts:
            tf = part.transform
            strict = tf.strict_project(part.name, e)
            if strict is not None:
                b = bind_part(strict)
                if not isinstance(b, (AlwaysTrue, AlwaysFalse)):
                    ok = expression_evaluator(b)(partition_values)
                elif isinstance(b, AlwaysTrue):
                    ok = True
                else:
                    ok = False
                if ok:
                    return AlwaysTrue()
            incl = tf.project(part.name, e)
            if incl is not None:
                b = bind_part(incl)
                if isinstance(b, AlwaysFalse):
                    return AlwaysFalse()
                if not isinstance(b, AlwaysTrue) and not expression_evaluator(b)(partition_values):
                    return AlwaysFalse()
        return e

    return go(expr)
