"""Row-filter expression algebra (predicates only — no arithmetic).

Mirrors the semantics of the reference's expression tree
(pyiceberg/expressions/__init__.py:52 BooleanExpression and subclasses):
unbound expressions reference columns by name; ``bind(schema)`` resolves
them to fields (with literal type coercion and out-of-range constant
folding, reference :885-903). Bound expressions drive the metadata
evaluators (manifest/partition/metrics pruning) and convert to
``pyspark.sql.Column`` for the data plane.

Simplifications vs the reference, allowed because Catalyst re-optimizes
the data-plane filter anyway: literals are plain Python values tagged
with the bound Iceberg type; And/Or are binary (built balanced via
``and_all``/``or_all``).
"""

from __future__ import annotations

import datetime as _dt
import struct
from decimal import Decimal
from typing import Any, Iterable, List, Optional, Sequence, Tuple, Union

from ..schema import Schema
from ..types import (
    BinaryType,
    BooleanType,
    DateType,
    DecimalType,
    DoubleType,
    FixedType,
    FloatType,
    IcebergType,
    IntegerType,
    LongType,
    StringType,
    TimestampNanoType,
    TimestamptzNanoType,
    TimestamptzType,
    TimestampType,
    TimeType,
    UUIDType,
    NestedField,
)

EPOCH_DATE = _dt.date(1970, 1, 1)
EPOCH_TS = _dt.datetime(1970, 1, 1)
EPOCH_TSTZ = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)


class AboveMax:
    """Sentinel: literal exceeds the type's max (folds predicates)."""

    def __repr__(self) -> str:
        return "AboveMax"


class BelowMin:
    def __repr__(self) -> str:
        return "BelowMin"


ABOVE_MAX = AboveMax()
BELOW_MIN = BelowMin()


def to_internal(value: Any, t: IcebergType) -> Any:
    """Coerce a Python literal to the type's internal representation and
    comparison domain (reference: expressions/literals.py Literal.to):

    - date -> days since epoch (int)
    - time -> µs since midnight (int)
    - timestamp/timestamptz -> µs since epoch (int)
    - decimal -> Decimal quantized to scale
    - int/long out of range -> AboveMax/BelowMin sentinels
    """
    if value is None:
        return None
    if isinstance(t, (IntegerType, LongType)):
        v = int(value)
        if v > t.max:
            return ABOVE_MAX
        if v < t.min:
            return BELOW_MIN
        return v
    if isinstance(t, (FloatType, DoubleType)):
        return float(value)
    if isinstance(t, BooleanType):
        return bool(value)
    if isinstance(t, StringType):
        return str(value)
    if isinstance(t, UUIDType):
        return str(value)
    if isinstance(t, (BinaryType, FixedType)):
        return bytes(value)
    if isinstance(t, DecimalType):
        return Decimal(str(value)).quantize(Decimal(1).scaleb(-t.scale))
    if isinstance(t, DateType):
        if isinstance(value, str):
            value = _dt.date.fromisoformat(value)
        if isinstance(value, _dt.datetime):
            value = value.date()
        if isinstance(value, _dt.date):
            return (value - EPOCH_DATE).days
        return int(value)
    if isinstance(t, TimeType):
        if isinstance(value, str):
            value = _dt.time.fromisoformat(value)
        if isinstance(value, _dt.time):
            return ((value.hour * 60 + value.minute) * 60 + value.second) * 1_000_000 + value.microsecond
        return int(value)
    if isinstance(t, (TimestampType, TimestamptzType)):
        # ns subtypes share the parse but land in the ns domain — their
        # internal longs (and file stats bounds) are ns since epoch
        scale = 1000 if isinstance(t, (TimestampNanoType, TimestamptzNanoType)) else 1
        if isinstance(value, str):
            v = value.replace(" ", "T")
            try:
                value = _dt.datetime.fromisoformat(v)
            except ValueError:
                value = _dt.date.fromisoformat(value)
        if isinstance(value, _dt.datetime):
            if value.tzinfo is not None:
                return int((value - EPOCH_TSTZ).total_seconds() * 1_000_000) * scale
            return ((value - EPOCH_TS) // _dt.timedelta(microseconds=1)) * scale
        if isinstance(value, _dt.date):
            return (value - EPOCH_DATE).days * 86_400_000_000 * scale
        return int(value)
    raise TypeError(f"cannot coerce literal {value!r} to {t}")


def internal_to_python(value: Any, t: IcebergType) -> Any:
    """Inverse of to_internal for presentation / Spark lit()."""
    if value is None:
        return None
    if isinstance(t, DateType):
        return EPOCH_DATE + _dt.timedelta(days=value)
    if isinstance(t, TimestampNanoType):
        # µs truncation — the ns table's Spark representation is µs
        return EPOCH_TS + _dt.timedelta(microseconds=value // 1000)
    if isinstance(t, TimestamptzNanoType):
        return EPOCH_TSTZ + _dt.timedelta(microseconds=value // 1000)
    if isinstance(t, TimestampType):
        return EPOCH_TS + _dt.timedelta(microseconds=value)
    if isinstance(t, TimestamptzType):
        return EPOCH_TSTZ + _dt.timedelta(microseconds=value)
    return value


# ---------------------------------------------------------------------------
# expression nodes
# ---------------------------------------------------------------------------


class BooleanExpression:
    def __and__(self, other: "BooleanExpression") -> "BooleanExpression":
        return And(self, other)

    def __or__(self, other: "BooleanExpression") -> "BooleanExpression":
        return Or(self, other)

    def __invert__(self) -> "BooleanExpression":
        return Not(self)


class AlwaysTrue(BooleanExpression):
    def __invert__(self) -> "BooleanExpression":
        return AlwaysFalse()

    def __repr__(self) -> str:
        return "AlwaysTrue()"

    def __eq__(self, o: object) -> bool:
        return isinstance(o, AlwaysTrue)

    def __hash__(self) -> int:
        return hash("AlwaysTrue")


class AlwaysFalse(BooleanExpression):
    def __invert__(self) -> "BooleanExpression":
        return AlwaysTrue()

    def __repr__(self) -> str:
        return "AlwaysFalse()"

    def __eq__(self, o: object) -> bool:
        return isinstance(o, AlwaysFalse)

    def __hash__(self) -> int:
        return hash("AlwaysFalse")


class And(BooleanExpression):
    def __new__(cls, left: BooleanExpression, right: BooleanExpression, *rest: BooleanExpression):
        if rest:
            return And(And(left, right), rest[0], *rest[1:])
        if isinstance(left, AlwaysFalse) or isinstance(right, AlwaysFalse):
            return AlwaysFalse()
        if isinstance(left, AlwaysTrue):
            return right
        if isinstance(right, AlwaysTrue):
            return left
        obj = object.__new__(cls)
        obj.left, obj.right = left, right
        return obj

    def __invert__(self) -> "BooleanExpression":
        return Or(~self.left, ~self.right)

    def __reduce__(self):
        # rebuild through __new__'s arguments (pickle would call it with none)
        return (And, (self.left, self.right))

    def __repr__(self) -> str:
        return f"And({self.left!r}, {self.right!r})"

    def __eq__(self, o: object) -> bool:
        return isinstance(o, And) and self.left == o.left and self.right == o.right

    def __hash__(self) -> int:
        return hash(repr(self))


class Or(BooleanExpression):
    def __new__(cls, left: BooleanExpression, right: BooleanExpression, *rest: BooleanExpression):
        if rest:
            return Or(Or(left, right), rest[0], *rest[1:])
        if isinstance(left, AlwaysTrue) or isinstance(right, AlwaysTrue):
            return AlwaysTrue()
        if isinstance(left, AlwaysFalse):
            return right
        if isinstance(right, AlwaysFalse):
            return left
        obj = object.__new__(cls)
        obj.left, obj.right = left, right
        return obj

    def __invert__(self) -> "BooleanExpression":
        return And(~self.left, ~self.right)

    def __reduce__(self):
        # rebuild through __new__'s arguments (pickle would call it with none)
        return (Or, (self.left, self.right))

    def __repr__(self) -> str:
        return f"Or({self.left!r}, {self.right!r})"

    def __eq__(self, o: object) -> bool:
        return isinstance(o, Or) and self.left == o.left and self.right == o.right

    def __hash__(self) -> int:
        return hash(repr(self))


class Not(BooleanExpression):
    def __new__(cls, child: BooleanExpression):
        if isinstance(child, (AlwaysTrue, AlwaysFalse, And, Or, Not)):
            return child.__invert__() if not isinstance(child, Not) else child.child
        obj = object.__new__(cls)
        obj.child = child
        return obj

    def __invert__(self) -> "BooleanExpression":
        return self.child

    def __reduce__(self):
        return (Not, (self.child,))

    def __repr__(self) -> str:
        return f"Not({self.child!r})"

    def __eq__(self, o: object) -> bool:
        return isinstance(o, Not) and self.child == o.child

    def __hash__(self) -> int:
        return hash(repr(self))


def and_all(exprs: Iterable[BooleanExpression]) -> BooleanExpression:
    """Balanced AND of many expressions (reference :134 _build_balanced_tree)."""
    items = [e for e in exprs]
    if not items:
        return AlwaysTrue()
    while len(items) > 1:
        items = [And(items[i], items[i + 1]) if i + 1 < len(items) else items[i] for i in range(0, len(items), 2)]
    return items[0]


def or_all(exprs: Iterable[BooleanExpression]) -> BooleanExpression:
    items = [e for e in exprs]
    if not items:
        return AlwaysFalse()
    while len(items) > 1:
        items = [Or(items[i], items[i + 1]) if i + 1 < len(items) else items[i] for i in range(0, len(items), 2)]
    return items[0]


# -- unbound predicates ------------------------------------------------------

_INVERSES = {
    "is_null": "not_null",
    "not_null": "is_null",
    "is_nan": "not_nan",
    "not_nan": "is_nan",
    "eq": "not_eq",
    "not_eq": "eq",
    "lt": "gt_eq",
    "gt_eq": "lt",
    "gt": "lt_eq",
    "lt_eq": "gt",
    "in": "not_in",
    "not_in": "in",
    "starts_with": "not_starts_with",
    "not_starts_with": "starts_with",
}

UNARY_OPS = {"is_null", "not_null", "is_nan", "not_nan"}
LITERAL_OPS = {"eq", "not_eq", "lt", "lt_eq", "gt", "gt_eq", "starts_with", "not_starts_with"}
SET_OPS = {"in", "not_in"}


class UnboundPredicate(BooleanExpression):
    """op over a column name, with 0/1/N python literal values."""

    def __init__(self, op: str, term: str, *values: Any):
        self.op = op
        self.term = term
        self.values: Tuple[Any, ...] = values
        if op in SET_OPS:
            # auto-simplify (reference :766-830)
            uniq = list(dict.fromkeys(values))
            self.values = tuple(uniq)

    def __invert__(self) -> BooleanExpression:
        return UnboundPredicate(_INVERSES[self.op], self.term, *self.values)

    def __repr__(self) -> str:
        return f"UnboundPredicate({self.op!r}, {self.term!r}, {list(self.values)!r})"

    def __eq__(self, o: object) -> bool:
        return (
            isinstance(o, UnboundPredicate)
            and (self.op, self.term, self.values) == (o.op, o.term, o.values)
        )

    def __hash__(self) -> int:
        return hash((self.op, self.term, self.values))

    def bind(self, schema: Schema, case_sensitive: bool = True) -> BooleanExpression:
        field = schema.find_field(self.term, case_sensitive=case_sensitive)
        op = self.op
        if op in SET_OPS:
            if len(self.values) == 0:
                return AlwaysFalse() if op == "in" else AlwaysTrue()
            lits = []
            for v in self.values:
                iv = to_internal(v, field.field_type)
                if isinstance(iv, (AboveMax, BelowMin)):
                    continue  # cannot match
                lits.append(iv)
            if not lits:
                return AlwaysFalse() if op == "in" else AlwaysTrue()
            if len(lits) == 1:
                return BoundPredicate("eq" if op == "in" else "not_eq", field, lits[0])
            return BoundPredicate(op, field, *sorted(set(lits), key=lambda x: (str(type(x)), str(x))))
        if op in UNARY_OPS:
            if op == "is_null" and field.required:
                return AlwaysFalse()
            if op == "not_null" and field.required:
                return AlwaysTrue()
            if op in ("is_nan", "not_nan") and not isinstance(field.field_type, (FloatType, DoubleType)):
                raise ValueError(f"{op} on non-floating-point column {field.name}")
            return BoundPredicate(op, field)
        # literal comparisons — fold out-of-range (reference :885-903)
        iv = to_internal(self.values[0], field.field_type)
        if isinstance(iv, AboveMax):
            return {
                "lt": AlwaysTrue(), "lt_eq": AlwaysTrue(),
                "gt": AlwaysFalse(), "gt_eq": AlwaysFalse(),
                "eq": AlwaysFalse(), "not_eq": AlwaysTrue(),
            }[op]
        if isinstance(iv, BelowMin):
            return {
                "lt": AlwaysFalse(), "lt_eq": AlwaysFalse(),
                "gt": AlwaysTrue(), "gt_eq": AlwaysTrue(),
                "eq": AlwaysFalse(), "not_eq": AlwaysTrue(),
            }[op]
        if op in ("starts_with", "not_starts_with") and not isinstance(field.field_type, StringType):
            raise ValueError(f"{op} requires a string column, got {field.field_type}")
        return BoundPredicate(op, field, iv)


class BoundPredicate(BooleanExpression):
    """op over a resolved NestedField with internal-representation literals."""

    def __init__(self, op: str, field: NestedField, *values: Any):
        self.op = op
        self.field = field
        self.values: Tuple[Any, ...] = values

    @property
    def value(self) -> Any:
        return self.values[0] if self.values else None

    def __invert__(self) -> BooleanExpression:
        return BoundPredicate(_INVERSES[self.op], self.field, *self.values)

    def __repr__(self) -> str:
        return f"BoundPredicate({self.op!r}, {self.field.name!r}#{self.field.field_id}, {list(self.values)!r})"

    def __eq__(self, o: object) -> bool:
        return (
            isinstance(o, BoundPredicate)
            and (self.op, self.field, self.values) == (o.op, o.field, o.values)
        )

    def __hash__(self) -> int:
        return hash((self.op, self.field.field_id, self.values))


def bind(expr: BooleanExpression, schema: Schema, case_sensitive: bool = True) -> BooleanExpression:
    """Resolve names to fields through the whole tree
    (reference: expressions/visitors.py:198-249)."""
    if isinstance(expr, (AlwaysTrue, AlwaysFalse, BoundPredicate)):
        return expr
    if isinstance(expr, And):
        return And(bind(expr.left, schema, case_sensitive), bind(expr.right, schema, case_sensitive))
    if isinstance(expr, Or):
        return Or(bind(expr.left, schema, case_sensitive), bind(expr.right, schema, case_sensitive))
    if isinstance(expr, Not):
        return Not(bind(expr.child, schema, case_sensitive))
    if isinstance(expr, UnboundPredicate):
        return expr.bind(schema, case_sensitive)
    raise TypeError(f"cannot bind {expr!r}")


def rewrite_not(expr: BooleanExpression) -> BooleanExpression:
    """Push NOT down via De Morgan (reference: visitors.py:424-451)."""
    if isinstance(expr, Not):
        return rewrite_not(~expr.child)
    if isinstance(expr, And):
        return And(rewrite_not(expr.left), rewrite_not(expr.right))
    if isinstance(expr, Or):
        return Or(rewrite_not(expr.left), rewrite_not(expr.right))
    return expr


# -- convenience constructors (public API parity) ----------------------------

def IsNull(term: str) -> UnboundPredicate:
    return UnboundPredicate("is_null", term)


def NotNull(term: str) -> UnboundPredicate:
    return UnboundPredicate("not_null", term)


def IsNaN(term: str) -> UnboundPredicate:
    return UnboundPredicate("is_nan", term)


def NotNaN(term: str) -> UnboundPredicate:
    return UnboundPredicate("not_nan", term)


def EqualTo(term: str, value: Any) -> UnboundPredicate:
    return UnboundPredicate("eq", term, value)


def NotEqualTo(term: str, value: Any) -> UnboundPredicate:
    return UnboundPredicate("not_eq", term, value)


def LessThan(term: str, value: Any) -> UnboundPredicate:
    return UnboundPredicate("lt", term, value)


def LessThanOrEqual(term: str, value: Any) -> UnboundPredicate:
    return UnboundPredicate("lt_eq", term, value)


def GreaterThan(term: str, value: Any) -> UnboundPredicate:
    return UnboundPredicate("gt", term, value)


def GreaterThanOrEqual(term: str, value: Any) -> UnboundPredicate:
    return UnboundPredicate("gt_eq", term, value)


def In(term: str, values: Iterable[Any]) -> UnboundPredicate:
    return UnboundPredicate("in", term, *values)


def NotIn(term: str, values: Iterable[Any]) -> UnboundPredicate:
    return UnboundPredicate("not_in", term, *values)


def StartsWith(term: str, value: str) -> UnboundPredicate:
    return UnboundPredicate("starts_with", term, value)


def NotStartsWith(term: str, value: str) -> UnboundPredicate:
    return UnboundPredicate("not_starts_with", term, value)
