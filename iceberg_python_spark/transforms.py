"""Partition transforms (reference: pyiceberg/transforms.py, 1165 LoC).

Each transform provides four surfaces:

- ``transform(source_type)`` — a Python callable over *internal* values
  (dates=days, time/timestamps=µs) for driver-side partition evaluation;
- ``spark_expr(col, source_type)`` — a ``pyspark.sql.Column`` used for the
  partition fan-out write (executor-side, vectorized, JVM where possible);
- ``project(name, bound_pred)`` — inclusive projection of a row predicate
  into partition space (reference transforms.py:275-305 and
  visitors.py:799-860): partition-pred true is NECESSARY for a row match;
- ``strict_project(name, bound_pred)`` — must-match projection: partition-
  pred true GUARANTEES all rows match (enables metadata-only deletes).

Bucket hashing is the Iceberg-spec murmur3_x86_32 over the spec byte
layouts (transforms.py:327-391): little-endian 8-byte longs for
int/long/date/time/timestamp, UTF-8 for strings, raw bytes for
binary/fixed, 16-byte UUID, minimal big-endian two's-complement for
decimal unscaled values. Spark's builtin ``hash()`` is murmur3 with seed
42 and a different layout — NOT compatible, hence the pandas UDF.
"""

from __future__ import annotations

import datetime as _dt
import struct
from decimal import Decimal
from typing import Any, Callable, Optional

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from .conversions import _INT_TYPES  # internal values are integers (days, µs, ns)
from .expressions import BooleanExpression, BoundPredicate, internal_to_python
from .types import (
    BinaryType,
    DateType,
    DecimalType,
    FixedType,
    IcebergType,
    IntegerType,
    LongType,
    StringType,
    TimestamptzType,
    TimestampType,
    TimeType,
    UUIDType,
)

# ---------------------------------------------------------------------------
# murmur3_x86_32 (pure python; golden values in tests/test_transforms.py)
# ---------------------------------------------------------------------------

_C1 = 0xCC9E2D51
_C2 = 0x1B873593
_M32 = 0xFFFFFFFF


def murmur3_32(data: bytes, seed: int = 0) -> int:
    """32-bit murmur3 hash returning a signed int32."""
    length = len(data)
    h = seed
    rounded = length & ~0x3
    for i in range(0, rounded, 4):
        k = data[i] | (data[i + 1] << 8) | (data[i + 2] << 16) | (data[i + 3] << 24)
        k = (k * _C1) & _M32
        k = ((k << 15) | (k >> 17)) & _M32
        k = (k * _C2) & _M32
        h ^= k
        h = ((h << 13) | (h >> 19)) & _M32
        h = (h * 5 + 0xE6546B64) & _M32
    k = 0
    tail = length & 3
    if tail >= 3:
        k ^= data[rounded + 2] << 16
    if tail >= 2:
        k ^= data[rounded + 1] << 8
    if tail >= 1:
        k ^= data[rounded]
        k = (k * _C1) & _M32
        k = ((k << 15) | (k >> 17)) & _M32
        k = (k * _C2) & _M32
        h ^= k
    h ^= length
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & _M32
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & _M32
    h ^= h >> 16
    return h - (1 << 32) if h >= (1 << 31) else h


def murmur3_32_longs(vals) -> "np.ndarray":
    """Vectorized murmur3 of 8-byte little-endian longs (the bucket
    transform's input form for int/long/date/time/timestamp sources).

    For fixed length 8 the algorithm is exactly two body rounds and no
    tail, so it unrolls into ~20 numpy uint32 ops per array — no per-row
    Python. Matches :func:`murmur3_32` on ``struct.pack('<q', v)``
    bit-for-bit (golden-tested)."""
    import numpy as np

    u = vals.astype(np.int64).view(np.uint64)
    h = np.zeros(len(u), dtype=np.uint32)
    with np.errstate(over="ignore"):
        for part in ((u & np.uint64(0xFFFFFFFF)), (u >> np.uint64(32))):
            k = part.astype(np.uint32)
            k = k * np.uint32(_C1)
            k = (k << np.uint32(15)) | (k >> np.uint32(17))
            k = k * np.uint32(_C2)
            h ^= k
            h = (h << np.uint32(13)) | (h >> np.uint32(19))
            h = h * np.uint32(5) + np.uint32(0xE6546B64)
        h ^= np.uint32(8)  # length
        h ^= h >> np.uint32(16)
        h = h * np.uint32(0x85EBCA6B)
        h ^= h >> np.uint32(13)
        h = h * np.uint32(0xC2B2AE35)
        h ^= h >> np.uint32(16)
    return h.view(np.int32)


def _decimal_to_bytes(v: Decimal) -> bytes:
    """Minimal big-endian two's-complement of the unscaled value
    (reference transforms.py:369-374)."""
    unscaled = int(v.scaleb(-v.as_tuple().exponent)) if v.as_tuple().exponent < 0 else int(v)
    length = max(1, (unscaled.bit_length() + 8) // 8)
    return unscaled.to_bytes(length, "big", signed=True)


def bucket_bytes(value: Any, source_type: IcebergType) -> bytes:
    """Spec byte layout for bucket hashing (internal-representation input)."""
    if isinstance(source_type, (IntegerType, LongType, DateType, TimeType, TimestampType, TimestamptzType)):
        return struct.pack("<q", int(value))
    if isinstance(source_type, StringType):
        return str(value).encode("utf-8")
    if isinstance(source_type, UUIDType):
        import uuid as _uuid

        return _uuid.UUID(str(value)).bytes
    if isinstance(source_type, (BinaryType, FixedType)):
        return bytes(value)
    if isinstance(source_type, DecimalType):
        return _decimal_to_bytes(Decimal(str(value)))
    raise ValueError(f"bucket transform does not support {source_type}")


def bucket_hash(value: Any, source_type: IcebergType) -> int:
    return murmur3_32(bucket_bytes(value, source_type))


# ---------------------------------------------------------------------------
# transforms
# ---------------------------------------------------------------------------

_US_PER_DAY = 86_400_000_000
_US_PER_HOUR = 3_600_000_000


class Transform:
    name: str = ""

    def __repr__(self) -> str:
        return self.name

    def __eq__(self, o: object) -> bool:
        return isinstance(o, Transform) and self.name == getattr(o, "name", None)

    def __hash__(self) -> int:
        return hash(self.name)

    def result_type(self, source: IcebergType) -> IcebergType:
        return IntegerType()

    @property
    def preserves_order(self) -> bool:
        return False

    def transform(self, source: IcebergType) -> Callable[[Any], Any]:
        raise NotImplementedError

    def spark_expr(self, col: Column, source: IcebergType) -> Column:
        raise NotImplementedError

    # -- projection: bound row predicate -> unbound partition predicate ----
    def project(self, name: str, pred: BoundPredicate) -> Optional[BooleanExpression]:
        """Inclusive projection. ``pred`` literals are internal values; the
        returned UnboundPredicate carries *transformed* values."""
        from .expressions import UnboundPredicate

        fn = self.transform(pred.field.field_type)
        if pred.op in ("is_null", "not_null"):
            return UnboundPredicate(pred.op, name)  # all transforms preserve null
        if pred.op == "eq":
            return UnboundPredicate("eq", name, fn(pred.value))
        if pred.op == "in":
            return UnboundPredicate("in", name, *[fn(v) for v in pred.values])
        if self.preserves_order:
            # sound monotone rules: v < X ⇒ t(v) <= t(X), v > X ⇒ t(v) >= t(X)
            if pred.op in ("lt", "lt_eq"):
                return UnboundPredicate("lt_eq", name, fn(pred.value))
            if pred.op in ("gt", "gt_eq"):
                return UnboundPredicate("gt_eq", name, fn(pred.value))
        return None

    def strict_project(self, name: str, pred: BoundPredicate) -> Optional[BooleanExpression]:
        """Strict projection: partition predicate true ⇒ EVERY row matches."""
        from .expressions import UnboundPredicate

        fn = self.transform(pred.field.field_type)
        if pred.op in ("is_null", "not_null"):
            return UnboundPredicate(pred.op, name)
        if pred.op == "not_eq":
            return UnboundPredicate("not_eq", name, fn(pred.value))
        if pred.op == "not_in":
            return UnboundPredicate("not_in", name, *[fn(v) for v in pred.values])
        if self.preserves_order:
            # t(part) < t(X) ⇒ all rows < X (bucket width bound), etc. Over
            # an integer domain v <= X ⇔ v < X+1 and v >= X ⇔ v > X-1, which
            # is exact at inclusive boundaries: month(d) > month(X-1) holds
            # for X's own month when X is its first day (reference
            # transforms.py _truncate_number_strict)
            step = 1 if isinstance(pred.field.field_type, _INT_TYPES) else 0
            if pred.op == "lt":
                return UnboundPredicate("lt", name, fn(pred.value))
            if pred.op == "lt_eq":
                return UnboundPredicate("lt", name, fn(pred.value + step))
            if pred.op == "gt":
                return UnboundPredicate("gt", name, fn(pred.value))
            if pred.op == "gt_eq":
                return UnboundPredicate("gt", name, fn(pred.value - step))
        return None

    def to_human_string(self, source: IcebergType, value: Any) -> str:
        return "null" if value is None else str(value)


class IdentityTransform(Transform):
    name = "identity"

    @property
    def preserves_order(self) -> bool:
        return True

    def result_type(self, source: IcebergType) -> IcebergType:
        return source

    def to_human_string(self, source: IcebergType, value: Any) -> str:
        """Partition-path rendering parity with the reference
        (transforms.py:927 _human_string + utils/datetime.py:196-218):
        temporal internals render as ISO forms, bytes as base64,
        booleans lowercase — directory layouts must match byte-for-byte
        (conformance family #11)."""
        if value is None:
            return "null"
        if isinstance(value, bool):
            return "true" if value else "false"
        if isinstance(value, bytes):
            import base64

            return base64.b64encode(value).decode()
        if isinstance(value, int):
            import datetime as _dt

            if isinstance(source, DateType):
                return (_dt.date(1970, 1, 1) + _dt.timedelta(days=value)).isoformat()
            if isinstance(source, TimeType):
                return (
                    _dt.datetime(1970, 1, 1) + _dt.timedelta(microseconds=value)
                ).time().isoformat()
            if isinstance(source, TimestampType):
                return (
                    _dt.datetime(1970, 1, 1) + _dt.timedelta(microseconds=value)
                ).isoformat()
            if isinstance(source, TimestamptzType):
                return (
                    _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
                    + _dt.timedelta(microseconds=value)
                ).isoformat()
        return str(value)

    def transform(self, source: IcebergType) -> Callable[[Any], Any]:
        return lambda v: v

    def spark_expr(self, col: Column, source: IcebergType) -> Column:
        return col

    def project(self, name, pred):
        from .expressions import UnboundPredicate

        return UnboundPredicate(pred.op, name, *pred.values)

    def strict_project(self, name, pred):
        from .expressions import UnboundPredicate

        return UnboundPredicate(pred.op, name, *pred.values)


class BucketTransform(Transform):
    def __init__(self, num_buckets: int):
        self.num_buckets = num_buckets
        self.name = f"bucket[{num_buckets}]"

    def transform(self, source: IcebergType) -> Callable[[Any], Any]:
        n = self.num_buckets

        def fn(v: Any) -> Any:
            if v is None:
                return None
            return (bucket_hash(v, source) & 0x7FFFFFFF) % n

        return fn

    def spark_expr(self, col: Column, source: IcebergType) -> Column:
        n = self.num_buckets
        src = source

        if isinstance(src, (DateType, TimeType, TimestampType, TimestamptzType, IntegerType, LongType)):
            # normalize to the long internal representation JVM-side first,
            # hash in a vectorized pandas UDF
            if isinstance(src, DateType):
                col = F.datediff(col, F.lit("1970-01-01")).cast("long")
            elif isinstance(src, (TimestampType, TimestamptzType)):
                col = F.unix_micros(col.cast("timestamp"))
            else:
                col = col.cast("long")

            @pandas_udf(T.IntegerType())
            def bucket_long(s: pd.Series) -> pd.Series:
                import numpy as np

                mask = s.isna().to_numpy()
                vals = s.fillna(0).to_numpy(dtype="int64")
                h = murmur3_32_longs(vals)
                out = (h.astype(np.int64) & 0x7FFFFFFF) % n
                res = pd.array(out, dtype="Int32")
                res[mask] = pd.NA
                return pd.Series(res)

            return bucket_long(col)

        @pandas_udf(T.IntegerType())
        def bucket_any(s: pd.Series) -> pd.Series:
            def one(v):
                if v is None or (isinstance(v, float) and pd.isna(v)):
                    return None
                return (bucket_hash(v, src) & 0x7FFFFFFF) % n

            return s.map(one).astype("Int32")

        return bucket_any(col)

    # non-order-preserving: only eq/in/unary project (base class covers it)


class TruncateTransform(Transform):
    def __init__(self, width: int):
        self.width = width
        self.name = f"truncate[{width}]"

    @property
    def preserves_order(self) -> bool:
        return True

    def result_type(self, source: IcebergType) -> IcebergType:
        return source

    def transform(self, source: IcebergType) -> Callable[[Any], Any]:
        w = self.width
        if isinstance(source, (IntegerType, LongType)):
            return lambda v: None if v is None else v - (v % w)
        if isinstance(source, DecimalType):
            scale = source.scale

            def dec(v):
                if v is None:
                    return None
                d = Decimal(str(v))
                unscaled = int(d.scaleb(scale))
                truncated = unscaled - (unscaled % w)
                return Decimal(truncated).scaleb(-scale)

            return dec
        if isinstance(source, StringType):
            return lambda v: None if v is None else str(v)[:w]
        if isinstance(source, (BinaryType, FixedType)):
            return lambda v: None if v is None else bytes(v)[:w]
        raise ValueError(f"truncate does not support {source}")

    def spark_expr(self, col: Column, source: IcebergType) -> Column:
        w = self.width
        if isinstance(source, (IntegerType, LongType)):
            return col - F.pmod(col, F.lit(w))
        if isinstance(source, (StringType, BinaryType, FixedType)):
            return F.substring(col, 1, w)
        if isinstance(source, DecimalType):
            scale = source.scale
            unscaled = (col * F.lit(10**scale)).cast("long")
            return ((unscaled - F.pmod(unscaled, F.lit(w))) / F.lit(10**scale)).cast(
                T.DecimalType(source.precision, source.scale)
            )
        raise ValueError(f"truncate does not support {source}")


def _days_to_date(days: int) -> _dt.date:
    return _dt.date(1970, 1, 1) + _dt.timedelta(days=days)


def _us_to_dt(us: int) -> _dt.datetime:
    return _dt.datetime(1970, 1, 1) + _dt.timedelta(microseconds=us)


def _ts_scale(source: IcebergType) -> int:
    """Internal-value divisor to reach µs: ns types store ns longs."""
    from .types import TimestampNanoType, TimestamptzNanoType

    return 1000 if isinstance(source, (TimestampNanoType, TimestamptzNanoType)) else 1


class _TemporalTransform(Transform):
    @property
    def preserves_order(self) -> bool:
        return True


class YearTransform(_TemporalTransform):
    name = "year"

    def transform(self, source: IcebergType) -> Callable[[Any], Any]:
        if isinstance(source, DateType):
            return lambda v: None if v is None else _days_to_date(v).year - 1970
        scale = _ts_scale(source)
        return lambda v: None if v is None else _us_to_dt(v // scale).year - 1970

    def spark_expr(self, col: Column, source: IcebergType) -> Column:
        return (F.year(col) - F.lit(1970)).cast("int")

    def to_human_string(self, source: IcebergType, value: Any) -> str:
        # partition-path form is the calendar year, not the ordinal
        # (reference transforms.py _year_to_human_string; conformance-checked)
        return "null" if value is None else f"{value + 1970:0=4d}"


class MonthTransform(_TemporalTransform):
    name = "month"

    def transform(self, source: IcebergType) -> Callable[[Any], Any]:
        def months(d) -> int:
            return (d.year - 1970) * 12 + (d.month - 1)

        if isinstance(source, DateType):
            return lambda v: None if v is None else months(_days_to_date(v))
        scale = _ts_scale(source)
        return lambda v: None if v is None else months(_us_to_dt(v // scale))

    def spark_expr(self, col: Column, source: IcebergType) -> Column:
        return ((F.year(col) - F.lit(1970)) * F.lit(12) + F.month(col) - F.lit(1)).cast("int")

    def to_human_string(self, source: IcebergType, value: Any) -> str:
        if value is None:
            return "null"
        return f"{value // 12 + 1970:0=4d}-{value % 12 + 1:0=2d}"


class DayTransform(_TemporalTransform):
    name = "day"

    def result_type(self, source: IcebergType) -> IcebergType:
        return DateType()

    def transform(self, source: IcebergType) -> Callable[[Any], Any]:
        if isinstance(source, DateType):
            return lambda v: v
        scale = _ts_scale(source)
        return lambda v: None if v is None else v // scale // _US_PER_DAY

    def spark_expr(self, col: Column, source: IcebergType) -> Column:
        return F.datediff(col.cast("date"), F.lit("1970-01-01")).cast("int")

    def to_human_string(self, source: IcebergType, value: Any) -> str:
        return "null" if value is None else _days_to_date(value).isoformat()


class HourTransform(_TemporalTransform):
    name = "hour"

    def transform(self, source: IcebergType) -> Callable[[Any], Any]:
        scale = _ts_scale(source)
        return lambda v: None if v is None else v // scale // _US_PER_HOUR

    def spark_expr(self, col: Column, source: IcebergType) -> Column:
        return F.floor(F.unix_micros(col.cast("timestamp")) / F.lit(_US_PER_HOUR)).cast("int")

    def to_human_string(self, source: IcebergType, value: Any) -> str:
        if value is None:
            return "null"
        d = _us_to_dt(int(value) * _US_PER_HOUR)
        return f"{d.year:0=4d}-{d.month:0=2d}-{d.day:0=2d}-{d.hour:0=2d}"


class VoidTransform(Transform):
    name = "void"

    def transform(self, source: IcebergType) -> Callable[[Any], Any]:
        return lambda v: None

    def spark_expr(self, col: Column, source: IcebergType) -> Column:
        return F.lit(None).cast("int")

    def result_type(self, source: IcebergType) -> IcebergType:
        return source

    def project(self, name, pred):
        return None

    def strict_project(self, name, pred):
        return None


class UnknownTransform(Transform):
    """Placeholder for a transform this engine does not recognize
    (reference transforms.py:970 UnknownTransform): metadata naming a
    future/unknown transform still loads; partition pruning degrades to
    none for that field (project -> None is always sound), and applying
    the transform on the write path raises."""

    def __init__(self, transform: str):
        self._transform = transform
        self.name = transform  # round-trips verbatim through metadata

    def __repr__(self) -> str:
        return f"UnknownTransform({self._transform!r})"

    def __eq__(self, o):
        return isinstance(o, UnknownTransform) and o._transform == self._transform

    def __str__(self) -> str:
        return self._transform

    def transform(self, source: IcebergType) -> Callable[[Any], Any]:
        raise ValueError(f"cannot apply unsupported transform {self._transform!r}")

    def spark_expr(self, col: Column, source: IcebergType) -> Column:
        raise ValueError(f"cannot apply unsupported transform {self._transform!r}")

    def result_type(self, source: IcebergType) -> IcebergType:
        from .types import StringType as _Str

        return _Str()

    def project(self, name, pred):
        return None

    def strict_project(self, name, pred):
        return None


def parse_transform(s: str) -> Transform:
    s = s.strip().lower()
    simple = {
        "identity": IdentityTransform(),
        "year": YearTransform(),
        "years": YearTransform(),
        "month": MonthTransform(),
        "months": MonthTransform(),
        "day": DayTransform(),
        "days": DayTransform(),
        "hour": HourTransform(),
        "hours": HourTransform(),
        "void": VoidTransform(),
    }
    if s in simple:
        return simple[s]
    if s.startswith("bucket"):
        return BucketTransform(int(s[s.index("[") + 1 : s.rindex("]")]))
    if s.startswith("truncate"):
        return TruncateTransform(int(s[s.index("[") + 1 : s.rindex("]")]))
    return UnknownTransform(s)
