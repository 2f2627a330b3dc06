"""Single-value serialization for stats bounds and partition values.

The reference serializes bounds as binary (pyiceberg/conversions.py:200-397)
because its manifests are Avro with binary stat fields. Our manifests are
parquet with JSON-encoded stat maps (SURVEY.md §7: semantic parity over
byte parity), so the codec here is value <-> JSON-friendly form, applied
to *internal* representations (dates=days, time/timestamps=µs).
"""

from __future__ import annotations

import base64
from decimal import Decimal
from typing import Any, Callable, Optional

from .types import (
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
    TimestamptzType,
    TimestampType,
    TimeType,
    UUIDType,
)

_INT_TYPES = (IntegerType, LongType, DateType, TimeType, TimestampType, TimestamptzType)


def value_to_json(value: Any, t: IcebergType) -> Any:
    if value is None:
        return None
    if isinstance(t, _INT_TYPES):
        return int(value)
    if isinstance(t, (FloatType, DoubleType)):
        return float(value)
    if isinstance(t, BooleanType):
        return bool(value)
    if isinstance(t, (StringType, UUIDType)):
        return str(value)
    if isinstance(t, DecimalType):
        return str(value)
    if isinstance(t, (BinaryType, FixedType)):
        return base64.b64encode(bytes(value)).decode("ascii")
    raise ValueError(f"cannot serialize value of type {t}")


def to_bytes(value: Any, t: IcebergType) -> bytes:
    """Binary single-value serialization (Iceberg spec Appendix D) —
    the encoding of Avro manifest stat bounds (reference
    pyiceberg/conversions.py:200-300). Values are internal form
    (dates=days, time/timestamps=µs)."""
    import struct

    if isinstance(t, BooleanType):
        return b"\x01" if value else b"\x00"
    if isinstance(t, (IntegerType, DateType)):
        return struct.pack("<i", int(value))
    if isinstance(t, (LongType, TimeType, TimestampType, TimestamptzType)):
        return struct.pack("<q", int(value))
    if isinstance(t, FloatType):
        return struct.pack("<f", float(value))
    if isinstance(t, DoubleType):
        return struct.pack("<d", float(value))
    if isinstance(t, StringType):
        return str(value).encode("utf-8")
    if isinstance(t, UUIDType):
        import uuid as _uuid

        return _uuid.UUID(str(value)).bytes
    if isinstance(t, (BinaryType, FixedType)):
        return bytes(value)
    if isinstance(t, DecimalType):
        unscaled = int(Decimal(value).scaleb(t.scale).to_integral_value())
        n = max(1, (unscaled.bit_length() + 8) // 8)
        return unscaled.to_bytes(n, "big", signed=True)
    raise ValueError(f"cannot binary-serialize value of type {t}")


def from_bytes(b: Optional[bytes], t: IcebergType) -> Any:
    """Inverse of :func:`to_bytes`; lenient on int width (some writers
    emit 8-byte bounds for int columns)."""
    import struct

    if b is None:
        return None
    b = bytes(b)
    if isinstance(t, BooleanType):
        return b != b"\x00"
    if isinstance(t, (IntegerType, DateType)):
        return struct.unpack("<q" if len(b) == 8 else "<i", b)[0]
    if isinstance(t, (LongType, TimeType, TimestampType, TimestamptzType)):
        return struct.unpack("<i" if len(b) == 4 else "<q", b)[0]
    if isinstance(t, FloatType):
        return struct.unpack("<f", b)[0]
    if isinstance(t, DoubleType):
        return struct.unpack("<d", b)[0]
    if isinstance(t, StringType):
        return b.decode("utf-8")
    if isinstance(t, UUIDType):
        import uuid as _uuid

        return str(_uuid.UUID(bytes=b))
    if isinstance(t, (BinaryType, FixedType)):
        return b
    if isinstance(t, DecimalType):
        return Decimal(int.from_bytes(b, "big", signed=True)).scaleb(-t.scale)
    raise ValueError(f"cannot binary-deserialize value of type {t}")


def json_decoder(t: IcebergType) -> Callable[[Any], Any]:
    """Inverse of :func:`value_to_json` for non-null values of type
    ``t``, as one callable: hot decode loops dispatch on the type once,
    not once per value."""
    if isinstance(t, _INT_TYPES):
        return int
    if isinstance(t, (FloatType, DoubleType)):
        return float
    if isinstance(t, BooleanType):
        return bool
    if isinstance(t, (StringType, UUIDType)):
        return str
    if isinstance(t, DecimalType):
        return Decimal
    if isinstance(t, (BinaryType, FixedType)):
        return base64.b64decode

    def unsupported(j: Any) -> Any:
        raise ValueError(f"cannot deserialize value of type {t}")

    return unsupported
