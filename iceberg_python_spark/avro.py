"""Pure-Python Avro Object Container File (OCF) reader/writer.

Interop surface for Iceberg metadata: real Iceberg tables store their
manifest list and manifests as Avro (reference pyiceberg/avro/file.py:132,
decoder pyiceberg/avro/decoder.py, resolver pyiceberg/avro/resolver.py).
This is an independent implementation of the public Avro 1.x spec
(container file + binary encoding), stdlib-only, driver- and
executor-safe (no JVM, no external deps):

- reads/writes the OCF layout: magic ``Obj\\x01``, file-metadata map
  (``avro.schema`` JSON + ``avro.codec``), 16-byte sync marker, then
  blocks of ``(count, byte-size, payload, sync)``;
- codecs: ``null`` and ``deflate`` (raw DEFLATE, RFC 1951 — what Java
  Avro emits);
- decoding is driven entirely by the *writer schema* embedded in the
  file, producing plain dicts keyed by field name — so any Iceberg
  format version (v1/v2/v3) decodes without a hardcoded reader schema;
- logical types kept in Iceberg-internal form: ``date`` stays int days,
  ``timestamp-micros`` stays long µs, ``decimal`` becomes
  :class:`decimal.Decimal`, ``uuid`` becomes its string form.

Scale note: manifests are metadata (KBs–MBs); decode is driver-side or
inside a Spark task during distributed planning. The data plane never
touches this module.
"""

from __future__ import annotations

import io
import json
import os
import struct
import zlib
from decimal import Decimal
from typing import Any, BinaryIO, Dict, Iterable, Iterator, List, Optional, Tuple, Union

MAGIC = b"Obj\x01"
SYNC_SIZE = 16

_PRIMITIVES = {"null", "boolean", "int", "long", "float", "double", "bytes", "string"}


# ---------------------------------------------------------------------------
# schema handling
# ---------------------------------------------------------------------------


def _norm_schema(schema: Any, env: Dict[str, Any]) -> Any:
    """Normalize a parsed Avro schema: resolve named-type references and
    register named types (record/enum/fixed) in ``env`` by full name."""
    if isinstance(schema, str):
        if schema in _PRIMITIVES:
            return schema
        if schema in env:
            return env[schema]
        raise ValueError(f"unknown Avro type reference {schema!r}")
    if isinstance(schema, list):  # union
        return [_norm_schema(b, env) for b in schema]
    if isinstance(schema, dict):
        t = schema.get("type")
        if t in ("record", "enum", "fixed"):
            name = schema.get("name")
            if name:
                env[name] = schema
                ns = schema.get("namespace")
                if ns:
                    env[f"{ns}.{name}"] = schema
        if t == "record":
            for f in schema.get("fields", []):
                f["type"] = _norm_schema(f["type"], env)
        elif t == "array":
            schema["items"] = _norm_schema(schema["items"], env)
        elif t == "map":
            schema["values"] = _norm_schema(schema["values"], env)
        elif isinstance(t, (dict, list)):
            schema["type"] = _norm_schema(t, env)
        elif isinstance(t, str) and t not in _PRIMITIVES and t not in (
            "record",
            "enum",
            "fixed",
            "array",
            "map",
        ):
            # {"type": "r102", "field-id": ...} style reference wrapper
            return _norm_schema(t, env)
        return schema
    raise ValueError(f"bad Avro schema node: {schema!r}")


def parse_schema(schema_json: Union[str, bytes, Dict[str, Any]]) -> Any:
    if isinstance(schema_json, (str, bytes)):
        schema_json = json.loads(schema_json)
    return _norm_schema(schema_json, {})


# ---------------------------------------------------------------------------
# binary decoder
# ---------------------------------------------------------------------------


class _Reader:
    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def read(self, n: int) -> bytes:
        p = self.pos
        self.pos = p + n
        out = self.buf[p : p + n]
        if len(out) != n:
            raise EOFError("truncated Avro data")
        return out

    def read_long(self) -> int:
        """Zigzag varint (spec: binary encoding of int/long)."""
        buf, p = self.buf, self.pos
        b = buf[p]
        n = b & 0x7F
        shift = 7
        while b & 0x80:
            p += 1
            b = buf[p]
            n |= (b & 0x7F) << shift
            shift += 7
        self.pos = p + 1
        return (n >> 1) ^ -(n & 1)

    def read_bytes(self) -> bytes:
        return self.read(self.read_long())


def _compile(schema: Any):
    """Compile a (normalized) schema into a closure tree — one function
    per schema node, resolved ONCE instead of per decoded value. This is
    the pure-Python stand-in for the reference's Cython decoder
    (avro/decoder_fast.pyx): the returned function decodes one value
    from a ``_Reader``. It is the module's one decoder: file headers and
    records both go through it."""
    if isinstance(schema, str):
        if schema == "null":
            return lambda r: None
        if schema == "boolean":
            return lambda r: r.read(1) == b"\x01"
        if schema in ("int", "long"):
            return _Reader.read_long
        if schema == "float":
            return lambda r: struct.unpack("<f", r.read(4))[0]
        if schema == "double":
            return lambda r: struct.unpack("<d", r.read(8))[0]
        if schema == "bytes":
            return _Reader.read_bytes
        if schema == "string":
            # inlined read_bytes: length varint + slice + decode in one
            # frame — strings are the hottest leaf in manifest decode
            def read_string(r):
                buf, p = r.buf, r.pos
                b = buf[p]
                n = b & 0x7F
                shift = 7
                while b & 0x80:
                    p += 1
                    b = buf[p]
                    n |= (b & 0x7F) << shift
                    shift += 7
                p += 1
                n = (n >> 1) ^ -(n & 1)
                r.pos = p + n
                return buf[p : p + n].decode("utf-8")

            return read_string
        raise ValueError(f"unknown primitive {schema!r}")
    if isinstance(schema, list):
        branches = [_compile(s) for s in schema]

        def read_union(r, branches=branches):
            return branches[r.read_long()](r)

        return read_union
    t = schema["type"]
    if t == "record":
        fields = [(f["name"], _compile(f["type"])) for f in schema["fields"]]

        def read_record(r, fields=fields):
            return {name: fn(r) for name, fn in fields}

        return read_record
    if t == "array":
        item = _compile(schema["items"])

        def read_array(r, item=item):
            out = []
            while True:
                n = r.read_long()
                if n == 0:
                    return out
                if n < 0:
                    r.read_long()
                    n = -n
                for _ in range(n):
                    out.append(item(r))

        return read_array
    if t == "map":
        value = _compile(schema["values"])

        def read_map(r, value=value):
            out = {}
            while True:
                n = r.read_long()
                if n == 0:
                    return out
                if n < 0:
                    r.read_long()
                    n = -n
                for _ in range(n):
                    k = r.read_bytes().decode("utf-8")
                    out[k] = value(r)

        return read_map
    if t == "fixed":
        size = schema["size"]
        if schema.get("logicalType"):
            return lambda r, s=schema: _apply_logical(s, r.read(size))
        return lambda r: r.read(size)
    if t == "enum":
        symbols = schema["symbols"]
        return lambda r: symbols[r.read_long()]
    if t in _PRIMITIVES:
        prim = _compile(t)
        if schema.get("logicalType"):
            return lambda r, s=schema, p=prim: _apply_logical(s, p(r))
        return prim
    raise ValueError(f"unknown Avro type {t!r}")


def _apply_logical(schema: Dict[str, Any], raw: Any) -> Any:
    lt = schema.get("logicalType")
    if lt == "decimal":
        scale = int(schema.get("scale", 0))
        unscaled = int.from_bytes(raw, "big", signed=True) if raw else 0
        return Decimal(unscaled).scaleb(-scale)
    if lt == "uuid" and isinstance(raw, bytes):
        import uuid as _uuid

        return str(_uuid.UUID(bytes=raw))
    # date / time-micros / timestamp-micros stay as ints (Iceberg-internal)
    return raw


# ---------------------------------------------------------------------------
# binary encoder
# ---------------------------------------------------------------------------


def _zigzag(n: int) -> bytes:
    n = (n << 1) ^ (n >> 63) if n < 0 else n << 1
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _encode(schema: Any, v: Any, out: bytearray) -> None:
    if isinstance(schema, str):
        if schema == "null":
            return
        if schema == "boolean":
            out += b"\x01" if v else b"\x00"
        elif schema in ("int", "long"):
            out += _zigzag(int(v))
        elif schema == "float":
            out += struct.pack("<f", float(v))
        elif schema == "double":
            out += struct.pack("<d", float(v))
        elif schema == "bytes":
            b = bytes(v)
            out += _zigzag(len(b))
            out += b
        elif schema == "string":
            b = str(v).encode("utf-8")
            out += _zigzag(len(b))
            out += b
        else:
            raise ValueError(f"unknown primitive {schema!r}")
        return
    if isinstance(schema, list):  # union: pick null branch for None, else first matching
        if v is None:
            for i, b in enumerate(schema):
                if b == "null":
                    out += _zigzag(i)
                    return
            raise ValueError("None for non-nullable union")
        for i, b in enumerate(schema):
            if b != "null":
                out += _zigzag(i)
                _encode(b, v, out)
                return
        raise ValueError("union has no non-null branch")
    t = schema["type"]
    if t == "record":
        for f in schema["fields"]:
            if f["name"] in v:
                fv = f["name"]
                _encode(f["type"], v[fv], out)
            elif "default" in f:
                _encode(f["type"], f["default"], out)
            elif isinstance(f["type"], list) and "null" in f["type"]:
                _encode(f["type"], None, out)
            else:
                raise ValueError(f"missing required field {f['name']!r}")
        return
    if t == "array":
        items = list(v)
        if items:
            out += _zigzag(len(items))
            for item in items:
                _encode(schema["items"], item, out)
        out += _zigzag(0)
        return
    if t == "map":
        entries = dict(v)
        if entries:
            out += _zigzag(len(entries))
            for k, mv in entries.items():
                _encode("string", str(k), out)
                _encode(schema["values"], mv, out)
        out += _zigzag(0)
        return
    if t == "fixed":
        b = _logical_to_bytes(schema, v, fixed_size=schema["size"])
        if len(b) != schema["size"]:
            raise ValueError(f"fixed size mismatch: {len(b)} != {schema['size']}")
        out += b
        return
    if t == "enum":
        out += _zigzag(schema["symbols"].index(v))
        return
    if t in _PRIMITIVES:
        lt = schema.get("logicalType")
        if lt == "decimal" and t == "bytes":
            _encode("bytes", _logical_to_bytes(schema, v), out)
        else:
            _encode(t, v, out)
        return
    raise ValueError(f"unknown Avro type {t!r}")


def _logical_to_bytes(schema: Dict[str, Any], v: Any, fixed_size: Optional[int] = None) -> bytes:
    lt = schema.get("logicalType")
    if lt == "decimal":
        scale = int(schema.get("scale", 0))
        unscaled = int(Decimal(v).scaleb(scale).to_integral_value())
        n = max(1, (unscaled.bit_length() + 8) // 8)
        if fixed_size:
            n = fixed_size
        return unscaled.to_bytes(n, "big", signed=True)
    if lt == "uuid":
        import uuid as _uuid

        return _uuid.UUID(str(v)).bytes
    return bytes(v)


# ---------------------------------------------------------------------------
# container file
# ---------------------------------------------------------------------------


def read_file(source: Union[str, bytes, BinaryIO]) -> Tuple[Any, Dict[str, bytes], List[Dict[str, Any]]]:
    """Read an OCF: returns (parsed writer schema, file metadata, records)."""
    if isinstance(source, str):
        with open(source, "rb") as f:
            buf = f.read()
    elif isinstance(source, bytes):
        buf = source
    else:
        buf = source.read()
    r = _Reader(buf)
    if r.read(4) != MAGIC:
        raise ValueError("not an Avro object container file (bad magic)")
    meta_schema = parse_schema({"type": "map", "values": "bytes"})
    meta = _compile(meta_schema)(r)
    sync = r.read(SYNC_SIZE)
    schema = parse_schema(meta["avro.schema"])
    codec = meta.get("avro.codec", b"null").decode()
    decode = _compile(schema)  # resolve schema dispatch once, not per value
    records: List[Dict[str, Any]] = []
    while r.pos < len(buf):
        count = r.read_long()
        size = r.read_long()
        payload = r.read(size)
        payload = _decompress_block(codec, payload)
        br = _Reader(payload)
        for _ in range(count):
            records.append(decode(br))
        if r.read(SYNC_SIZE) != sync:
            raise ValueError("sync marker mismatch (corrupt Avro block)")
    return schema, meta, records


def _compress_block(codec: str, payload: bytes) -> bytes:
    """Avro block compression (reference avro/codecs/: deflate, bzip2,
    zstandard, snappy — snappy carries a 4-byte big-endian CRC32 of the
    UNCOMPRESSED data after the block, avro spec §codecs)."""
    if codec == "null":
        return payload
    if codec == "deflate":
        c = zlib.compressobj(6, zlib.DEFLATED, -15)
        return c.compress(payload) + c.flush()
    if codec == "bzip2":
        import bz2

        return bz2.compress(payload)
    if codec == "zstandard":
        import pyarrow as pa

        return pa.Codec("zstd").compress(payload, asbytes=True)
    if codec == "snappy":
        import binascii
        import struct

        import pyarrow as pa

        comp = pa.Codec("snappy").compress(payload, asbytes=True)
        return comp + struct.pack(">I", binascii.crc32(payload) & 0xFFFFFFFF)
    raise ValueError(f"unsupported Avro codec {codec!r}")


def _decompress_block(codec: str, payload: bytes) -> bytes:
    if codec == "null":
        return payload
    if codec == "deflate":
        return zlib.decompress(payload, -15)
    if codec == "bzip2":
        import bz2

        return bz2.decompress(payload)
    if codec == "zstandard":
        import pyarrow as pa

        # zstd frames don't always carry the content size; stream it
        stream = pa.input_stream(pa.BufferReader(payload), compression="zstd")
        return stream.read()
    if codec == "snappy":
        import binascii
        import struct

        import pyarrow as pa

        comp, crc = payload[:-4], payload[-4:]
        # raw snappy leads with the uncompressed length as a uvarint —
        # decode it so pyarrow's one-shot decompress knows the output size
        size = shift = 0
        for i, b in enumerate(comp):
            size |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
        out = pa.Codec("snappy").decompress(comp, decompressed_size=size, asbytes=True)
        if binascii.crc32(out) & 0xFFFFFFFF != struct.unpack(">I", crc)[0]:
            raise ValueError("Avro snappy block CRC mismatch")
        return out
    raise ValueError(f"unsupported Avro codec {codec!r}")


def write_file(
    path: str,
    schema: Union[str, Dict[str, Any]],
    records: Iterable[Dict[str, Any]],
    metadata: Optional[Dict[str, Union[str, bytes]]] = None,
    codec: str = "deflate",
) -> None:
    """Write records as a single-block OCF (manifests are small; one block
    keeps the file dense and the write O(records))."""
    schema_json = schema if isinstance(schema, str) else json.dumps(schema)
    parsed = parse_schema(schema_json)
    body = bytearray()
    n = 0
    for rec in records:
        _encode(parsed, rec, body)
        n += 1
    payload = _compress_block(codec, bytes(body))
    meta: Dict[str, bytes] = {
        "avro.schema": schema_json.encode("utf-8"),
        "avro.codec": codec.encode("ascii"),
    }
    for k, v in (metadata or {}).items():
        meta[k] = v.encode("utf-8") if isinstance(v, str) else bytes(v)
    sync = os.urandom(SYNC_SIZE)
    out = bytearray(MAGIC)
    _encode(parse_schema({"type": "map", "values": "bytes"}), meta, out)
    out += sync
    if n:
        out += _zigzag(n)
        out += _zigzag(len(payload))
        out += payload
        out += sync
    d = os.path.dirname(path)
    if d:
        os.makedirs(d, exist_ok=True)
    with open(path, "wb") as f:
        f.write(bytes(out))
