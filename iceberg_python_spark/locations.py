"""File location providers (reference table/locations.py:1-205).

Object stores (S3 and friends) shard request throughput by key prefix:
a table whose data files all share the monotonic prefix
``.../table/data/partition=...`` concentrates reads and writes on one
shard and throttles at a few thousand requests/s regardless of cluster
size. ``write.object-storage.enabled=true`` switches new data files to
a hash-prefix "entropy" layout —

    <data path>/0110/1010/1011/00011101/<file name>

— where the binary dirs come from a murmur3 hash of the file name, so
100 TB of files spread uniformly over 2^12 top-level prefixes and every
prefix stays inside the store's per-shard limits. The fixed dir shape
(3 dirs x 4 bits + 8-bit leaf) also bounds the fan-out a recursive
lister must walk, which is what keeps orphan-file sweeps cheap.

Properties (same keys/defaults as the reference):

- ``write.object-storage.enabled``            (default ``false``)
- ``write.object-storage.partitioned-paths``  (default ``true``) —
  when false, hive-style ``k=v`` partition dirs are omitted and the
  entropy string is dash-joined to the file name (pure flat keyspace)
- ``write.data.path``                         (default ``<location>/data``)
"""

from __future__ import annotations

import posixpath
from typing import Dict, Optional

from .transforms import murmur3_32

HASH_BITS = 20
ENTROPY_DIR_LENGTH = 4
ENTROPY_DIR_DEPTH = 3

OBJECT_STORE_ENABLED = "write.object-storage.enabled"
PARTITIONED_PATHS = "write.object-storage.partitioned-paths"
WRITE_DATA_PATH = "write.data.path"
WRITE_METADATA_PATH = "write.metadata.path"


def metadata_base_path(table_location: str, properties: Optional[Dict[str, str]] = None) -> str:
    """Base dir for NEW engine-owned metadata files (reference
    locations.py:56 honors ``write.metadata.path`` the same way):
    metadata JSON, manifests and statistics files all land
    here. Existing files keep working after a property change — every
    recorded metadata path is absolute, so the override only redirects
    new writes. The filesystem-catalog ``version-hint.text`` FILE stays
    under ``<location>/metadata`` (it is the DISCOVERY convention a
    path-only reader probes before it can see any properties); when the
    override is active its BODY carries the full metadata path instead
    of a basename, and hint readers accept either form."""
    custom = (properties or {}).get(WRITE_METADATA_PATH)
    return custom.rstrip("/") if custom else f"{table_location.rstrip('/')}/metadata"


def _to_bool(v: Optional[str], default: bool) -> bool:
    if v is None:
        return default
    return str(v).strip().lower() in ("true", "1", "yes")


def entropy_dirs(file_name: str) -> str:
    """20 murmur3 bits of the file name as ``dddd/dddd/dddd/dddddddd``
    binary-digit dirs (reference ObjectStoreLocationProvider._compute_hash)."""
    h = murmur3_32(file_name.encode("utf-8")) & ((1 << HASH_BITS) - 1)
    bits = format(h, f"0{HASH_BITS}b")
    total = ENTROPY_DIR_DEPTH * ENTROPY_DIR_LENGTH
    parts = [bits[i : i + ENTROPY_DIR_LENGTH] for i in range(0, total, ENTROPY_DIR_LENGTH)]
    parts.append(bits[total:])
    return "/".join(parts)


class LocationProvider:
    """Maps (file name, partition path) -> fully qualified data path."""

    def __init__(self, table_location: str, properties: Optional[Dict[str, str]] = None):
        properties = properties or {}
        self.table_location = table_location.rstrip("/")
        self.properties = properties
        custom = properties.get(WRITE_DATA_PATH)
        self.data_path = custom.rstrip("/") if custom else f"{self.table_location}/data"

    def new_data_location(self, file_name: str, partition_path: Optional[str] = None) -> str:
        raise NotImplementedError


class SimpleLocationProvider(LocationProvider):
    def new_data_location(self, file_name: str, partition_path: Optional[str] = None) -> str:
        if partition_path:
            return posixpath.join(self.data_path, partition_path, file_name)
        return posixpath.join(self.data_path, file_name)


class ObjectStoreLocationProvider(LocationProvider):
    def __init__(self, table_location: str, properties: Optional[Dict[str, str]] = None):
        super().__init__(table_location, properties)
        self.include_partition_paths = _to_bool(
            (properties or {}).get(PARTITIONED_PATHS), True
        )

    def new_data_location(self, file_name: str, partition_path: Optional[str] = None) -> str:
        if self.include_partition_paths and partition_path:
            # hash over the partition-qualified name so sibling files of
            # one partition still scatter across prefixes
            return self.new_data_location(f"{partition_path}/{file_name}")
        hashed = entropy_dirs(file_name)
        if self.include_partition_paths:
            return posixpath.join(self.data_path, hashed, file_name)
        return posixpath.join(self.data_path, f"{hashed}-{file_name}")


PY_LOCATION_PROVIDER_IMPL = "write.py-location-provider.impl"


def load_location_provider(
    table_location: str, properties: Optional[Dict[str, str]] = None
) -> LocationProvider:
    """Resolve the table's location provider. A custom implementation
    loads from ``write.py-location-provider.impl`` = ``module.Class``
    (the reference's property, table/locations.py:1-205 — its loader
    accepts the same dotted path); the class must subclass
    LocationProvider (duck-typed ``new_data_location``)."""
    impl = (properties or {}).get(PY_LOCATION_PROVIDER_IMPL)
    if impl:
        import importlib

        mod_name, _, cls_name = impl.rpartition(".")
        if not mod_name:
            raise ValueError(
                f"{PY_LOCATION_PROVIDER_IMPL} must be 'module.Class', got {impl!r}"
            )
        try:
            cls = getattr(importlib.import_module(mod_name), cls_name)
        except (ImportError, AttributeError) as e:
            raise ValueError(f"cannot load location provider {impl!r}: {e}") from e
        return cls(table_location, properties)
    if _to_bool((properties or {}).get(OBJECT_STORE_ENABLED), False):
        return ObjectStoreLocationProvider(table_location, properties)
    return SimpleLocationProvider(table_location, properties)
