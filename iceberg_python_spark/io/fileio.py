"""FileIO — scheme-aware file operations for table metadata and commits.

The reference abstracts storage behind FileIO implementations
(pyiceberg/io/__init__.py:324 FileIO, fsspec/pyarrow backends) so one
code path serves local disk, S3, GCS, ADLS and HDFS. Here the data
plane already goes through Spark (``spark.read.parquet`` /
``df.write``), which handles any Hadoop-supported scheme natively; this
module covers the REST of the engine — listing freshly written files,
footer sizes, metadata JSON, manifest parquet, and GC deletes — with
the same dispatch:

- plain local paths (no scheme) and ``file:`` URIs use ``os``/builtin
  IO (fast path, no JVM round-trip);
- any other scheme (``s3a:``, ``hdfs:``, ``gs:``, ``abfs:``, …) routes
  through the driver's Hadoop FileSystem via ``spark._jvm`` when a
  SparkSession is active — the same connector stack Spark's own writes
  use, so any scheme Spark can write is a scheme we can commit;
- with NO active SparkSession, remote paths fall back to a pure-Python
  ``pyarrow.fs`` FileSystem (reference io/fsspec.py:428 use-case:
  metadata/Puffin reads without a JVM — StaticTable.from_metadata,
  inspection tooling, GC scripts).

Executor-side footer reads (no JVM access from Python workers) use
pyarrow's FileSystem.from_uri with the conventional ``s3a:`` → ``s3:``
mapping instead.
"""

from __future__ import annotations

import os
import re
from typing import List, Optional, Tuple

_SCHEME_RE = re.compile(r"^([A-Za-z][A-Za-z0-9+.-]*):/")


def split_scheme(path: str) -> Tuple[Optional[str], str]:
    """(scheme, rest-after-colon). Handles both URI forms Hadoop emits:
    ``file:///p`` and ``file:/p``."""
    m = _SCHEME_RE.match(path)
    if not m:
        return None, path
    scheme = m.group(1)
    return scheme, path[len(scheme) + 1 :]


def path_only(path: str) -> str:
    """The path component with any scheme and authority slashes
    collapsed: ``file:///tmp/x`` / ``file:/tmp/x`` -> ``/tmp/x``."""
    scheme, rest = split_scheme(path)
    if scheme is None:
        return path
    return "/" + rest.lstrip("/")


def is_remote(path: str) -> bool:
    scheme, _ = split_scheme(path)
    return scheme is not None and scheme != "file"


def to_local(path: str) -> str:
    """Strip a file scheme; raise for genuinely remote paths so a local
    fallback never silently reads the wrong store."""
    scheme, _rest = split_scheme(path)
    if scheme is None:
        return path
    if scheme == "file":
        return path_only(path)
    raise ValueError(f"path is not local: {path}")


def _spark_or_none(spark=None):
    if spark is not None:
        return spark
    from pyspark.sql import SparkSession

    return SparkSession.getActiveSession()


# Schemes pyarrow.fs resolves natively without any JVM connector:
# GcsFileSystem (gs) and AzureFileSystem (abfs/abfss). For these the
# pure-Python route is taken even with an ACTIVE SparkSession whenever
# the JVM lacks the connector (gcs-connector / hadoop-azure not on the
# classpath — the common slim-client install), mirroring what
# _use_boto3 does for S3. This is the reference io/fsspec.py:428 role:
# the driver-side metadata plane (StaticTable, catalog commits, GC)
# works on gs:// and abfs:// with no Hadoop filesystem at all.
# ``oss`` (Alibaba, S3-wire-compatible behind an endpoint override) and
# ``hf`` (HuggingFace datasets, via the gated huggingface_hub fsspec
# filesystem) complete the reference's scheme table
# (io/__init__.py:329; HF config keys io/__init__.py:113-114).
_PYARROW_SCHEMES = ("gs", "gcs", "abfs", "abfss", "oss", "hf")


def _oss_filesystem():
    """Alibaba OSS speaks the S3 wire protocol: a pyarrow S3FileSystem
    with the OSS endpoint (``OSS_ENDPOINT_URL``, falling back to the
    generic ``AWS_ENDPOINT_URL``) and the OSS credential pair when set
    (reference io/fsspec.py routes oss:// through s3fs the same way)."""
    from pyarrow import fs as pafs

    endpoint = os.environ.get("OSS_ENDPOINT_URL") or os.environ.get("AWS_ENDPOINT_URL")
    kwargs = {}
    if endpoint:
        kwargs["endpoint_override"] = endpoint
    access = os.environ.get("OSS_ACCESS_KEY_ID")
    secret = os.environ.get("OSS_SECRET_ACCESS_KEY")
    if access and secret:
        kwargs.update(access_key=access, secret_key=secret)
    return pafs.S3FileSystem(**kwargs)


def _hf_filesystem():
    """HuggingFace datasets filesystem, wrapped for pyarrow. Gated on
    ``huggingface_hub`` (not installable in every environment — the
    same honest import gate as the Daft/Bodo exports); the fsspec
    instance honors ``HF_TOKEN``/``HF_ENDPOINT`` like the reference's
    hf.token / hf.endpoint properties (io/__init__.py:113-114)."""
    try:
        from huggingface_hub import HfFileSystem
    except ImportError as e:  # pragma: no cover - env without the lib
        raise ImportError(
            "hf:// paths need the 'huggingface_hub' package (pip install "
            "huggingface_hub); alternatively register_filesystem('hf', fs) "
            "with any pyarrow FileSystem"
        ) from e
    from pyarrow import fs as pafs

    return pafs.PyFileSystem(
        pafs.FSSpecHandler(
            HfFileSystem(
                token=os.environ.get("HF_TOKEN"), endpoint=os.environ.get("HF_ENDPOINT")
            )
        )
    )

# scheme -> pyarrow FileSystem override (tests mount a SubTreeFileSystem
# as a fake bucket store; production can inject a configured
# GcsFileSystem/AzureFileSystem with explicit credentials)
_fs_overrides: dict = {}


def register_filesystem(scheme: str, fs) -> None:
    """Route ``scheme://bucket/key`` paths through an explicit pyarrow
    FileSystem (fs path = ``bucket/key``). Pass None to unregister."""
    if fs is None:
        _fs_overrides.pop(scheme, None)
    else:
        _fs_overrides[scheme] = fs


def _pa_fs(path: str):
    """(pyarrow FileSystem, fs-relative path) for a remote URI — the
    pure-Python route. Registered overrides win; oss/hf construct their
    adapters here; otherwise FileSystem.from_uri (raises informatively
    for unresolvable schemes)."""
    from pyarrow import fs as pafs

    scheme, rest = split_scheme(path)
    # fs-relative form: strip the authority slashes (bucket/key), reusing
    # split_scheme's remainder so exotic inputs (scheme:path with no
    # "//") cannot raise a bare IndexError (ADVICE r8)
    rel = rest.lstrip("/")
    if scheme in _fs_overrides:
        return _fs_overrides[scheme], rel
    if scheme == "oss":
        return _oss_filesystem(), rel
    if scheme == "hf":
        return _hf_filesystem(), rel
    uri = path.replace("s3a://", "s3://", 1)
    return pafs.FileSystem.from_uri(uri)


def _route_pyarrow(path: str, spark) -> bool:
    """True when this path should take the pure-Python pyarrow.fs route
    even though a SparkSession is active: an explicitly registered
    filesystem always wins; gs/abfs go pure-Python when the JVM has no
    connector for them."""
    scheme, _ = split_scheme(path)
    if scheme in _fs_overrides:
        return True
    if scheme not in _PYARROW_SCHEMES:
        return False
    return spark is None or not _jvm_handles(spark, scheme)


# -- boto3 S3 adapter ---------------------------------------------------------
# Pure-Python S3 IO for the driver-side metadata plane (reference
# io/fsspec.py:428 serves the same role via s3fs). Used for s3:// paths
# when (a) no SparkSession is active, or (b) the JVM has no s3a driver
# (hadoop-aws not on the classpath — true in this sandbox, common in
# slim client installs). Metadata files are small, so single-request
# put_object/get_object beats a multipart dance; boto3 honors the
# standard credential chain + AWS_ENDPOINT_URL. Data-plane parquet IO
# still goes through Spark/Hadoop (executors never touch this path).

_S3_SCHEMES = ("s3", "s3a", "s3n")
_s3_client_cache: dict = {}
_jvm_scheme_support: dict = {}


def _s3_split(path: str) -> Tuple[str, str]:
    rest = path.split("://", 1)[1]
    bucket, _, key = rest.partition("/")
    return bucket, key


def _boto3_s3():
    """Process-cached boto3 S3 client, or None when boto3 is absent."""
    if "client" not in _s3_client_cache:
        try:
            import boto3

            _s3_client_cache["client"] = boto3.client("s3")
        except Exception:
            _s3_client_cache["client"] = None
    return _s3_client_cache["client"]


def _jvm_handles(spark, scheme: str) -> bool:
    """Whether the JVM Hadoop conf has a FileSystem for `scheme`
    (hadoop-aws present). Probed once per scheme per process."""
    if scheme not in _jvm_scheme_support:
        try:
            jvm = spark._jvm
            jpath = jvm.org.apache.hadoop.fs.Path(f"{scheme}://probe-bucket/probe")
            jpath.getFileSystem(spark._jsc.hadoopConfiguration())
            _jvm_scheme_support[scheme] = True
        except Exception:
            _jvm_scheme_support[scheme] = False
    return _jvm_scheme_support[scheme]


def _use_boto3(path: str, spark) -> bool:
    scheme, _ = split_scheme(path)
    if scheme not in _S3_SCHEMES:
        return False
    if _boto3_s3() is None:
        return False
    return spark is None or not _jvm_handles(spark, scheme)


def _hadoop_fs(spark, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath, jvm


def list_files(root: str, suffix: str = ".parquet", spark=None) -> List[str]:
    """Recursive file listing. Remote results keep their full URI;
    local results are plain paths (manifest entries stay byte-stable
    across local runs)."""
    if not is_remote(root):
        local_root = to_local(root)
        out = []
        for dirpath, _dirs, files in os.walk(local_root):
            for f in files:
                if f.endswith(suffix):
                    out.append(os.path.join(dirpath, f))
        return out
    spark = _spark_or_none(spark)
    if _use_boto3(root, spark):
        bucket, key = _s3_split(root.rstrip("/"))
        s3 = _boto3_s3()
        out = []
        scheme = root.split("://", 1)[0]
        paginator = s3.get_paginator("list_objects_v2")
        for page in paginator.paginate(Bucket=bucket, Prefix=key + "/" if key else ""):
            for obj in page.get("Contents", []):
                if obj["Key"].endswith(suffix):
                    out.append(f"{scheme}://{bucket}/{obj['Key']}")
        return out
    if spark is None or _route_pyarrow(root, spark):
        from pyarrow import fs as pafs

        fs, rel = _pa_fs(root)
        rel = rel.rstrip("/")
        try:
            infos = fs.get_file_info(pafs.FileSelector(rel, recursive=True))
        except FileNotFoundError:
            return []
        prefix = root.rstrip("/")
        return [
            prefix + i.path[len(rel):]
            for i in infos
            if i.type == pafs.FileType.File and i.path.endswith(suffix)
        ]
    fs, jpath, _jvm = _hadoop_fs(spark, root)
    if not fs.exists(jpath):
        return []
    it = fs.listFiles(jpath, True)
    out = []
    while it.hasNext():
        st = it.next()
        p = st.getPath().toString()
        if p.endswith(suffix):
            out.append(p)
    return out


def list_files_with_mtime(root: str, spark=None) -> List[Tuple[str, Optional[int]]]:
    """Recursive ``(path, mtime_ms)`` listing (any suffix); ``mtime_ms``
    is ``None`` when the store does not report one. Consumed by
    ``remove_orphan_files`` — an UNKNOWN modification time must never
    default to 0: that would classify every such file as ancient,
    bypass the grace period, and delete in-flight writers' files
    (ADVICE r14 #1). Local walks use ``os.path.getmtime``; S3 object
    listings carry ``LastModified``; pyarrow filesystems report
    ``FileInfo.mtime``; Hadoop ``FileStatus.getModificationTime``."""
    if not is_remote(root):
        local_root = to_local(root)
        out: List[Tuple[str, Optional[int]]] = []
        for dirpath, _dirs, files in os.walk(local_root):
            for f in files:
                p = os.path.join(dirpath, f)
                try:
                    out.append((p, int(os.path.getmtime(p) * 1000)))
                except OSError:
                    out.append((p, None))
        return out
    spark = _spark_or_none(spark)
    if _use_boto3(root, spark):
        bucket, key = _s3_split(root.rstrip("/"))
        s3 = _boto3_s3()
        out = []
        scheme = root.split("://", 1)[0]
        paginator = s3.get_paginator("list_objects_v2")
        for page in paginator.paginate(Bucket=bucket, Prefix=key + "/" if key else ""):
            for obj in page.get("Contents", []):
                lm = obj.get("LastModified")
                mt = int(lm.timestamp() * 1000) if lm is not None else None
                out.append((f"{scheme}://{bucket}/{obj['Key']}", mt))
        return out
    if spark is None or _route_pyarrow(root, spark):
        from pyarrow import fs as pafs

        fs, rel = _pa_fs(root)
        rel = rel.rstrip("/")
        try:
            infos = fs.get_file_info(pafs.FileSelector(rel, recursive=True))
        except FileNotFoundError:
            return []
        prefix = root.rstrip("/")
        out = []
        for i in infos:
            if i.type != pafs.FileType.File:
                continue
            mt = int(i.mtime.timestamp() * 1000) if i.mtime is not None else None
            out.append((prefix + i.path[len(rel):], mt))
        return out
    fs, jpath, _jvm = _hadoop_fs(spark, root)
    if not fs.exists(jpath):
        return []
    it = fs.listFiles(jpath, True)
    out = []
    while it.hasNext():
        st = it.next()
        out.append((st.getPath().toString(), int(st.getModificationTime())))
    return out


def file_size(path: str, spark=None) -> int:
    if not is_remote(path):
        return os.path.getsize(to_local(path))
    spark = _spark_or_none(spark)
    if _use_boto3(path, spark):
        bucket, key = _s3_split(path)
        return _boto3_s3().head_object(Bucket=bucket, Key=key)["ContentLength"]
    if spark is None or _route_pyarrow(path, spark):
        fs, rel = _pa_fs(path)
        return fs.get_file_info(rel).size
    fs, jpath, _ = _hadoop_fs(spark, path)
    return fs.getFileStatus(jpath).getLen()


def exists(path: str, spark=None) -> bool:
    if not is_remote(path):
        return os.path.exists(to_local(path))
    spark = _spark_or_none(spark)
    if _use_boto3(path, spark):
        bucket, key = _s3_split(path)
        s3 = _boto3_s3()
        try:
            s3.head_object(Bucket=bucket, Key=key)
            return True
        except s3.exceptions.ClientError:
            # also a directory-ish prefix probe (warehouse roots)
            resp = s3.list_objects_v2(Bucket=bucket, Prefix=key.rstrip("/") + "/", MaxKeys=1)
            return resp.get("KeyCount", 0) > 0
    if spark is None or _route_pyarrow(path, spark):
        from pyarrow import fs as pafs

        fs, rel = _pa_fs(path)
        return fs.get_file_info(rel).type != pafs.FileType.NotFound
    fs, jpath, _ = _hadoop_fs(spark, path)
    return fs.exists(jpath)


def remove(path: str, spark=None) -> bool:
    """Delete one file; False if it was already gone (idempotent GC)."""
    if not is_remote(path):
        try:
            os.remove(to_local(path))
            return True
        except OSError:
            return False
    spark = _spark_or_none(spark)
    if _use_boto3(path, spark):
        bucket, key = _s3_split(path)
        s3 = _boto3_s3()
        try:
            s3.head_object(Bucket=bucket, Key=key)
        except s3.exceptions.ClientError:
            return False
        s3.delete_object(Bucket=bucket, Key=key)
        return True
    if spark is None or _route_pyarrow(path, spark):
        fs, rel = _pa_fs(path)
        try:
            fs.delete_file(rel)
            return True
        except (FileNotFoundError, OSError):
            return False
    fs, jpath, _ = _hadoop_fs(spark, path)
    try:
        return bool(fs.delete(jpath, False))
    except Exception:
        return False


def remove_recursive(root: str, spark=None) -> None:
    """Delete a directory tree / object prefix (purge_table)."""
    if not is_remote(root):
        import shutil

        shutil.rmtree(to_local(root), ignore_errors=True)
        return
    spark = _spark_or_none(spark)
    if _use_boto3(root, spark):
        bucket, key = _s3_split(root.rstrip("/"))
        s3 = _boto3_s3()
        paginator = s3.get_paginator("list_objects_v2")
        for page in paginator.paginate(Bucket=bucket, Prefix=key + "/" if key else ""):
            objs = [{"Key": o["Key"]} for o in page.get("Contents", [])]
            if objs:
                s3.delete_objects(Bucket=bucket, Delete={"Objects": objs})
        return
    if spark is None or _route_pyarrow(root, spark):
        fs, rel = _pa_fs(root)
        try:
            fs.delete_dir(rel)
        except FileNotFoundError:
            pass
        return
    fs, jpath, _ = _hadoop_fs(spark, root)
    fs.delete(jpath, True)


def rename(src: str, dst: str, spark=None) -> None:
    """Move a file, creating destination parents. Local: os.replace
    (atomic). Remote: Hadoop FileSystem.rename — metadata-only on
    HDFS/ABFS; note S3A implements rename as copy+delete, which is why
    object-store layouts are applied before first use of a file."""
    if not is_remote(src) and not is_remote(dst):
        local_dst = to_local(dst)
        d = os.path.dirname(local_dst)
        if d:
            os.makedirs(d, exist_ok=True)
        os.replace(to_local(src), local_dst)
        return
    spark = _spark_or_none(spark)
    if _use_boto3(src, spark) and _use_boto3(dst, spark):
        sb, sk = _s3_split(src)
        db, dk = _s3_split(dst)
        s3 = _boto3_s3()
        s3.copy_object(Bucket=db, Key=dk, CopySource={"Bucket": sb, "Key": sk})
        s3.delete_object(Bucket=sb, Key=sk)
        return
    if spark is None or (_route_pyarrow(src, spark) and _route_pyarrow(dst, spark)):
        fs, rel_src = _pa_fs(src)
        _fs2, rel_dst = _pa_fs(dst)
        parent = rel_dst.rsplit("/", 1)[0]
        if parent:
            fs.create_dir(parent, recursive=True)
        fs.move(rel_src, rel_dst)
        return
    if _route_pyarrow(src, spark) or _route_pyarrow(dst, spark):
        # MIXED routing (e.g. gs:// registered filesystem -> local
        # file://): neither a single pyarrow move nor the JVM Hadoop
        # rename can span the two stores — explicit copy+delete through
        # the byte plane, each side on its own route (ADVICE r8)
        write_bytes(dst, read_bytes(src, spark), spark)
        remove(src, spark)
        return
    fs, jsrc, jvm = _hadoop_fs(spark, src)
    jdst = jvm.org.apache.hadoop.fs.Path(dst)
    parent = jdst.getParent()
    if parent is not None:
        fs.mkdirs(parent)
    if not fs.rename(jsrc, jdst):
        raise IOError(f"rename failed: {src} -> {dst}")


def read_bytes(path: str, spark=None) -> bytes:
    if not is_remote(path):
        with open(to_local(path), "rb") as f:
            return f.read()
    spark = _spark_or_none(spark)
    if _use_boto3(path, spark):
        bucket, key = _s3_split(path)
        return _boto3_s3().get_object(Bucket=bucket, Key=key)["Body"].read()
    if spark is None or _route_pyarrow(path, spark):
        fs, rel = _pa_fs(path)
        with fs.open_input_file(rel) as f:
            return f.read()
    fs, jpath, jvm = _hadoop_fs(spark, path)
    stream = fs.open(jpath)
    try:
        baos = jvm.java.io.ByteArrayOutputStream()
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, baos, 65536, False)
        return bytes(baos.toByteArray())
    finally:
        stream.close()


def write_bytes(path: str, data: bytes, spark=None) -> None:
    if not is_remote(path):
        local = to_local(path)
        d = os.path.dirname(local)
        if d:
            os.makedirs(d, exist_ok=True)
        tmp = local + ".tmp"
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, local)
        return
    spark = _spark_or_none(spark)
    if _use_boto3(path, spark):
        bucket, key = _s3_split(path)
        # single-request PUT: metadata files are small, and object stores
        # have no directories to create
        _boto3_s3().put_object(Bucket=bucket, Key=key, Body=data)
        return
    if spark is None or _route_pyarrow(path, spark):
        fs, rel = _pa_fs(path)
        parent = rel.rsplit("/", 1)[0]
        if parent:
            fs.create_dir(parent, recursive=True)
        with fs.open_output_stream(rel) as f:
            f.write(data)
        return
    fs, jpath, _jvm = _hadoop_fs(spark, path)
    stream = fs.create(jpath, True)
    try:
        stream.write(bytearray(data))
    finally:
        stream.close()


def read_text(path: str, spark=None) -> str:
    return read_bytes(path, spark).decode("utf-8")


def write_text(path: str, text: str, spark=None) -> None:
    write_bytes(path, text.encode("utf-8"), spark)


def executor_footer_and_size(path: str):
    """Executor-safe parquet footer + size (no JVM from Python workers):
    local paths via os/pyarrow; remote URIs via pyarrow FileSystem with
    the s3a:// → s3:// convention."""
    import pyarrow.parquet as _pq

    if not is_remote(path):
        local = to_local(path)
        return _pq.ParquetFile(local), os.path.getsize(local)
    from pyarrow import fs as pafs

    uri = path.replace("s3a://", "s3://", 1)
    fs, rel = pafs.FileSystem.from_uri(uri)
    info = fs.get_file_info(rel)
    return _pq.ParquetFile(fs.open_input_file(rel)), info.size
