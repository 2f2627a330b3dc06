"""Glue + DynamoDB catalog behavior suite, against moto's AWS backends.

Mirrors tests/test_sql_catalog_engines.py so all four metastore backends
(SQLite, DuckDB, Glue, DynamoDB) are proven on the same behavior shapes —
the MetastoreCatalog primitives contract at work. Reference behaviors:
pyiceberg/catalog/glue.py:318, pyiceberg/catalog/dynamodb.py:97 (their
moto-backed tests are the model for this file's setup).
"""

import threading

import pytest
from pyspark.sql import functions as F

import iceberg_python_spark as ips
from iceberg_python_spark.catalog import NamespaceAlreadyExistsError, load_catalog
from iceberg_python_spark.catalog_aws import DynamoDbCatalog, GlueCatalog
from iceberg_python_spark.table import CommitFailedException

moto = pytest.importorskip("moto")


@pytest.fixture(autouse=True)
def _aws_mock(monkeypatch):
    monkeypatch.setenv("AWS_ACCESS_KEY_ID", "testing")
    monkeypatch.setenv("AWS_SECRET_ACCESS_KEY", "testing")
    monkeypatch.setenv("AWS_DEFAULT_REGION", "us-east-1")
    with moto.mock_aws():
        yield


def _enforce_service_cas(cat):
    """Give the mock the conditional-update semantics of the real
    services, at the client boundary.

    moto's Glue update_table IGNORES VersionId (moto/glue/models.py
    update_table takes none), so the service-side half of the CAS is a
    no-op under the mock and two racers could both "win". Shim the
    DOCUMENTED Glue semantics: UpdateTable with a stale VersionId raises
    ConcurrentModificationException. moto's DynamoDB backend has NO
    internal locking: its ConditionExpression evaluation is
    check-then-act, so threads can interleave inside the mock where the
    real service evaluates each conditional write atomically. Serialize
    that SERVICE CALL only. In both cases the client protocol's
    read-pointer -> conditional-update race stays fully concurrent."""
    service_lock = threading.Lock()
    if isinstance(cat, GlueCatalog):
        real_update, real_get = cat.glue.update_table, cat.glue.get_table

        def guarded_update(DatabaseName, TableInput, VersionId=None, **kw):
            with service_lock:
                if VersionId is not None:
                    cur = real_get(DatabaseName=DatabaseName, Name=TableInput["Name"])["Table"].get("VersionId")
                    if cur != VersionId:
                        raise cat.glue.exceptions.ConcurrentModificationException(
                            {"Error": {"Code": "ConcurrentModificationException",
                                       "Message": f"version {VersionId} is stale (current {cur})"}},
                            "UpdateTable",
                        )
                return real_update(DatabaseName=DatabaseName, TableInput=TableInput, **kw)

        cat.glue.update_table = guarded_update
    else:
        real_ddb_update = cat.dynamodb.update_item

        def atomic_update_item(**kw):
            with service_lock:
                return real_ddb_update(**kw)

        cat.dynamodb.update_item = atomic_update_item
    return cat


@pytest.fixture(params=["glue", "dynamodb"])
def cat(request, spark, tmp_path):
    wh = str(tmp_path / f"wh_{request.param}")
    cls = GlueCatalog if request.param == "glue" else DynamoDbCatalog
    return _enforce_service_cas(cls("awscat", wh, spark))


def _mk(cat, spark, name="db.t"):
    df = spark.range(10).withColumn("v", F.col("id") * 2)
    t = cat.create_table(name, df.schema)
    t.append(df)
    return t


def test_table_crud(cat, spark):
    t = _mk(cat, spark)
    assert t.scan().to_df().count() == 10
    assert cat.table_exists("db.t")
    assert ("db", "t") in cat.list_tables("db")
    with pytest.raises(ips.TableAlreadyExistsError):
        cat.create_table("db.t", t.schema())
    cat.rename_table("db.t", "db.t2")
    assert cat.load_table("db.t2").scan().to_df().count() == 10
    assert not cat.table_exists("db.t")
    cat.drop_table("db.t2")
    with pytest.raises(ips.NoSuchTableError):
        cat.load_table("db.t2")
    with pytest.raises(ips.NoSuchTableError):
        cat.drop_table("db.t2")


def test_namespaces(cat):
    cat.create_namespace("ns1", {"owner": "me"})
    assert cat.namespace_exists("ns1")
    assert cat.load_namespace_properties("ns1") == {"owner": "me"}
    with pytest.raises(NamespaceAlreadyExistsError):
        cat.create_namespace("ns1", {"owner": "other"})
    cat.create_namespace_if_not_exists("ns1", {"owner": "other"})
    assert cat.load_namespace_properties("ns1") == {"owner": "me"}
    assert ("ns1",) in cat.list_namespaces()
    summary = cat.update_namespace_properties("ns1", removals=["owner", "zz"], updates={"c": "3"})
    assert summary == {"updated": ["c"], "removed": ["owner"], "missing": ["zz"]}
    assert cat.load_namespace_properties("ns1") == {"c": "3"}
    cat.drop_namespace("ns1")
    assert not cat.namespace_exists("ns1")
    with pytest.raises(ips.NoSuchNamespaceError):
        cat.load_namespace_properties("ns1")


def test_drop_nonempty_namespace_refused(cat, spark):
    _mk(cat, spark)
    with pytest.raises(ValueError, match="not empty"):
        cat.drop_namespace("db")


def test_commit_cas_and_refresh(cat, spark):
    """Overlapping deletes from the same base: loser must fail the CAS
    rebase — the Glue VersionId / DynamoDB conditional-update path."""
    t = _mk(cat, spark)
    t1 = cat.load_table("db.t")
    t2 = cat.load_table("db.t")
    t1.delete("id >= 0")
    with pytest.raises(CommitFailedException):
        t2.delete("id >= 5")
    t2.refresh()
    assert t2.scan().to_df().count() == 0


def test_concurrent_appends_all_land(cat, spark):
    t = _mk(cat, spark)
    errors = []

    def worker(i):
        try:
            h = cat.load_table("db.t")
            h.append(spark.range(i * 100, i * 100 + 3).withColumn("v", F.col("id")))
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors
    t.refresh()
    assert t.scan().to_df().count() == 10 + 4 * 3


def test_create_table_transaction(cat, spark):
    df = spark.range(20).withColumn("v", F.col("id") * 3)
    tx = cat.create_table_transaction("db.staged", df.schema)
    tx.append(df)
    assert not cat.table_exists("db.staged")
    t = tx.commit_transaction()
    assert cat.table_exists("db.staged")
    assert t.scan().to_df().count() == 20
    tx2 = cat.create_table_transaction("db.staged", df.schema)
    tx2.append(df)
    with pytest.raises(ips.TableAlreadyExistsError):
        tx2.commit_transaction()


def test_register_and_clone(cat, spark):
    t = _mk(cat, spark)
    reg = cat.register_table("mirror.t", t.metadata_location)
    assert reg.scan().to_df().count() == 10
    c = cat.clone_table("db.t", "db.t_clone")
    assert c.scan().to_df().count() == 10


def test_time_travel_through_aws_commits(cat, spark):
    t = _mk(cat, spark)
    snap1 = t.current_snapshot().snapshot_id
    t.append(spark.range(100, 105).withColumn("v", F.col("id")))
    assert t.scan().to_df().count() == 15
    assert t.scan(snapshot_id=snap1).to_df().count() == 10


def test_glue_column_descriptors(spark, tmp_path):
    """Glue mirrors the Iceberg schema into column descriptors with
    iceberg.field.id parameters (reference glue.py:204 _to_columns) and
    keeps metadata_location/previous_metadata_location parameters."""
    cat = GlueCatalog("awscat", str(tmp_path / "wh"), spark)
    df = spark.range(3).withColumn("name", F.lit("x")).withColumn("score", F.col("id") * 1.5)
    t = cat.create_table("db.cols", df.schema)
    glue_table = cat.glue.get_table(DatabaseName="db", Name="cols")["Table"]
    cols = {c["Name"]: c for c in glue_table["StorageDescriptor"]["Columns"]}
    assert cols["id"]["Type"] == "bigint"
    assert cols["name"]["Type"] == "string"
    assert cols["score"]["Type"] == "double"
    assert cols["id"]["Parameters"]["iceberg.field.id"] == str(t.schema().find_field("id").field_id)
    params = glue_table["Parameters"]
    assert params["table_type"] == "ICEBERG"
    assert params["metadata_location"] == t.metadata_location
    t.append(df)
    glue_table = cat.glue.get_table(DatabaseName="db", Name="cols")["Table"]
    assert glue_table["Parameters"]["metadata_location"] == t.metadata_location
    assert glue_table["Parameters"]["previous_metadata_location"] != t.metadata_location


def test_dynamodb_item_layout(spark, tmp_path):
    """Item layout matches the reference (dynamodb.py:709): identifier /
    namespace keys, p.-prefixed properties, version uuid rotated on
    commit."""
    cat = DynamoDbCatalog("awscat", str(tmp_path / "wh"), spark)
    df = spark.range(3).withColumn("v", F.col("id"))
    t = cat.create_table("db.items", df.schema)
    item = cat._get_item("db.items", "db")
    assert item["p.table_type"]["S"] == "ICEBERG"
    assert item["p.metadata_location"]["S"] == t.metadata_location
    v1 = item["v"]["S"]
    t.append(df)
    item2 = cat._get_item("db.items", "db")
    assert item2["p.metadata_location"]["S"] == t.metadata_location
    assert item2["p.previous_metadata_location"]["S"] != ""
    assert item2["v"]["S"] != v1
    # namespace sentinel item
    ns_item = cat._get_item("NAMESPACE", "db")
    assert ns_item is not None


def test_load_catalog_factory_aws(spark, tmp_path):
    g = load_catalog("g", spark, type="glue", warehouse=str(tmp_path / "g"))
    assert isinstance(g, GlueCatalog)
    d = load_catalog(
        "d", spark, type="dynamodb", warehouse=str(tmp_path / "d"), **{"table-name": "custom_catalog"}
    )
    assert isinstance(d, DynamoDbCatalog)
    assert d.dynamodb_table_name == "custom_catalog"
    # both usable end-to-end through the factory
    df = spark.range(5).withColumn("v", F.col("id"))
    for c in (g, d):
        t = c.create_table("db.f", df.schema)
        t.append(df)
        assert c.load_table("db.f").scan().to_df().count() == 5


def test_views_not_supported(cat):
    with pytest.raises(NotImplementedError):
        cat.create_view("db.v", "SELECT 1")


def test_pointer_cas_torture(cat, spark):
    """N writers race the raw pointer CAS across 20+ rounds: exactly one
    winner per round (service-side conditional update — Glue VersionId,
    DynamoDB conditional put), every loser raises CommitFailedException,
    and after all rounds the pointer is the chain of winners with no
    lost update. This is the interleaving the pairwise
    test_commit_cas_and_refresh can't produce."""
    from iceberg_python_spark.io import fileio

    t = _mk(cat, spark)

    # the ``cat`` fixture gives the mock the real services' conditional
    # update (Glue VersionId, atomic DynamoDB conditional put), so a
    # round can only have one winner if that service-side check works

    base_bytes = fileio.read_bytes(t.metadata_location, spark)
    meta_dir = t.metadata_location.rsplit("/", 1)[0]
    N, R = 5, 20
    winners = []
    for rnd in range(R):
        expected = cat._pointer_get("db", "t")
        proposals = {}
        for i in range(N):
            loc = f"{meta_dir}/torture-r{rnd}-w{i}.metadata.json"
            fileio.write_bytes(loc, base_bytes, spark)
            proposals[i] = loc
        outcomes = {}
        barrier = threading.Barrier(N)

        def worker(i):
            barrier.wait()
            try:
                cat._pointer_cas("db", "t", expected, proposals[i])
                outcomes[i] = "won"
            except CommitFailedException:
                outcomes[i] = "lost"

        threads = [threading.Thread(target=worker, args=(i,)) for i in range(N)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        won = [i for i, o in outcomes.items() if o == "won"]
        assert len(won) == 1, f"round {rnd}: winners {won}, outcomes {outcomes}"
        assert sorted(outcomes.values()) == ["lost"] * (N - 1) + ["won"]
        current = cat._pointer_get("db", "t")
        assert current == proposals[won[0]], f"round {rnd}: lost update"
        winners.append(won[0])
    # the table still loads from the final pointer
    assert cat.load_table("db.t").scan().to_df().count() == 10
