"""TableStore snapshot history: time travel to retained snapshots."""

import pytest

from llm_text_to_knowledge_graph_spark.plans.checkpoint import TableStore


def test_time_travel(spark, tmp_path):
    store = TableStore(str(tmp_path / "tbl"), retain=2)
    df1 = spark.range(0, 10).withColumnRenamed("id", "v")
    store.commit(df1, "t", fingerprint="f1", run_id="r1")
    df2 = spark.range(0, 25).withColumnRenamed("id", "v")
    store.commit(df2, "t", fingerprint="f2", run_id="r2")

    snaps = store.snapshots("t")
    assert len(snaps) == 2
    assert [s["rows"] for s in snaps] == [10, 25]

    assert store.read(spark, "t").count() == 25
    old = store.read(spark, "t", snapshot_id=snaps[0]["snapshot_id"])
    assert old.count() == 10

    # third commit evicts the oldest snapshot (retain=2)
    df3 = spark.range(0, 7).withColumnRenamed("id", "v")
    store.commit(df3, "t", fingerprint="f3", run_id="r3")
    snaps3 = store.snapshots("t")
    assert [s["rows"] for s in snaps3] == [25, 7]
    assert store.read(spark, "t").count() == 7
    assert store.read(spark, "t", snapshot_id=snaps3[0]["snapshot_id"]).count() == 25
    try:
        store.read(spark, "t", snapshot_id=snaps[0]["snapshot_id"])
        raise AssertionError("evicted snapshot must not be readable")
    except FileNotFoundError:
        pass


def test_iceberg_store_manifest_contract(spark, tmp_path):
    """Both stores must return the manifest keys run_pipeline consumes
    ('rows' especially — pipeline.py reads m["rows"] after every stage) and
    expose write_metrics. Regression test for the contract break where the
    Iceberg manifest lacked 'rows' and _write_metrics assumed store.root."""
    from pyspark.sql import Row

    from llm_text_to_knowledge_graph_spark.plans.checkpoint import IcebergTableStore

    class FakeResult:
        def __init__(self, rows):
            self.rows = rows

        def collect(self):
            return self.rows

    class FakeSpark:
        def sql(self, q):
            if q.startswith("SHOW TBLPROPERTIES"):
                return FakeResult(
                    [
                        Row(key="kg.fingerprint", value="f1"),
                        Row(key="kg.run_id", value="r1"),
                    ]
                )
            if ".snapshots" in q:
                return FakeResult([Row(n="42")])
            raise AssertionError(f"unexpected sql: {q}")

    ice = IcebergTableStore.__new__(IcebergTableStore)
    ice.spark = FakeSpark()
    ice.catalog, ice.ns = "demo", "kg"
    m = ice.manifest("t")
    assert m == {"table": "t", "fingerprint": "f1", "run_id": "r1", "rows": 42}

    shim = TableStore(str(tmp_path / "contract"))
    shim.commit(spark.range(0, 5).withColumnRenamed("id", "v"), "t", "f1", "r1")
    sm = shim.manifest("t")
    # every key the pipeline reads from a manifest exists in both stores
    assert set(m) <= set(sm)
    assert callable(getattr(ice, "write_metrics"))
    assert callable(getattr(shim, "write_metrics"))


def test_iceberg_manifest_absent_only_on_table_not_found(spark):
    """A missing table reads as "no manifest"; every other error from the
    catalog propagates instead of silently forcing a recompute."""
    from pyspark.errors import AnalysisException

    from llm_text_to_knowledge_graph_spark.plans.checkpoint import IcebergTableStore

    class FailingSpark:
        def __init__(self, sql):
            self.sql = sql

    def unreachable(q):
        raise RuntimeError("catalog unreachable")

    ice = IcebergTableStore.__new__(IcebergTableStore)
    ice.catalog, ice.ns = "spark_catalog", "default"

    # real analyzer errors: the table is missing / the statement is malformed
    ice.spark = FailingSpark(lambda q: spark.sql(q.replace("default.t", "default.kg_no_such_table")))
    assert ice.manifest("t") is None
    ice.spark = FailingSpark(lambda q: spark.sql(q.replace("SHOW TBLPROPERTIES", "SHOW TBLPROPERTY")))
    with pytest.raises(AnalysisException):
        ice.manifest("t")
    ice.spark = FailingSpark(unreachable)
    with pytest.raises(RuntimeError, match="unreachable"):
        ice.manifest("t")


def test_make_table_store_picks_shim_without_catalog(spark, tmp_path):
    """In this jar-less sandbox no Iceberg catalog is configured, so the
    factory must return the parquet shim; when a SparkCatalog conf appears,
    detection finds it by name (selection logic only — constructing the
    real store needs the runtime jar)."""
    from llm_text_to_knowledge_graph_spark.plans.checkpoint import (
        TableStore,
        find_iceberg_catalog,
        make_table_store,
    )

    assert find_iceberg_catalog(spark) is None
    store = make_table_store(spark, str(tmp_path / "ts"))
    assert isinstance(store, TableStore)

    spark.conf.set(
        "spark.sql.catalog.demo", "org.apache.iceberg.spark.SparkCatalog"
    )
    try:
        assert find_iceberg_catalog(spark) == "demo"
    finally:
        spark.conf.unset("spark.sql.catalog.demo")
    assert find_iceberg_catalog(spark) is None
