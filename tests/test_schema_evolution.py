"""Metadata-only schema evolution: zero-rewrite ADD/DROP COLUMN.

The reference leans on Postgres ALTER TABLE; the Spark-side analog is
registered-schema evolution over immutable parquet (Delta mergeSchema /
column-mapping behavior): ADD appends nullable columns that read as
NULL from pre-evolution files; DROP prunes a column from every scan
without touching file bytes.
"""

import os

import pytest
from pyspark.sql import types as T

from pg_auto_dw_spark.warehouse import Warehouse

SCHEMA = T.StructType(
    [T.StructField("k", T.LongType()), T.StructField("v", T.StringType())]
)


def test_added_column_reads_null_from_old_files(spark, warehouse_dir):
    wh = Warehouse(spark, warehouse_dir)
    wh.create_table("m.t", SCHEMA)
    wh.append("m.t", spark.createDataFrame([(1, "a"), (2, "b")], SCHEMA))
    new = wh.evolve_schema("m.t", add=[T.StructField("score", T.DoubleType())])
    assert [f.name for f in new.fields] == ["k", "v", "score"]
    wh.append(
        "m.t",
        spark.createDataFrame([(3, "c", 0.5)], new),
    )
    rows = {r["k"]: (r["v"], r["score"]) for r in wh.read("m.t").collect()}
    assert rows == {1: ("a", None), 2: ("b", None), 3: ("c", 0.5)}


def test_drop_column_prunes_scan_without_rewriting_files(spark, warehouse_dir):
    wh = Warehouse(spark, warehouse_dir)
    wh.create_table("m.t", SCHEMA)
    wh.append("m.t", spark.createDataFrame([(1, "a")], SCHEMA))
    inodes = {
        rel: os.stat(os.path.join(wh.path("m.t"), rel)).st_ino
        for rel in wh.data_files("m.t")
    }
    wh.evolve_schema("m.t", drop=["v"])
    df = wh.read("m.t")
    assert df.columns == ["k"]
    assert df.collect()[0]["k"] == 1
    after = {
        rel: os.stat(os.path.join(wh.path("m.t"), rel)).st_ino
        for rel in wh.data_files("m.t")
    }
    assert inodes == after  # zero-rewrite: same files, same inodes


def test_evolution_persists_across_sessions(spark, warehouse_dir):
    wh = Warehouse(spark, warehouse_dir)
    wh.create_table("m.t", SCHEMA)
    wh.evolve_schema("m.t", add=[T.StructField("extra", T.LongType())])
    wh2 = Warehouse(spark, warehouse_dir)  # fresh instance reloads meta
    assert [f.name for f in wh2._schemas["m.t"].fields] == ["k", "v", "extra"]
    assert wh2.read("m.t").columns == ["k", "v", "extra"]


def test_evolution_guards(spark, warehouse_dir):
    pschema = T.StructType(SCHEMA.fields + [T.StructField("b", T.LongType())])
    wh = Warehouse(spark, warehouse_dir)
    wh.create_table("m.p", pschema, partition_by=["b"])
    with pytest.raises(ValueError, match="already exists"):
        wh.evolve_schema("m.p", add=[T.StructField("v", T.StringType())])
    with pytest.raises(ValueError, match="must be nullable"):
        wh.evolve_schema("m.p", add=[T.StructField("x", T.LongType(), False)])
    with pytest.raises(ValueError, match="partition column"):
        wh.evolve_schema("m.p", drop=["b"])
    with pytest.raises(ValueError, match="does not exist"):
        wh.evolve_schema("m.p", drop=["nope"])


_KV = SCHEMA


def _kv(spark, tag, n=4):
    return spark.createDataFrame([(i, f"{tag}{i}") for i in range(n)], _KV)


def test_evolve_schema_blocks_dropped_readd_with_new_type(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.create_table("m.t", _KV)
    wh.append("m.t", _kv(spark, "a"))
    wh.evolve_schema("m.t", drop=["v"])
    with pytest.raises(ValueError, match="previously dropped with type"):
        wh.evolve_schema("m.t", add=[T.StructField("v", T.LongType())])
    # the guard survives a fresh open (ledger persisted)
    wh2 = Warehouse(spark, str(tmp_path / "wh"))
    with pytest.raises(ValueError, match="previously dropped with type"):
        wh2.evolve_schema("m.t", add=[T.StructField("v", T.LongType())])
    # same-type re-add is allowed and resurfaces the old values
    wh2.evolve_schema("m.t", add=[T.StructField("v", T.StringType())])
    assert {r["v"] for r in wh2.read("m.t").collect()} == {f"a{i}" for i in range(4)}
