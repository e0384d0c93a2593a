"""Regression pins for the code-review findings on build/ and catalog/."""

import datetime

import pytest
from pyspark.sql import types as T

from pg_auto_dw_spark.build.builder import assemble_business_keys
from pg_auto_dw_spark.build.ddl import spark_type_for
from pg_auto_dw_spark.sources import load_table
from pg_auto_dw_spark.warehouse import Warehouse


def test_spark_type_for_covers_spark_ddl_names(spark):
    # simple names resolve without a session; complex types go through
    # DataType.fromDDL (needs the active session the real flow has)
    assert spark_type_for("float") == T.FloatType()
    assert spark_type_for("tinyint") == T.ByteType()
    assert spark_type_for("binary") == T.BinaryType()
    assert spark_type_for("array<float>") == T.ArrayType(T.FloatType())
    assert spark_type_for("map<string,int>") == T.MapType(T.StringType(), T.IntegerType())
    assert spark_type_for("varchar(10)") == T.StringType()
    assert spark_type_for("numeric(3,2)") == T.DecimalType(3, 2)
    assert spark_type_for("no_such_type") == T.StringType()


def test_assemble_tolerates_null_rows():
    rows = [
        {
            "table_oid": 10, "schema_name": "s", "table_name": "t",
            "column_category": "Business Key Part", "business_key_name": None,
            "column_name": "id", "column_type_name": "bigint",
            "system_id": 1, "column_ordinal_position": 1,
        },
        {  # dangling join row
            "table_oid": None, "schema_name": None, "table_name": None,
            "column_category": None, "business_key_name": None,
            "column_name": None, "column_type_name": None,
            "system_id": 1, "column_ordinal_position": None,
        },
    ]
    bks = assemble_business_keys(rows)
    assert len(bks) == 1
    assert bks[0].name == ""  # NULL bk name -> empty, no crash


def test_schema_level_context_description(spark, sf_dir, tmp_path):
    from pg_auto_dw_spark.api import AutoDW
    from pg_auto_dw_spark.catalog.registry import testdata_registry

    adw = AutoDW(
        spark, str(tmp_path / "wh"), registry=testdata_registry(),
        clock=lambda: datetime.datetime(2024, 6, 1),
    )
    adw.register_source("main", "customer", load_table(spark, sf_dir, "customer"))
    adw.update_context("main", {"description": "main warehouse schema"})
    adw.source_include("main", "customer")
    so = adw.wh.read("auto_dw.source_objects")
    descs = {r["schema_description"] for r in so.select("schema_description").collect()}
    assert descs == {"main warehouse schema"}


# ---------------------------------------------------------------------------
# Merge-verb pins (delete_keys bucket pruning, merge_upsert partition
# contract)
# ---------------------------------------------------------------------------

_KV = T.StructType([T.StructField("k", T.LongType()), T.StructField("v", T.StringType())])


def test_delete_keys_bucket_fn_type_mismatch_fails_safe(spark, tmp_path):
    """A bucket_of whose values never match the partition dirs must NOT
    silently skip victims -- it falls back to range-only pruning."""
    from pg_auto_dw_spark.build.merge import delete_keys

    schema = T.StructType(_KV.fields + [T.StructField("b", T.LongType())])
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.create_table("m.t", schema, partition_by=["b"])
    wh.append(
        "m.t",
        spark.createDataFrame([(i, f"x{i}", i % 2) for i in range(20)], schema),
    )
    victims = spark.createDataFrame([(7,)], "k long")
    # bucket_of returns strings that match no 'b=0'/'b=1' dir value
    stats = delete_keys(wh, "m.t", victims, "k", bucket_of=lambda k: f"bucket_{k % 2}")
    assert stats["rows_deleted"] == 1
    assert {r["k"] for r in wh.read("m.t").collect()} == set(range(20)) - {7}
    # and an int bucket_of meets the int-valued dirs (pruning engages)
    wh2 = Warehouse(spark, str(tmp_path / "wh2"))
    wh2.create_table("m.t", schema, partition_by=["b"])
    wh2.append(
        "m.t",
        spark.createDataFrame([(i, f"x{i}", i % 2) for i in range(20)], schema),
    )
    n_b1 = len([r for r in wh2.data_files("m.t") if r.startswith("b=1")])
    stats2 = delete_keys(wh2, "m.t", victims, "k", bucket_of=lambda k: k % 2)
    assert stats2["rows_deleted"] == 1
    assert stats2["files_rewritten"] <= n_b1


def test_merge_upsert_verify_partition_contract(spark, tmp_path):
    from pg_auto_dw_spark.build.merge import merge_upsert

    schema = T.StructType(_KV.fields + [T.StructField("b", T.LongType())])
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.create_table("m.t", schema, partition_by=["b"])
    wh.append(
        "m.t", spark.createDataFrame([(i, f"x{i}", i % 2) for i in range(6)], schema)
    )
    # key 1 currently lives in b=1; a batch claiming it in b=0 violates
    bad = spark.createDataFrame([(1, "NEW", 0)], schema)
    with pytest.raises(ValueError, match="partition contract violated"):
        merge_upsert(wh, "m.t", bad, ["k"], verify_partition_contract=True)
    ok = spark.createDataFrame([(1, "NEW", 1)], schema)
    stats = merge_upsert(wh, "m.t", ok, ["k"], verify_partition_contract=True)
    assert stats["matched"] == 1 and stats["inserted"] == 0
