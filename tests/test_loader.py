"""End-to-end slice: hub + satellite build/load on the customer table,
including ghost records, anti-join idempotency, and hash parity with a
locally-computed SHA-256 oracle (FIXTURES.md section 3)."""

import datetime
import hashlib

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pg_auto_dw_spark.build.builder import build_and_load
from pg_auto_dw_spark.build.ddl import ddl_sql, hub_schema, satellite_schemas
from pg_auto_dw_spark.build.link import link_schema
from pg_auto_dw_spark.build.loader import (
    GHOST_LOAD_TS_STR,
    load_hub,
    load_satellite,
)
from pg_auto_dw_spark.build.spec import business_key_from_spec, dv_schema_from_spec
from pg_auto_dw_spark.sources import load_table
from pg_auto_dw_spark.warehouse import Warehouse

LOAD_TS = datetime.datetime(2024, 6, 1, 0, 0, 0)


def customer_bk():
    return business_key_from_spec(
        schema_name="main",
        table_name="customer",
        bk_name="customer",
        key_columns=[("c_custkey", "bigint")],
        descriptor_columns=[
            ("c_name", "text", False),
            ("c_nationkey", "int", False),
            ("c_acctbal", "double precision", False),
            ("c_mktsegment", "text", False),
        ],
    )


def _setup(spark, warehouse_dir, sf_dir):
    wh = Warehouse(spark, warehouse_dir)
    bk = customer_bk()
    wh.create_table("dw.hub_customer", hub_schema(bk))
    for name, schema in satellite_schemas(bk).items():
        wh.create_table(f"dw.{name}", schema)
    source = load_table(spark, sf_dir, "customer")
    return wh, bk, source


def test_hub_load_and_idempotency(spark, warehouse_dir, sf_dir):
    wh, bk, source = _setup(spark, warehouse_dir, sf_dir)
    n_src = source.count()

    appended = load_hub(wh, source, bk, load_ts=LOAD_TS)
    assert appended == n_src + 2  # ghosts

    hub = wh.read("dw.hub_customer")
    assert hub.count() == n_src + 2

    # ghost rows: hk = sha256('-1'|'-2'), load_ts 0001-01-01, SYSTEM
    ghosts = hub.filter(F.col("record_source") == "SYSTEM")
    assert {
        g["hub_customer_hk"] for g in ghosts.select("hub_customer_hk").collect()
    } == {
        hashlib.sha256(b"-1").hexdigest(),
        hashlib.sha256(b"-2").hexdigest(),
    }
    # year-1 timestamps can't round-trip through Python datetime collect;
    # compare JVM-side against the same string literal the loader uses.
    assert (
        ghosts.filter(F.col("load_ts") == F.to_timestamp(F.lit(GHOST_LOAD_TS_STR))).count()
        == 2
    )

    # hash parity: hk = sha256(custkey-as-text)
    row = source.limit(1).collect()[0]
    expected_hk = hashlib.sha256(str(row["c_custkey"]).encode()).hexdigest()
    assert hub.filter(F.col("hub_customer_hk") == expected_hk).count() == 1

    # idempotency: second run appends nothing (dv_loader.rs:177-181)
    assert load_hub(wh, source, bk, load_ts=LOAD_TS) == 0
    assert wh.read("dw.hub_customer").count() == n_src + 2


def test_satellite_load_hashdiff_and_idempotency(spark, warehouse_dir, sf_dir):
    wh, bk, source = _setup(spark, warehouse_dir, sf_dir)
    n_src = source.count()

    n = load_satellite(wh, source, bk, "customer", load_ts=LOAD_TS)
    assert n == n_src
    sat = wh.read("dw.sat_customer")
    cols = sat.columns
    assert cols[:4] == ["hub_customer_hk", "load_ts", "record_source", "sat_customer_hd"]
    assert set(cols[4:]) == {"c_name", "c_nationkey", "c_acctbal", "c_mktsegment"}

    # hash-diff parity: sha256(concat_ws(',', name, nationkey, acctbal-2dp, mktsegment))
    row = source.limit(1).collect()[0]
    rendered = ",".join(
        [
            row["c_name"],
            str(row["c_nationkey"]),
            f"{row['c_acctbal']:.2f}",
            row["c_mktsegment"],
        ]
    )
    expected_hd = hashlib.sha256(rendered.encode()).hexdigest()
    assert sat.filter(F.col("sat_customer_hd") == expected_hd).count() >= 1

    # idempotency
    assert load_satellite(wh, source, bk, "customer", load_ts=LOAD_TS) == 0

    # changed descriptor -> exactly the changed rows re-inserted
    changed = source.withColumn(
        "c_mktsegment",
        F.when(F.col("c_custkey") % 100 == 0, F.lit("CHANGED")).otherwise(
            F.col("c_mktsegment")
        ),
    )
    n_changed = source.filter(F.col("c_custkey") % 100 == 0).count()
    assert load_satellite(wh, changed, bk, "customer", load_ts=LOAD_TS) == n_changed


def test_sensitive_satellite_split(spark, warehouse_dir, sf_dir):
    bk = business_key_from_spec(
        schema_name="main",
        table_name="customer",
        bk_name="customer",
        key_columns=[("c_custkey", "bigint")],
        descriptor_columns=[
            ("c_name", "text", True),  # pretend PII
            ("c_mktsegment", "text", False),
        ],
    )
    schemas = satellite_schemas(bk)
    assert set(schemas) == {"sat_customer", "sat_customer_sensitive"}
    assert "c_name" in [f.name for f in schemas["sat_customer_sensitive"].fields]
    assert "c_mktsegment" in [f.name for f in schemas["sat_customer"].fields]


def test_dv_schema_json_roundtrip():
    from pg_auto_dw_spark.build.spec import dv_schema_from_spec
    from pg_auto_dw_spark.model.dv_schema import DVSchema

    dv = dv_schema_from_spec("dw", [customer_bk()])
    js = dv.to_json()
    back = DVSchema.from_json(js)
    assert back.to_json() == js
    assert back.business_keys[0].name == "customer"
    assert back.business_keys[0].business_key_part_links[0].alias == "c_custkey"
    assert '"DW Schema"' in js and '"Business Keys"' in js


def test_warehouse_metadata_survives_new_instance(spark, warehouse_dir, sf_dir):
    """A fresh Warehouse over the same root must recover schemas and
    partition specs (otherwise a second process would append
    unpartitioned files into a partitioned table)."""
    import datetime

    from pg_auto_dw_spark.build.ddl import hub_schema
    from pg_auto_dw_spark.build.loader import load_hub

    bk = customer_bk()
    wh1 = Warehouse(spark, warehouse_dir)
    wh1.create_table(
        "dw.hub_customer", hub_schema(bk, partitioned=True), partition_by=["load_date"]
    )
    source = load_table(spark, sf_dir, "customer")
    load_hub(wh1, source, bk, load_ts=datetime.datetime(2024, 6, 2))

    # brand-new instance, same root
    wh2 = Warehouse(spark, warehouse_dir)
    assert wh2._partitioning.get("dw.hub_customer") == ["load_date"]
    n = load_hub(wh2, source.limit(10).withColumn("c_custkey", F.col("c_custkey") + 900000),
                 bk, load_ts=datetime.datetime(2024, 6, 5))
    assert n == 10
    import os

    parts = os.listdir(wh2.path("dw.hub_customer"))
    assert any(p == "load_date=2024-06-05" for p in parts)


def test_float_descriptor_satellite_roundtrips(spark, warehouse_dir, sf_dir):
    """A float/array descriptor must get a real type in the satellite
    schema so the second read doesn't crash on parquet type mismatch."""
    emb = load_table(spark, sf_dir, "embeddings")
    bk = business_key_from_spec(
        "main", "embeddings", "embedding",
        [("vec_id", "bigint")],
        [("label", "int", False), ("embedding", "array<float>", False)],
    )
    schemas = satellite_schemas(bk)
    field_types = {f.name: f.dataType for f in schemas["sat_embeddings"].fields}
    assert field_types["embedding"] == T.ArrayType(T.FloatType())

    wh = Warehouse(spark, warehouse_dir)
    wh.create_table("dw.hub_embedding", hub_schema(bk))
    for name, schema in schemas.items():
        wh.create_table(f"dw.{name}", schema)
    n = load_satellite(wh, emb, bk, "embeddings", load_ts=LOAD_TS)
    assert n == emb.count()
    # second load reads the table back -- crashes if types were corrupted
    assert load_satellite(wh, emb, bk, "embeddings", load_ts=LOAD_TS) == 0


def test_duplicate_bk_names_fail_loudly(spark, warehouse_dir, sf_dir):
    bk1 = business_key_from_spec("main", "customer", "customer", [("c_custkey", "bigint")], [])
    bk2 = business_key_from_spec("main", "orders", "customer", [("o_custkey", "bigint")], [])
    dv = dv_schema_from_spec("dw", [bk1, bk2])
    wh = Warehouse(spark, warehouse_dir)
    with pytest.raises(ValueError, match="multi-source"):
        build_and_load(wh, lambda s, t: None, dv)


def test_satellite_within_batch_dedup(spark, warehouse_dir, sf_dir):
    """Identical duplicate source rows produce ONE satellite row."""
    src = load_table(spark, sf_dir, "customer").limit(20)
    doubled = src.unionByName(src)
    bk = business_key_from_spec(
        "main", "customer", "customer", [("c_custkey", "bigint")],
        [("c_name", "text", False)],
    )
    wh = Warehouse(spark, warehouse_dir)
    for name, schema in satellite_schemas(bk).items():
        wh.create_table(f"dw.{name}", schema)
    assert load_satellite(wh, doubled, bk, "customer", load_ts=LOAD_TS) == 20


def test_ddl_sql_pins_rendered_text(spark):
    """The exact CREATE TABLE text for a two-part hub, a satellite with
    int/decimal/double/array<float> descriptors, and a link."""
    from pg_auto_dw_spark.queries_catalog import lineitem_business_key, lineitem_link_spec

    assert ddl_sql("dw.hub_lineitem", hub_schema(lineitem_business_key())) == (
        "CREATE TABLE dw.hub_lineitem (\n"
        "    hub_lineitem_hk STRING NOT NULL,\n"
        "    load_ts TIMESTAMP NOT NULL,\n"
        "    record_source STRING NOT NULL,\n"
        "    l_orderkey_bk STRING,\n"
        "    l_linenumber_bk STRING\n"
        ")"
    )
    bk = business_key_from_spec(
        "main", "embeddings", "embedding", [("vec_id", "bigint")],
        [("label", "int", False), ("price", "numeric(15,2)", False),
         ("score", "double precision", False), ("embedding", "array<float>", False)],
    )
    assert ddl_sql("dw.sat_embeddings", satellite_schemas(bk)["sat_embeddings"]) == (
        "CREATE TABLE dw.sat_embeddings (\n"
        "    hub_embedding_hk STRING NOT NULL,\n"
        "    load_ts TIMESTAMP NOT NULL,\n"
        "    record_source STRING NOT NULL,\n"
        "    sat_embeddings_hd STRING NOT NULL,\n"
        "    label INT,\n"
        "    price DECIMAL(15,2),\n"
        "    score DOUBLE,\n"
        "    embedding ARRAY<FLOAT>\n"
        ")"
    )
    assert ddl_sql("dw.link_order_part_supplier", link_schema(lineitem_link_spec())) == (
        "CREATE TABLE dw.link_order_part_supplier (\n"
        "    link_order_part_supplier_hk STRING NOT NULL,\n"
        "    load_ts TIMESTAMP NOT NULL,\n"
        "    record_source STRING NOT NULL,\n"
        "    hub_order_hk STRING NOT NULL,\n"
        "    hub_part_hk STRING NOT NULL,\n"
        "    hub_supplier_hk STRING NOT NULL\n"
        ")"
    )
