"""DV link table extension: DDL shape, load idempotency, hub-hash
compatibility."""

import datetime

from pyspark.sql import functions as F

from pg_auto_dw_spark.build.ddl import ddl_sql
from pg_auto_dw_spark.build.link import LinkSpec, LinkUnit, link_schema, load_link
from pg_auto_dw_spark.sources import load_table
from pg_auto_dw_spark.warehouse import Warehouse

LOAD_TS = datetime.datetime(2024, 6, 1)


def spec():
    return LinkSpec(
        name="order_part_supplier",
        schema_name="main",
        table_name="lineitem",
        units=[
            LinkUnit("order", ["l_orderkey"]),
            LinkUnit("part", ["l_partkey"]),
            LinkUnit("supplier", ["l_suppkey"]),
        ],
    )


def test_link_load_idempotent_and_hub_compatible(spark, warehouse_dir, sf_dir):
    wh = Warehouse(spark, warehouse_dir)
    li = load_table(spark, sf_dir, "lineitem")
    s = spec()

    n = load_link(wh, li, s, load_ts=LOAD_TS)
    distinct_triples = li.select("l_orderkey", "l_partkey", "l_suppkey").distinct().count()
    assert n == distinct_triples
    # rerun: nothing new
    assert load_link(wh, li, s, load_ts=LOAD_TS) == 0

    link = wh.read("dw.link_order_part_supplier")
    assert link.columns == [
        "link_order_part_supplier_hk",
        "load_ts",
        "record_source",
        "hub_order_hk",
        "hub_part_hk",
        "hub_supplier_hk",
    ]
    # hub hashes must match what a hub load of orders would produce
    sample = link.limit(1).collect()[0]
    o = load_table(spark, sf_dir, "orders")
    hub_keys = {
        r[0]
        for r in o.select(F.sha2(F.col("o_orderkey").cast("string"), 256)).collect()
    }
    assert sample["hub_order_hk"] in hub_keys

    ddl = ddl_sql("dw.link_order_part_supplier", link_schema(s))
    assert "link_order_part_supplier_hk STRING NOT NULL" in ddl
    assert "hub_supplier_hk STRING NOT NULL" in ddl
