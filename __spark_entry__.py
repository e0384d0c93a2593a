"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship flow: build + incrementally load a
Data Vault hub/satellite pair from the ``customer`` table (the
reference's core capability, SURVEY.md section 3.1) and return the hub.

``queries()`` / ``oracle_sql()`` expose each implemented operator from
SURVEY.md section 2 with a DuckDB-equivalent oracle; the driver
hash-compares them at sf0.01.

Conventions for oracle parity (see pg_auto_dw_spark/functions/hashing.py):
- doubles render through DECIMAL(38,2) before hashing/concat (Spark's
  double->string uses scientific notation, DuckDB's doesn't);
- load_ts is emitted as a string column (year-0001 ghost timestamps
  don't survive pandas conversion);
- every computed column is aliased identically on both sides.
"""

from __future__ import annotations

import datetime
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from pg_auto_dw_spark import queries_catalog


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: DV build+load on sf0.001 customer; returns the hub."""
    from pg_auto_dw_spark.build.builder import build_and_load
    from pg_auto_dw_spark.model.dv_schema import DVSchema
    from pg_auto_dw_spark.queries_catalog import customer_business_key
    from pg_auto_dw_spark.session import prepare
    from pg_auto_dw_spark.sources import load_table
    from pg_auto_dw_spark.warehouse import Warehouse

    prepare(spark)
    sf_dir = "/root/testdata/sf0.001"
    wh = Warehouse(spark, tempfile.mkdtemp(prefix="autodw_entry_"))
    source = load_table(spark, sf_dir, "customer")
    dv = DVSchema(dw_schema="dw", business_keys=[customer_business_key()])
    build_and_load(wh, lambda *_: source, dv, load_ts=datetime.datetime(2024, 6, 1))
    hub = wh.read("dw.hub_customer")
    # The driver collect()s this result; year-0001 ghost load_ts does not
    # fit in Python datetime / Arrow ns timestamps, so emit it as text.
    from pyspark.sql import functions as F

    return hub.withColumn("load_ts", F.date_format("load_ts", "yyyy-MM-dd HH:mm:ss"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return queries_catalog.queries()


def oracle_sql() -> dict[str, str]:
    return queries_catalog.oracle_sql()
