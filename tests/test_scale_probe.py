"""tools/scale_probe.py's replication helper: factor copies in disjoint
id spaces whose foreign keys still join inside each copy."""

import filecmp
import os

from pyspark.sql import functions as F

from pg_auto_dw_spark.sources import load_table
from tools.scale_probe import KEY_COLUMNS, replicate

FACTOR = 3


def test_replicate_shifts_keys_into_disjoint_copies(spark, sf_dir, tmp_path):
    dst = str(tmp_path / "x3")
    replicate(spark, sf_dir, dst, FACTOR)

    for name, keys in KEY_COLUMNS.items():
        src, rep = load_table(spark, sf_dir, name), load_table(spark, dst, name)
        assert rep.dtypes == src.dtypes, name

        def sizes(df):  # row count, then distinct values per key column
            return tuple(df.agg(F.count("*"), *[F.countDistinct(c) for c in keys]).first())

        assert sizes(rep) == tuple(FACTOR * n for n in sizes(src)), name

    def join_counts(d):
        cust, orders = load_table(spark, d, "customer"), load_table(spark, d, "orders")
        li, ev = load_table(spark, d, "lineitem"), load_table(spark, d, "events")
        return (
            orders.join(cust, orders.o_custkey == cust.c_custkey).count(),
            li.join(orders, li.l_orderkey == orders.o_orderkey).count(),
            ev.join(cust, ev.user_id == cust.c_custkey).count(),
        )

    base = join_counts(sf_dir)
    assert all(n > 0 for n in base), base
    assert join_counts(dst) == tuple(FACTOR * n for n in base)

    copied = sorted(
        fn for fn in os.listdir(sf_dir) if fn.removesuffix(".parquet") not in KEY_COLUMNS
    )
    assert copied == ["nation.parquet", "part.parquet", "region.parquet", "supplier.parquet"]
    for fn in copied:
        assert filecmp.cmp(os.path.join(sf_dir, fn), os.path.join(dst, fn), shallow=False)
