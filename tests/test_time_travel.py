"""Warehouse snapshot retention / time travel / rollback.

The reference inherits MVCC + transactional DDL from Postgres
(controller/dv_loader.rs:59-64 runs each load in one transaction); an
ACID table format (Delta/Iceberg) adds on top of that a versioned
commit log with `VERSION AS OF` reads and RESTORE. The Warehouse's
generation+pointer layout already had the commit point; these tests pin
the retention/history/read_version/rollback surface built on it.
"""

import os

from pyspark.sql import types as T

from pg_auto_dw_spark.warehouse import Warehouse

SCHEMA = T.StructType(
    [T.StructField("k", T.LongType()), T.StructField("v", T.StringType())]
)


def _df(spark, tag, n=5):
    return spark.createDataFrame([(i, f"{tag}{i}") for i in range(n)], SCHEMA)


def _vals(df):
    return {r["v"] for r in df.collect()}


def test_read_version_returns_each_retained_snapshot(spark, warehouse_dir):
    wh = Warehouse(spark, warehouse_dir, retain_generations=3)
    wh.create_table("m.t", SCHEMA)
    wh.overwrite("m.t", _df(spark, "a"))
    wh.overwrite("m.t", _df(spark, "b"))
    wh.overwrite("m.t", _df(spark, "c"))
    hist = wh.history("m.t")
    # version 0 = the pre-pointer base dir (empty created table)
    versions = [h["version"] for h in hist]
    assert versions == [0, 1, 2, 3]
    assert hist[-1]["live"] and hist[-1]["available"]
    assert _vals(wh.read_version("m.t", 3)) == {f"c{i}" for i in range(5)}
    assert _vals(wh.read_version("m.t", 2)) == {f"b{i}" for i in range(5)}
    assert _vals(wh.read_version("m.t", 1)) == {f"a{i}" for i in range(5)}
    assert _vals(wh.read("m.t")) == {f"c{i}" for i in range(5)}


def test_retention_gc_drops_oldest_and_read_raises(spark, warehouse_dir):
    wh = Warehouse(spark, warehouse_dir, retain_generations=2)
    wh.create_table("m.t", SCHEMA)
    for tag in "abcd":
        wh.overwrite("m.t", _df(spark, tag))
    hist = wh.history("m.t")
    avail = {h["version"]: h["available"] for h in hist}
    assert avail[4] and avail[3]  # last two retained
    assert not avail[1] and not avail[2]  # past the horizon -> GCed
    try:
        wh.read_version("m.t", 1)
        raise AssertionError("expected retention error")
    except ValueError as e:
        assert "retention window" in str(e)
    try:
        wh.read_version("m.t", 99)
        raise AssertionError("expected unknown-version error")
    except ValueError as e:
        assert "no version 99" in str(e)


def test_default_retention_matches_old_behavior(spark, warehouse_dir):
    wh = Warehouse(spark, warehouse_dir)  # retain_generations=1
    wh.create_table("m.t", SCHEMA)
    wh.overwrite("m.t", _df(spark, "a"))
    wh.overwrite("m.t", _df(spark, "b"))
    gens = [e for e in os.listdir(warehouse_dir) if "__gen-" in e]
    assert len(gens) == 1  # only the live generation on disk
    assert len(wh.history("m.t")) == 3  # but the log remembers the lineage


def test_rollback_restores_old_state_as_new_commit(spark, warehouse_dir):
    wh = Warehouse(spark, warehouse_dir, retain_generations=3)
    wh.create_table("m.t", SCHEMA)
    wh.overwrite("m.t", _df(spark, "good"))
    wh.overwrite("m.t", _df(spark, "bad"))
    wh.rollback("m.t", 1)
    assert _vals(wh.read("m.t")) == {f"good{i}" for i in range(5)}
    hist = wh.history("m.t")
    assert hist[-1]["action"] == "rollback(to=1)" and hist[-1]["live"]
    # the rolled-back-over version is still readable (auditable mistake)
    assert _vals(wh.read_version("m.t", 2)) == {f"bad{i}" for i in range(5)}
    # and a subsequent write moves forward normally
    wh.overwrite("m.t", _df(spark, "fixed"))
    assert _vals(wh.read("m.t")) == {f"fixed{i}" for i in range(5)}
    assert wh.history("m.t")[-1]["version"] == 4


def test_append_is_cow_under_retention(spark, warehouse_dir):
    """Appends must not mutate a retained snapshot in place."""
    wh = Warehouse(spark, warehouse_dir, retain_generations=3)
    wh.create_table("m.t", SCHEMA)
    wh.overwrite("m.t", _df(spark, "a"))
    v1 = wh.history("m.t")[-1]["version"]
    wh.append("m.t", _df(spark, "x", n=2))
    assert wh.history("m.t")[-1]["action"] == "append"
    # the pre-append snapshot still reads exactly its old contents
    assert _vals(wh.read_version("m.t", v1)) == {f"a{i}" for i in range(5)}
    assert _vals(wh.read("m.t")) == {f"a{i}" for i in range(5)} | {"x0", "x1"}


def test_partitioned_merge_history_under_retention(spark, warehouse_dir):
    """overwrite_partitions commits are versioned like full overwrites;
    untouched partitions' files are hardlink-shared between retained
    generations (retention cost = delta, not N copies)."""
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("v", T.StringType()),
            T.StructField("p", T.LongType()),
        ]
    )
    wh = Warehouse(spark, warehouse_dir, retain_generations=3)
    wh.create_table("m.pt", schema, partition_by=["p"])
    base = spark.createDataFrame([(i, f"a{i}", i % 2) for i in range(6)], schema)
    wh.overwrite("m.pt", base)
    patch = spark.createDataFrame([(0, "B0", 0), (2, "B2", 0), (4, "B4", 0)], schema)
    wh.overwrite_partitions("m.pt", patch)
    assert wh.history("m.pt")[-1]["action"] == "overwrite_partitions"
    new = {r["v"] for r in wh.read("m.pt").collect()}
    assert new == {"B0", "B2", "B4", "a1", "a3", "a5"}
    old_version = wh.history("m.pt")[-2]["version"]
    old = {r["v"] for r in wh.read_version("m.pt", old_version).collect()}
    assert old == {f"a{i}" for i in range(6)}
    # untouched partition p=1 shares inodes across the two generations
    log = wh._read_log("m.pt")
    d_old = os.path.join(warehouse_dir, log[-2]["dir"], "p=1")
    d_new = os.path.join(warehouse_dir, log[-1]["dir"], "p=1")
    inodes_old = {os.stat(os.path.join(d_old, f)).st_ino for f in os.listdir(d_old) if not f.startswith(("_", "."))}
    inodes_new = {os.stat(os.path.join(d_new, f)).st_ino for f in os.listdir(d_new) if not f.startswith(("_", "."))}
    assert inodes_old and inodes_old == inodes_new


def test_stray_uncommitted_generation_still_gced(spark, warehouse_dir):
    """Retention keeps only LOGGED generations: an orphan from a crashed
    writer is still reaped by init GC."""
    import shutil

    wh = Warehouse(spark, warehouse_dir, retain_generations=3)
    wh.create_table("m.t", SCHEMA)
    wh.overwrite("m.t", _df(spark, "a"))
    stray = wh._base("m.t") + "__gen-deadbeef"
    shutil.copytree(wh.path("m.t"), stray)
    Warehouse(spark, warehouse_dir, retain_generations=3)
    assert not os.path.isdir(stray)
    assert _vals(wh.read("m.t")) == {f"a{i}" for i in range(5)}


def test_vacuum_reaps_beyond_retention(spark, warehouse_dir):
    wh = Warehouse(spark, warehouse_dir, retain_generations=4)
    wh.create_table("m.t", SCHEMA)
    for tag in "abcd":
        wh.overwrite("m.t", _df(spark, tag))
    assert sum(1 for h in wh.history("m.t") if h["available"]) >= 4
    stats = wh.vacuum("m.t", retain=1)
    assert stats["generations_removed"] >= 2 and stats["bytes_unlinked"] > 0
    hist = wh.history("m.t")
    assert hist[-1]["available"] and hist[-1]["live"]
    assert not hist[1]["available"]  # vacuumed but still in history
    assert _vals(wh.read("m.t")) == {f"d{i}" for i in range(5)}
    try:
        wh.read_version("m.t", hist[1]["version"])
        raise AssertionError("expected retention error")
    except ValueError as e:
        assert "retention window" in str(e)


def test_snapshot_diff_inserted_deleted_changed(spark):
    from pg_auto_dw_spark.functions.diff import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", None)],
        "id long, name string, score double",
    )
    new = spark.createDataFrame(
        [(2, "b2", 25.0), (3, "c", None), (4, "d", 40.0)],
        "id long, name string, score double",
    )
    rows = {r["id"]: r for r in snapshot_diff(old, new, ["id"]).collect()}
    assert rows[1]["change_type"] == "deleted" and rows[1]["n_cols_changed"] is None
    assert rows[2]["change_type"] == "changed" and rows[2]["n_cols_changed"] == 2
    assert rows[4]["change_type"] == "inserted"
    assert 3 not in rows  # NULL == NULL under eqNullSafe: unchanged


def test_snapshot_diff_versions_over_warehouse(spark, tmp_path):
    from pg_auto_dw_spark.functions.diff import snapshot_diff_versions
    from pg_auto_dw_spark.warehouse import Warehouse
    from pyspark.sql import types as T

    wh = Warehouse(spark, str(tmp_path / "wh"), retain_generations=3)
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )
    wh.create_table("t.snap", schema)
    # versions come from pointer commits (overwrite), not in-place appends
    wh.overwrite("t.snap", spark.createDataFrame([(1, "x"), (2, "y")], schema))
    v1 = wh.history("t.snap")[-1]["version"]
    wh.overwrite("t.snap", spark.createDataFrame([(1, "x"), (2, "z"), (3, "w")], schema))
    v2 = wh.history("t.snap")[-1]["version"]
    d = {r["id"]: r["change_type"] for r in
         snapshot_diff_versions(wh, "t.snap", v1, v2, ["id"]).collect()}
    assert d == {2: "changed", 3: "inserted"}


def test_snapshot_diff_validates_inputs(spark):
    import pytest as _pytest

    from pg_auto_dw_spark.functions.diff import snapshot_diff

    df = spark.createDataFrame([(1, "a")], "id long, name string")
    with _pytest.raises(ValueError):
        snapshot_diff(df, df, [])
    with _pytest.raises(ValueError):
        snapshot_diff(df, df.drop("name"), ["id"], compare_columns=["name"])


def test_snapshot_diff_rejects_key_as_compare_column(spark):
    import pytest as _pytest

    from pg_auto_dw_spark.functions.diff import snapshot_diff

    df = spark.createDataFrame([(1, "a")], "id long, name string")
    with _pytest.raises(ValueError, match="key columns cannot"):
        snapshot_diff(df, df, ["id"], compare_columns=["id", "name"])


_KV = SCHEMA


def _kv(spark, tag, n=4):
    return spark.createDataFrame([(i, f"{tag}{i}") for i in range(n)], _KV)


def test_retention_survives_default_reopen(spark, tmp_path):
    """A read-only open with the default retention must NOT GC the
    snapshots a previous owner configured to keep."""
    root = str(tmp_path / "wh")
    wh = Warehouse(spark, root, retain_generations=3)
    wh.create_table("m.t", _KV)
    for tag in "abc":
        wh.overwrite("m.t", _kv(spark, tag))
    avail_before = sum(1 for h in wh.history("m.t") if h["available"])
    ro = Warehouse(spark, root)  # monitoring open, no knob passed
    assert ro.retain_generations == 3  # inherited from the sidecar meta
    assert sum(1 for h in ro.history("m.t") if h["available"]) == avail_before
    # the owner can still time travel
    assert {r["v"] for r in wh.read_version("m.t", 1).collect()} == {f"a{i}" for i in range(4)}


def test_history_marks_single_live_version_after_rollback(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"), retain_generations=3)
    wh.create_table("m.t", _KV)
    wh.overwrite("m.t", _kv(spark, "good"))
    wh.overwrite("m.t", _kv(spark, "bad"))
    wh.rollback("m.t", 1)
    hist = wh.history("m.t")
    live = [h for h in hist if h["live"]]
    assert len(live) == 1
    assert live[0]["version"] == hist[-1]["version"]  # the rollback commit itself
