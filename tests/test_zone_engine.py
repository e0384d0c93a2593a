"""Crash/replay battery for the landing-zone engine
(streaming/jobs.py ``_zone_stream``): for each zone preset without a
crash-before-commit test of its own, a batch whose transaction fails
at the ledger append must land exactly once when the stream restarts
on the same checkpoint, and re-running the finished checkpoint must
append nothing. The near-dup and media zones keep their own
all-or-nothing tests (test_r10_neardup.py, test_streaming_media.py)."""

import hashlib
import json

import pytest
from pyspark.sql import types as T

import pg_auto_dw_spark.warehouse as wh_mod
from pg_auto_dw_spark.streaming import jobs
from pg_auto_dw_spark.warehouse import Warehouse
from tests.test_streaming_semdecon import PARAPHRASE, UNRELATED, _index

SCHEMA = T.StructType(
    [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
)
GOOD = ("the quick study found that careful analysis gives better results "
        "and the method works well with clear data")
BANNER = "alpha beta gamma delta epsilon zeta eta theta"
CLEAN = "totally unrelated clean document with enough words to gram"
STOLEN = f"stolen eval text {BANNER} pasted in"
BROKEN = "{broken"


def _line(doc_id, text):
    return json.dumps({"doc_id": doc_id, "text": text})


def _sha(text):
    return hashlib.sha256(text.encode()).hexdigest()


def _jsonl(spark, src, wh, ckpt, tmp_path):
    return jobs.jsonl_ingest_stream(spark, src, SCHEMA, wh, "z.clean", "z.quar", ckpt)


def _gate(spark, src, wh, ckpt, tmp_path):
    return jobs.jsonl_ingest_stream(
        spark, src, SCHEMA, wh, "z.clean", "z.quar", ckpt,
        rejected_table="z.rejected", quality_gopher=True,
        gopher_kwargs=dict(min_words=5, min_stopwords=1),
    )


def _decontam(spark, src, wh, ckpt, tmp_path):
    bench = spark.createDataFrame(
        [(1000, f"prefix words here {BANNER} suffix words there")],
        "doc_id long, text string",
    )
    return jobs.jsonl_decontam_ingest_stream(
        spark, src, SCHEMA, wh, "z.clean", "z.contam", "z.quar", ckpt, bench
    )


def _dedup(spark, src, wh, ckpt, tmp_path):
    return jobs.jsonl_dedup_ingest_stream(
        spark, src, SCHEMA, wh, "z.corpus", "z.quar", ckpt
    )


def _semdecon(spark, src, wh, ckpt, tmp_path):
    return jobs.jsonl_semdecon_ingest_stream(
        spark, src, SCHEMA, wh, "z.clean", "z.contam", "z.quar", ckpt,
        index_wh=_index(spark, tmp_path), index_name="dc", threshold=0.8,
    )


# zone -> (start, lines of the one batch, ledger owner, expected rows
# of every zone table after the batch lands once)
ZONES = {
    "jsonl": (
        _jsonl,
        [_line(1, "one"), BROKEN, _line(2, "two")],
        "z.clean",
        {"z.clean": [(1, "one"), (2, "two")], "z.quar": [(BROKEN,)]},
    ),
    "jsonl_quality_gate": (
        _gate,
        [_line(1, GOOD), _line(2, "too short"), BROKEN],
        "z.clean",
        {
            "z.clean": [(1, GOOD)],
            "z.rejected": [(2, "too short")],
            "z.quar": [(BROKEN,)],
        },
    ),
    "bloom_decontam": (
        _decontam,
        [_line(1, CLEAN), _line(2, STOLEN), BROKEN],
        "z.clean",
        {"z.clean": [(1, CLEAN)], "z.contam": [(2, STOLEN)], "z.quar": [(BROKEN,)]},
    ),
    "digest_dedup": (
        _dedup,
        [_line(1, "same text"), _line(2, "same text"), _line(3, "other"), BROKEN],
        "z.corpus",
        {
            "z.corpus": [(1, "same text"), (3, "other")],
            "z.corpus.digests": sorted([(_sha("same text"), 1), (_sha("other"), 3)]),
            "z.quar": [(BROKEN,)],
        },
    ),
    "semantic_decontam": (
        _semdecon,
        [_line(100, PARAPHRASE), _line(101, UNRELATED), BROKEN],
        "z.clean",
        {
            "z.clean": [(101, UNRELATED)],
            "z.contam": [(100, PARAPHRASE)],
            "z.quar": [(BROKEN,)],
        },
    ),
}


def _rows(wh, tables):
    return {t: sorted(tuple(r) for r in wh.read(t).collect()) for t in tables}


@pytest.mark.parametrize("zone", list(ZONES))
def test_zone_lands_once_after_crash_before_commit(spark, tmp_path, monkeypatch, zone):
    start, lines, owner, expected = ZONES[zone]
    src = tmp_path / "feed"
    src.mkdir()
    (src / "a.jsonl").write_text("\n".join(lines) + "\n")
    root, ckpt = str(tmp_path / "wh"), str(tmp_path / "ckpt")
    ledger = f"{owner}.ingest_log"

    real_append = wh_mod._Transaction.append

    def crash(self, name, df):
        if name == ledger:
            raise RuntimeError("injected crash before the batch commit")
        return real_append(self, name, df)

    monkeypatch.setattr(wh_mod._Transaction, "append", crash)
    with pytest.raises(Exception, match="injected crash"):
        start(spark, str(src), Warehouse(spark, root), ckpt, tmp_path).awaitTermination(120)
    monkeypatch.setattr(wh_mod._Transaction, "append", real_append)

    wh = Warehouse(spark, root)  # a restarted process: recovery runs at init
    for t in [*expected, ledger]:
        assert not wh.exists(t) or wh.read(t).count() == 0, t

    # the restart re-runs the uncommitted batch under the same id
    start(spark, str(src), wh, ckpt, tmp_path).awaitTermination(120)
    assert _rows(wh, expected) == expected
    assert _rows(wh, [ledger]) == {ledger: [(0,)]}

    # the finished checkpoint replays nothing
    start(spark, str(src), wh, ckpt, tmp_path).awaitTermination(120)
    assert _rows(wh, [*expected, ledger]) == {**expected, ledger: [(0,)]}
