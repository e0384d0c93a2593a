"""Tests of the benchmark harness's own logic (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
from spans import Span, Tracer, self_times  # noqa: E402
from stats import union_length  # noqa: E402


# -- generators ---------------------------------------------------------------


def test_dv_inputs_repeat_per_seed_and_vary_across_seeds():
    a, b, c = gen.dv_inputs(7), gen.dv_inputs(7), gen.dv_inputs(8)
    assert a.tables == b.tables
    assert a.delta.tables == b.delta.tables
    assert a.tables["customer"] != c.tables["customer"]
    # sizes are fixed by the workload, not by the seed
    assert {t: len(r) for t, r in a.tables.items() if t != "lineitem"} == {
        t: len(r) for t, r in c.tables.items() if t != "lineitem"}


def test_dv_delta_changes_what_it_declares():
    inp = gen.dv_inputs(3)
    d = inp.delta
    cust_changed = sum(1 for old, new in zip(inp.tables["customer"], d.tables["customer"])
                       if old != new)
    assert cust_changed == d.changed["customer"]["c_acctbal"] == 15
    part_changed = sum(1 for old, new in zip(inp.tables["part"], d.tables["part"]) if old != new)
    assert part_changed == d.changed["part"]["p_retailprice"] == 20
    assert len(d.tables["orders"]) - len(inp.tables["orders"]) == d.new_keys["orders"] == 150
    keys = [r[0] for r in d.tables["orders"]]
    assert len(keys) == len(set(keys))
    li = inp.tables["lineitem"]
    assert len({(r[0], r[3]) for r in li}) == len(li)  # composite key is unique


def test_zone_feed_repeats_per_seed_and_labels_its_lines():
    def batches(seed):
        feed = gen.ZoneFeed(seed, 200)
        return feed, [feed.next_batch() for _ in range(3)]

    (fa, a), (fb, b) = batches(11), batches(11)
    assert [x.lines for x in a] == [x.lines for x in b] and fa.benchmark == fb.benchmark
    assert [x.lines for x in a] != [x.lines for x in batches(12)[1]]
    texts: dict[int, str] = {}
    for batch in a:
        assert len(batch.lines) == 200
        bad = 0
        for line in batch.lines:
            try:
                doc = json.loads(line)
            except ValueError:
                bad += 1
                continue
            texts[doc["doc_id"]] = doc["text"]
        assert bad == batch.n_malformed == 20
        assert len(batch.junk_ids) == 10
        assert all(len(texts[i].split()) < 10 for i in batch.junk_ids)
    assert len(texts) == sum(len(x.lines) - x.n_malformed for x in a)
    # an exact id repeats an earlier line's text; any other text is new
    exact = set().union(*(x.exact_ids for x in a))
    seen = set()
    for i in sorted(texts):
        assert (texts[i] in seen) == (i in exact)
        seen.add(texts[i])
    # a leak id shares an 8-word run with the benchmark set; nothing else does
    grams = {tuple(t.split()[k:k + 8]) for _, t in fa.benchmark
             for k in range(len(t.split()) - 7)}
    leaks = set().union(*(x.leak_ids for x in a))
    assert len(leaks) >= 3 * 4
    for i, text in texts.items():
        ws = text.split()
        assert any(tuple(ws[k:k + 8]) in grams for k in range(len(ws) - 7)) == (i in leaks)


# -- span arithmetic ----------------------------------------------------------


def _span(i, parent, start, end, name="s"):
    return Span(i, name, parent, "r", start, end)


def test_union_length_merges_overlaps_and_clips():
    assert union_length([], 0, 10) == 0
    assert union_length([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert union_length([(-5, 2), (9, 20)], 0, 10) == 3
    assert union_length([(1, 4), (1, 4)], 0, 10) == 3


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 4.0),
        _span(3, 1, 3.0, 6.0),  # overlaps its sibling (another thread)
        _span(4, 2, 1.5, 2.0),
        _span(5, None, 20.0, 21.0),
    ]
    st = self_times(spans)
    assert st[1] == 10.0 - 5.0
    assert st[2] == 3.0 - 0.5
    assert st[3] == 3.0
    assert st[4] == 0.5
    assert st[5] == 1.0


def test_self_times_and_uncovered_account_for_the_wall():
    spans = [_span(1, None, 0.0, 10.0), _span(2, 1, 1.0, 4.0), _span(3, 2, 2.0, 3.0),
             _span(4, 1, 5.0, 9.0)]
    st = self_times(spans)
    assert abs(sum(st.values()) - 10.0) < 1e-12


def test_tracer_nests_spans_and_adopts_other_thread_spans():
    tr = Tracer("t")
    with tr.span("outer"):
        with tr.span("inner"):
            pass
        def work():
            with tr.span("worker"):
                pass
        t = threading.Thread(target=work)
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
    by_name = {s.name: s for s in tr.spans}
    assert by_name["inner"].parent == by_name["outer"].id
    assert by_name["worker"].parent == by_name["outer"].id
    assert by_name["outer"].parent is None


def test_tracer_wrap_and_uninstall():
    class Box:
        def f(self, x):
            return x + 1

    tr = Tracer("t")
    tr.wrap(Box, "f", "box.f", after=lambda sp, r, a, k: sp.attrs.update(result=r))
    assert Box().f(1) == 2
    assert [(s.name, s.attrs["result"]) for s in tr.spans] == [("box.f", 2)]
    tr.uninstall()
    Box().f(1)
    assert len(tr.spans) == 1


# -- contract -----------------------------------------------------------------


# -- run records --------------------------------------------------------------


def test_peak_live_heap_is_the_largest_after_pause_occupancy(tmp_path):
    log = tmp_path / "gc.log"
    log.write_text(
        "[0.01s][info][gc] Using G1\n"
        "[0.5s][info][gc] GC(0) Pause Young (Normal) (G1 Evacuation Pause) 20M->17M(254M) 15.4ms\n"
        "[4.3s][info][gc] GC(4) Pause Remark 30M->30M(110M) 8.4ms\n"
        "[5.0s][info][gc] GC(5) Concurrent Mark Cycle 12.1ms\n"
        "[9.9s][info][gc] GC(9) Pause Young (Normal) (G1 Evacuation Pause) 2G->1G(2G) 30.0ms\n"
        "[12s][info][gc] GC(12) Pause Young (Normal) (G1 Evacuation Pause) 900M->512K(2G) 9.0ms\n")
    assert run.peak_live_heap_mb(str(log)) == 1024.0


def test_source_hash_follows_the_package_sources_only(tmp_path):
    pkg = tmp_path / "pg_auto_dw_spark"
    (pkg / "__pycache__").mkdir(parents=True)
    (pkg / "api.py").write_text("x = 1\n")
    h = run.source_hash(str(tmp_path))
    (pkg / "__pycache__" / "api.cpython.pyc").write_bytes(b"junk")
    (tmp_path / "README.md").write_text("not the package")
    assert run.source_hash(str(tmp_path)) == h
    (pkg / "api.py").write_text("x = 2\n")
    assert run.source_hash(str(tmp_path)) != h


def test_benchmark_json_names_match_the_harness():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(run.E2E_UNITS.items())
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == layers.PER_LAYER
    import workloads
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
