"""The bench stdout contract's compact per-query encoding (r15 VERDICT
directive 2): at 66+ headline rows the full {name: sec} map cannot fit
the recording harness's 2000-byte window, so bench.py degrades to a
positional "q" centisecond array + "qk" order hash instead of dropping
per-query visibility. These tests pin the encode/decode round-trip and
the size contract without running Spark."""

import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from tools.bench_compare import decode_q  # noqa: E402


def _benched_order() -> list[str]:
    return bench.HEADLINE


def _encode(timings: dict[str, float]) -> dict:
    """The same positional encoding bench.py main() emits."""
    order = [n for n in _benched_order() if n in timings]
    return {
        "metric": "headline_query_wall_clock_total",
        "value": round(sum(t for t in timings.values() if t >= 0), 3),
        "unit": "sec",
        "sf": 0.1,
        "q": [-1 if timings[n] < 0 else int(round(timings[n] * 100)) for n in order],
        "qk": hashlib.md5(",".join(order).encode()).hexdigest()[:8],
    }


def test_roundtrip_restores_every_row_at_centisecond_precision():
    order = _benched_order()
    timings = {n: round(0.07 * (i + 1), 2) for i, n in enumerate(order)}
    timings[order[3]] = -1.0  # a failed row survives as -1
    art = decode_q(_encode(timings))
    assert set(art["queries"]) == set(order)
    for n in order:
        assert art["queries"][n] == timings[n], n


def test_wrong_order_hash_refuses_to_decode():
    order = _benched_order()
    enc = _encode({n: 1.0 for n in order})
    enc["qk"] = "00000000"
    art = decode_q(enc)
    assert "queries" not in art  # refused, not mislabeled


def test_compact_line_fits_the_2000_byte_stdout_window():
    """The real failure mode: the driver keeps only the LAST 2000
    bytes of stdout. The encoded line -- with every envelope field
    bench.py emits -- must stay under the 1900-byte guard even with
    worst-case (5-digit centisecond) timings on every row."""
    enc = _encode({n: 999.99 for n in _benched_order()})
    enc.update(
        {
            "job_overhead_ms": 41.7,
            "job_overhead_ms_post": 22.8,
            "jvm_compute_ms": 176.7,
            "jvm_string_ms": 861.8,
            "jvm_shuffle_ms": 674.5,
            "jvm_alloc_ms": 514.4,
            "jobs_total": 552,
            "detail": "BENCH_DETAIL.json",
        }
    )
    line = json.dumps(enc, separators=(",", ":"))
    assert len(line) <= 1900, len(line)


def test_full_map_still_preferred_when_it_fits():
    """decode_q must pass through artifacts that carry the full map."""
    art = decode_q({"queries": {"a": 1.0}, "q": [100]})
    assert art["queries"] == {"a": 1.0}
