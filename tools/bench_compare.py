"""Floor-normalized comparison of two bench artifacts.

Usage: python tools/bench_compare.py OLD.json NEW.json

Each per-query delta is decomposed using the artifacts' own
calibration fields (job_overhead_ms, queries_jobs): the scheduler-floor
share of a timing is jobs * floor, the remainder is plan cost. When an
artifact predates the calibration fields (r1-r5), raw timings are
compared and flagged as such -- the tool never invents a floor.

The driver records BENCH_r{N}.json with a "tail"/"parsed" wrapper;
bare bench.py output lines are accepted too.
"""

from __future__ import annotations

import json
import signal
import sys

signal.signal(signal.SIGPIPE, signal.SIG_DFL)  # clean exit under `| head`


def decode_q(art: dict) -> dict:
    """Reconstruct the per-query map from the positional compact
    encoding bench.py emits when the full {name: sec} map outgrows the
    2000-byte stdout window (r15 VERDICT directive 2): "q" =
    centisecond ints in benched HEADLINE order, "qk" = first 8 md5 hex
    of the comma-joined names. Returns the artifact with "queries"
    restored (seconds, error rows -1), or unchanged if the order hash
    does not match this repo's current bench order (the artifact was
    produced by a different rotation state -- refuse to mislabel)."""
    if "queries" in art or "q" not in art:
        return art
    import hashlib
    import os
    import sys as _sys

    _sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import bench

    order = bench.HEADLINE
    if len(order) != len(art["q"]) or (
        hashlib.md5(",".join(order).encode()).hexdigest()[:8] != art.get("qk")
    ):
        print(
            f"note: positional 'q' present but order hash {art.get('qk')} does "
            "not match this repo's bench order; cannot decode -- use the "
            "artifact's BENCH_DETAIL.json instead.",
            file=sys.stderr,
        )
        return art
    art = dict(art)
    art["queries"] = {
        n: (v / 100.0 if v >= 0 else -1.0) for n, v in zip(order, art["q"])
    }
    return art


def load(path: str) -> dict:
    with open(path) as f:
        d = json.load(f)
    if "parsed" in d and d["parsed"]:
        return decode_q(d["parsed"])
    if "tail" in d:  # driver wrapper whose parse failed: last JSON line
        for line in reversed(d["tail"].strip().splitlines()):
            line = line[line.find("{") :] if "{" in line else ""
            if line:
                try:
                    return decode_q(json.loads(line))
                except json.JSONDecodeError:
                    continue
        raise SystemExit(f"{path}: no parsable bench line in tail")
    return decode_q(d)


def plan_cost(art: dict, q: str) -> tuple[float, bool]:
    """(seconds attributable to the plan, calibrated?) for query q."""
    t = art["queries"][q]
    floor = art.get("job_overhead_ms")
    jobs = (art.get("queries_jobs") or {}).get(q)
    # jobs == 0 means the count came from bench.py's exception fallback
    # (no real query runs zero jobs): treat as uncalibrated, never
    # label a raw, floor-uncorrected ratio as plan-norm (r6 ADVICE).
    if floor is None or not jobs:
        return t, False
    return max(0.0, t - jobs * floor / 1000.0), True


def main() -> None:
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    old, new = load(sys.argv[1]), load(sys.argv[2])
    shared = [q for q in new["queries"] if q in old["queries"]]
    def cal(art: dict) -> str:
        # all four calibration components (r13): quote the one matching
        # the moving query's workload class, not just the arithmetic
        return (
            f"floor={art.get('job_overhead_ms', '?')}ms "
            f"jvm={art.get('jvm_compute_ms', '?')}ms "
            f"str={art.get('jvm_string_ms', '?')}ms "
            f"shf={art.get('jvm_shuffle_ms', '?')}ms "
            f"alc={art.get('jvm_alloc_ms', '?')}ms"
        )

    print(f"old: {cal(old)} | new: {cal(new)}")
    print(f"{'query':44s} {'old':>7s} {'new':>7s} {'raw':>7s} {'plan-norm':>9s}")
    tot_o = tot_n = 0.0
    rows = []
    so, sn = old.get("queries_stat") or {}, new.get("queries_stat") or {}
    # r13 ADVICE: queries_stat is deliberately stripped from the
    # compact BENCH artifact (bench.py truncation guard), so a
    # compact-vs-detail comparison would default the missing side to
    # 'median3' and print spurious (or suppress genuine) mixed-
    # estimator flags. Only flag when BOTH artifacts carry provenance.
    stat_known = bool(so) and bool(sn)
    if not stat_known:
        print(
            "note: estimator provenance (queries_stat) missing from at "
            "least one artifact (compact BENCH strips it); mixed-stat "
            "flags suppressed -- compare BENCH_DETAIL artifacts for them."
        )
    for q in shared:
        o, n = old["queries"][q], new["queries"][q]
        if o < 0 or n < 0:
            continue
        po, co = plan_cost(old, q)
        pn, cn = plan_cost(new, q)
        norm = f"{pn / po:9.2f}" if co and cn and po > 0.05 else "      n/a"
        # min-of-2 <= median-of-3 by construction: a row whose
        # estimator changed between artifacts carries a systematic
        # bias, so flag it rather than read the ratio at face value
        mixed = ""
        if stat_known and so.get(q, "median3") != sn.get(q, "median3"):
            mixed = f"  [stat {so.get(q, 'median3?')}->{sn.get(q, 'median3?')}]"
        rows.append((
            n - o,
            f"{q:44s} {o:7.2f} {n:7.2f} {n / o if o else 0:7.2f} {norm}{mixed}",
        ))
        tot_o += o
        tot_n += n
    for _, line in sorted(rows, reverse=True):
        print(line)
    print(
        f"{'TOTAL (' + str(len(rows)) + ' shared)':44s} {tot_o:7.2f} {tot_n:7.2f} "
        f"{tot_n / tot_o if tot_o else 0:7.2f}"
    )
    if not (old.get("queries_jobs") and new.get("queries_jobs")):
        print(
            "note: at least one artifact predates the calibration fields; "
            "'plan-norm' unavailable there -- raw ratios include VM drift."
        )


if __name__ == "__main__":
    main()
