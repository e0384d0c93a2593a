"""Structural guards for the oracle-rotation protocol
(queries_catalog.py): the invariants the driver and judge audit every
round, made executable after r10's note designated a retirement that
was not actually in the resting set (caught only by hand in r11).

These tests are rotation-shape guards, not correctness checks -- the
DuckDB comparison lives in tools/check_oracle.py."""

from pg_auto_dw_spark import queries_catalog as qc


def test_priority_is_exactly_the_driver_cap():
    """The driver verifies the FIRST 50 rows; _PRIORITY must be exactly
    that many or a row silently goes stale past the two-round cycle."""
    assert len(qc._PRIORITY) == 50


def test_rotation_sets_disjoint_and_complete():
    pri, dep = set(qc._PRIORITY), set(qc._DEPRIORITIZED)
    assert not (pri & dep), pri & dep
    registered = set(qc._QUERIES)
    assert pri <= registered
    assert dep <= registered


def test_queries_order_is_priority_mid_deprioritized():
    names = list(qc.queries())
    assert names[:50] == qc._PRIORITY
    assert names[-len(qc._DEPRIORITIZED):] == qc._DEPRIORITIZED
    mid = names[50:-len(qc._DEPRIORITIZED)]
    # mid-order rows are exactly the registrations in NEITHER list
    expected_mid = [
        n for n in qc._QUERIES
        if n not in set(qc._PRIORITY) | set(qc._DEPRIORITIZED)
    ]
    assert mid == expected_mid


def test_no_row_more_than_one_round_stale():
    """Every registration sits in _PRIORITY (verified this round),
    _DEPRIORITIZED (verified last round), or mid-order (new, first
    driver row next round). Anything else would rot unverified."""
    covered = set(qc._PRIORITY) | set(qc._DEPRIORITIZED)
    uncovered = [n for n in qc._QUERIES if n not in covered]
    # mid-order registrations are allowed, but each must be matched by
    # a DESIGNATED retirement candidate so the next rotation's
    # exactly-50 arithmetic closes (r12 tightening of the old "+3
    # grace": the slack is now an explicit, checkable list, not a
    # fudge factor)
    slack = 50 - len(qc._DEPRIORITIZED)
    budget = max(slack, 0) + len(qc._NEXT_RETIREMENT_CANDIDATES)
    assert len(uncovered) <= budget, (
        f"{len(uncovered)} mid-order rows but only {budget} absorbable "
        f"next round -- designate more retirement candidates"
    )


def test_retirement_candidates_are_resting_and_distinct():
    """Candidates must come from the RESTING set (they were verified
    last round, so retiring them never loses an in-window row -- the
    r11 pii_scan lesson)."""
    cands = qc._NEXT_RETIREMENT_CANDIDATES
    assert len(set(cands)) == len(cands)
    not_resting = [c for c in cands if c not in set(qc._DEPRIORITIZED)]
    assert not_resting == [], not_resting


def test_every_rotation_row_has_an_oracle():
    """queries()/oracle_sql() must pair up: a rotation row without an
    oracle gets only the weaker rows-only check."""
    q, o = qc.queries(), qc.oracle_sql()
    missing = [n for n in q if n not in o]
    assert missing == [], missing


def test_every_registration_is_a_live_row():
    """Retiring a row deletes its builder and oracle: a registration
    outside queries() would be code nothing verifies or benches."""
    assert set(qc._QUERIES) == set(qc.queries())


def test_bench_headline_rows_are_live():
    import bench  # the repo root is on sys.path via conftest.py

    live = qc.queries()
    missing = [n for n in bench.HEADLINE if n not in live]
    assert missing == [], missing


def test_registration_docstrings_match_replay_parameters():
    """r12 ADVICE: an oracle registration's docstring must state the
    parameters its replay actually runs (the classifier row said '6
    full-batch iterations' while the code passed iters=4). Pin the
    one that drifted: the stated iteration count must equal the
    iters= argument in the body."""
    import inspect
    import re

    fn = qc._QUERIES["classifier_train_contract"]
    src = inspect.getsource(fn)
    stated = re.search(r"(\d+) full-batch iterations", src)
    passed = re.search(r"iters=(\d+)", src)
    assert stated and passed
    assert stated.group(1) == passed.group(1), (stated.group(1), passed.group(1))
