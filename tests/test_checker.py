"""The correctness gate's comparator must actually discriminate — a
vacuously-passing harness would green-light everything."""

from tools.check_correctness import canon_cell, frame_digest


def test_digest_detects_value_changes():
    cols = ["a", "b"]
    base = frame_digest(cols, [(1, "x"), (2, "y")])
    assert frame_digest(cols, [(1, "x"), (2, "z")]) != base  # value change
    assert frame_digest(cols, [(1, "x")]) != base  # row-count change
    assert frame_digest(["a", "c"], [(1, "x"), (2, "y")]) != base  # schema change


def test_digest_order_insensitive():
    cols = ["a", "b"]
    assert frame_digest(cols, [(1, "x"), (2, "y")]) == frame_digest(cols, [(2, "y"), (1, "x")])
    # column order must not matter either (driver sorts by name)
    assert frame_digest(["b", "a"], [("x", 1), ("y", 2)]) == frame_digest(["a", "b"], [(1, "x"), (2, "y")])


def test_canon_cell_floats_and_null():
    assert canon_cell(None) == "NULL"
    assert canon_cell(2.0) == "2"  # integral floats normalize (bigint vs double)
    assert canon_cell(2.5) == canon_cell(2.5000000000001)  # 9-dp rounding
    assert canon_cell(True) == "1"


def test_plan_audit_bnlj_whitelist_enforced():
    """An injected bnlj row (not whitelisted / wrong count), a cartesian,
    a row-Python node, or a builder error must each produce a violation;
    the exact whitelisted shape must not (VERDICT r7 #5)."""
    from tools.plan_audit import BNLJ_WHITELIST, check_violations

    clean = {"bnlj": 0, "cart": 0, "row_py": 0}
    ok_name = "q26_cosine_topk"
    ok = dict(clean, bnlj=BNLJ_WHITELIST[ok_name])
    assert check_violations([(ok_name, ok), ("q_new", dict(clean))], []) == []

    injected = [
        ("q_new_bnlj", dict(clean, bnlj=2)),          # new bnlj query
        (ok_name, dict(clean, bnlj=BNLJ_WHITELIST[ok_name] + 2)),  # grew
        ("q_cart", dict(clean, cart=1)),
        ("q_rowpy", dict(clean, row_py=1)),
    ]
    v = check_violations(injected, [("q_broken", "KeyError('x')")])
    assert len(v) == 5
    assert any("q_new_bnlj" in s and "bnlj" in s for s in v)
    assert any(ok_name in s for s in v)
    assert any("CartesianProduct" in s for s in v)
    assert any("BatchEvalPython" in s for s in v)
    assert any("builder error" in s for s in v)


def test_plan_audit_round_capture_enforced():
    """VERDICT r9 #5: plans captured from inside an iterative builder's
    loop (registry.audit_round) are enforced too — a nested-loop join or
    a row-Python node hidden behind a per-round checkpoint must fail the
    audit, and the whitelisted per-round shape must not."""
    from tools.plan_audit import ROUND_BNLJ_WHITELIST, check_violations

    from tools.plan_audit import BNLJ_WHITELIST

    clean = {"bnlj": 0, "cart": 0, "row_py": 0, "round_bnlj": 0}
    wl_name = next(iter(ROUND_BNLJ_WHITELIST))
    # the round-whitelisted query may also carry a final-plan whitelist
    # entry (q228 does) — satisfy both for the clean case
    base = dict(clean, bnlj=BNLJ_WHITELIST.get(wl_name, 0))
    ok = dict(base, round_bnlj=ROUND_BNLJ_WHITELIST[wl_name])
    # the whitelist is an UPPER bound (round-10 ADVICE): the probe that
    # produces the whitelisted bnlj plans lives in a data-dependent
    # branch, so a run that captured FEWER (or zero) is clean too
    under = dict(base, round_bnlj=0)
    assert check_violations(
        [(wl_name, ok), (wl_name, under), ("q_iter", dict(clean))], []
    ) == []

    injected = [
        ("q_iter_bnlj", dict(clean, round_bnlj=2)),   # loop grew a bnlj
        (wl_name, dict(base, round_bnlj=ROUND_BNLJ_WHITELIST[wl_name] + 2)),
        # a row-Python node found in a CAPTURED round plan is folded into
        # row_py by audit_one and fails unconditionally
        ("q_iter_rowpy", dict(clean, row_py=1)),
    ]
    v = check_violations(injected, [])
    assert len(v) == 3
    assert any("q_iter_bnlj" in s and "per-round bnlj" in s for s in v)
    assert any(wl_name in s and "per-round bnlj" in s for s in v)
    assert any("BatchEvalPython" in s for s in v)


def test_canon_cell_inf_and_struct():
    """r8 review: infinities must canonicalize (int(inf) raised
    OverflowError mid-gate), and DuckDB's dict-valued structs must hash
    like Spark's tuple-valued Rows, nested values canonicalized."""
    assert canon_cell(float("inf")) == "Inf"
    assert canon_cell(float("-inf")) == "-Inf"
    import datetime

    d = {"x1": 1.0, "ts": datetime.date(2024, 1, 2)}
    t = (1.0, datetime.date(2024, 1, 2))
    assert canon_cell(d) == canon_cell(t) == "[1,2024-01-02]"
