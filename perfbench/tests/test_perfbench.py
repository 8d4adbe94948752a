"""The benchmark's own tests: seeded inputs, sample rules, the output
check, and the trace ledger.

    python3 -m pytest -q perfbench/tests

The last two tests start Spark (about a minute each).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zlib

import numpy as np
import pytest

import inputs
import ledger

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)


def _bytes(paths):
    out = []
    for p in paths:
        with open(p, "rb") as f:
            out.append(f.read())
    return out


def test_bag_set_same_seed_same_bytes(tmp_path):
    a = inputs.make_bag_set(str(tmp_path / "a"), seed=5)
    b = inputs.make_bag_set(str(tmp_path / "b"), seed=5)
    c = inputs.make_bag_set(str(tmp_path / "c"), seed=6)
    assert _bytes(a.files) == _bytes(b.files)
    assert a.topic_counts == b.topic_counts
    assert a.labels() == b.labels() and a.split_counts() == b.split_counts()
    assert _bytes(a.files) != _bytes(c.files)


def test_bag_set_shape(tmp_path):
    bs = inputs.make_bag_set(str(tmp_path), seed=1)
    assert set(bs.topic_counts) == {t for t, _ in inputs.TOPICS}
    assert bs.topic_counts[inputs.CAMERAS[0]] == len(bs.frames) // 2
    raw = b"".join(_bytes(bs.files))
    assert raw.count(b"#ROSBAG V2.0\n") == len(bs.files) >= 2
    assert b"compression=bz2" in raw and b"compression=none" in raw
    assert raw.count(b"op=\x06") >= len(bs.files)  # chunk-info index records
    # frames compress like camera data, unlike uniform random bytes: after
    # PNG's Sub filter (left-neighbour difference), deflate shrinks them
    f = bs.frames[0]
    px = np.frombuffer(f.rgb, np.uint8).reshape(f.height, f.width, 3).astype(np.int16)
    sub = np.diff(px, axis=1).astype(np.uint8).tobytes()
    assert len(zlib.compress(sub)) < 0.7 * len(sub)
    assert ((px == 0) | (px == 255)).mean() < 1e-4  # no saturated region
    # the VRU selection and split follow the restated rules
    assert bs.vru_keys() == {
        k for k, (name, _c, _n) in bs.labels().items() if name in ("Person", "Bicycle", "Motorcycle")
    }
    assert sum(bs.split_counts().values()) == len(bs.frames)


def test_lake_is_deterministic(tmp_path):
    inputs.make_lake(str(tmp_path / "a"))
    inputs.make_lake(str(tmp_path / "b"))
    assert inputs.tree_digest(str(tmp_path / "a")) == inputs.tree_digest(str(tmp_path / "b"))


def test_percentile_needs_ten_samples_beyond():
    assert ledger.percentile(list(range(19)), 0.5) is None
    assert ledger.percentile(list(range(20)), 0.5) == pytest.approx(9.5)
    assert ledger.percentile([1.0] * 99, 0.9) is None
    assert ledger.percentile(list(range(100)), 0.9) == pytest.approx(89.1)
    with pytest.raises(ValueError):
        ledger.percentile([1.0] * 50, 1.0)
    with pytest.raises(ValueError):
        ledger.median([1.0])
    assert ledger.median([1.0, 3.0]) == 2.0


def test_metric_strings_parse():
    v = "total (min, med, max (stageId: taskId))\n8.0 s (2.0 s, 2.0 s, 2.0 s (stage 2.0: task 7))"
    assert ledger.parse_metric_total(v) == 8.0
    assert ledger.parse_metric_total("total (min, med, max)\n78.8 KiB (1 KiB)") == pytest.approx(78.8 * 1024)
    assert ledger.parse_metric_total("396 ms") == pytest.approx(0.396)
    assert ledger.parse_metric_total("10,000") == 10000


def test_digest_check_rejects_perturbed_result():
    from tools.check_correctness import frame_digest
    from workloads import Mismatch, check_digest

    cols = ["k", "v"]
    rows = [(1, 0.5), (2, 1.25), (3, None)]
    want = list(frame_digest(cols, rows))
    check_digest("q", list(frame_digest(cols, list(reversed(rows)))), want)  # order-free
    for bad in ([(1, 0.5), (2, 1.26), (3, None)], rows[:2], [(1, 0.5), (2, 1.25), (3, 0.0)]):
        with pytest.raises(Mismatch):
            check_digest("q", list(frame_digest(cols, bad)), want)
    with pytest.raises(Mismatch):
        check_digest("q", list(frame_digest(["k", "w"], rows)), want)


def test_self_times_reconcile_on_nested_spans():
    lg = ledger.Ledger()
    p = lg.add("pass", "p", 0.0, 10.0)
    a = lg.add("op", "a", 0.5, 6.0, p)
    lg.add("job", "j1", 1.0, 3.0, a)
    lg.add("job", "j2", 2.0, 4.0, a)  # overlaps j1
    lg.add("op", "b", 6.0, 9.5, p)
    assert lg.self_time(a) == pytest.approx(5.5 - 3.0)
    assert lg.self_time(p) == pytest.approx(1.0)
    # overlapping siblings are each charged in full, so the sum overshoots
    assert lg.subtree_self_total(p) == pytest.approx(11.0)
    assert ledger.union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)


def _stamp(t: float) -> str:
    import datetime

    dt = datetime.datetime.fromtimestamp(t, datetime.timezone.utc)
    return dt.strftime("%Y-%m-%dT%H:%M:%S.") + f"{dt.microsecond // 1000:03d}GMT"


def _job(jid, group, t0, t1):
    return {"jobId": jid, "jobGroup": group, "submissionTime": _stamp(t0), "completionTime": _stamp(t1)}


def test_job_attribution_catches_stray_and_leaking_jobs():
    from types import SimpleNamespace as Op

    base = 1_700_000_000.0
    ops = [Op(groups={"g-a"}, t0=base + 1, t1=base + 5), Op(groups={"g-b", "run-b"}, t0=base + 5, t1=base + 9)]
    jobs = [
        _job(1, "g-a", base + 1.5, base + 3),
        _job(2, "g-a", base + 2, base + 4),  # concurrent with job 1
        _job(3, "run-b", base + 6, base + 8),  # a stream's job, by its runId
        _job(4, None, base + 5.5, base + 6),  # no group: charged by time
        _job(5, "old-pass", base - 5, base - 4),  # another pass's job
    ]
    charged, stray = ledger.attribute_jobs(jobs, ops, base, base + 10)
    assert [sorted(j["jobId"] for j, _a, _b in c) for c in charged] == [[1, 2], [3, 4]]
    assert stray == []

    def reconcile(charged):
        lg = ledger.Ledger()
        p = lg.add("pass", "p", base, base + 10)
        for op, c in zip(ops, charged):
            lg.add_jobs(lg.add("op", "o", op.t0, op.t1, p), c)
        return lg.subtree_self_total(p) / p.wall

    assert reconcile(charged) == pytest.approx(1.0, abs=1e-3)
    # a job that outlives its operation by 2 s overshoots the 10-s pass by 20%
    leaky, _ = ledger.attribute_jobs(jobs + [_job(6, "g-a", base + 4, base + 7)], ops, base, base + 10)
    assert reconcile(leaky) == pytest.approx(1.2, abs=1e-3)
    # a job inside the pass that no operation owns is reported, not dropped
    _, stray = ledger.attribute_jobs(jobs + [_job(7, None, base + 9.5, base + 9.8)], ops, base, base + 10)
    assert [j["jobId"] for j in stray] == [7]


def _traced(workload: str, seed: int) -> tuple[dict, list[dict]]:
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-4000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    with open(os.path.join(ROOT, ".perfbench", f"trace-{workload}-{seed}.json")) as f:
        spans = json.load(f)
    return result, spans


def _check_ledger(result: dict, spans: list[dict]) -> dict:
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = {m["name"] for m in json.load(f)["per_layer"]}
    assert set(result["metrics"]) == names
    lg = ledger.Ledger()
    lg.spans = [ledger.Span(**s) for s in spans]
    passes = [s for s in lg.spans if s.kind == "pass"]
    assert passes and any(s.kind == "job" for s in lg.spans)
    for s in passes:
        assert s.attrs["unattributed_jobs"] == [], s.name
        assert abs(lg.subtree_self_total(s) / s.wall - 1.0) <= 0.10, s.name
    return {k: v["value"] for k, v in result["metrics"].items()}


def test_bag_ingest_ledger_reconciles():
    m = _check_ledger(*_traced("bag_ingest", 101))
    assert m["python.run_s"] > 0 and m["python.sent_mb"] > 0
    assert m["streaming.triggers"] >= 1 and m["tables.layout_s"] == 0
    assert m["sinks.files"] > 0 and m["spark.jobs"] > 0


def test_lake_query_ledger_reconciles():
    m = _check_ledger(*_traced("lake_query", 102))
    assert all(m[k] == 0 for k in m if k.startswith(("python.", "streaming.")))
    assert m["tables.layout_s"] > 0 and m["spark.jobs"] > 0
    assert all(m[k] > 0 for k in m if k.startswith("op.") and k.endswith(".jobs"))
