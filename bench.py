"""Benchmark harness: runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS].

The FINAL stdout line is a single compact JSON summary INCLUDING the
per-query medians (VERDICT r12 #2: the driver's PERF comparator reads
``queries`` from this line; 238 rounded floats is ~6 KB, well inside the
tail capture that the r02-era full detail dict overflowed):

    {"metric": "total_query_sec", "value": N, "unit": "sec",
     "queries": {"q01_events_daily": 0.12, ...},
     "sf": 0.1, "layout_sec": S, "n_queries": 238,
     "detail_file": "BENCH_DETAIL.json"}

The full detail (first samples, repeat samples, reruns, annotations) is
written to ``BENCH_DETAIL.json`` next to this script (and echoed to
stderr).

Each query executes its full plan to completion; results are drained with
count() on a cached-free plan (no collect of wide rows so driver transfer
doesn't pollute the measurement).

``--repeat N`` (default 1) runs every query N times and reports the
per-query MEDIAN: the shared host's co-tenant noise swings individual
queries 3-8x between rounds (VERDICT r7 #3 — fixed-size q63 has measured
1.7 s vs 13.8 s on different days), and a median-of-3 snapshot is what
lets a cross-round diff treat >1.5x moves as real. Repeats run
back-to-back per query (not whole-suite sweeps) so each query's samples
share cache/JIT state and differ only by host noise.

``cold_total`` (VERDICT r9 #1) = the sum of every query's FIRST sample —
the number a repeat-1 run (driver, judge) approximates, because the
memoized/shared one-time stage costs land in first samples and in no
warm median. Cross-protocol diffs compare cold_total vs repeat-1 totals
and median-vs-median; never median-vs-repeat-1. ``loadavg_start/_end``
stamp the host's 1/5/15-min load so a committed snapshot carries its own
noise-window evidence.

``build_jobs`` maps each query to the number of Spark jobs each sample's
builder call ran before its action (counted through a job group per
call); the suite total is printed on stderr.

``codegen_compiles`` maps each query to the number of generated classes
each sample compiled (Spark's ``CodegenMetrics`` compilation count, read
before and after the sample, outside its timed region); the suite total
is printed on stderr. Warm samples that keep compiling show a query whose
generated code changes from run to run, or a codegen cache too small for
the suite.

``plan_served`` maps each query to one bool per sample: whether the
registry's session plan cache served that sample's plan instead of
running its builder (``plans/registry.py``). On stderr the suite totals
count the samples served, stored, and not cacheable with the reason: the
build ran Spark jobs, or the plan evaluates Python.

``annotations`` maps each query that looked up a session stage (a pair
table, edge set, PQ codebook or decoded bag shared by several queries;
``plans/registry.py::stage``) to what its first sample did with it, read
from the engine's stage log: ``built family/pairs(0.2,32) in 3.1 s`` when
that sample paid for the stage, ``served family/pairs(0.2,32)`` when an
earlier query had. A first sample that built a stage carries a one-time
cost that its repeats and later consumers do not. A stage built inside
another's build is listed first, and the outer build time includes it.
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def stage_notes(events: list[tuple[str, tuple, bool, float]]) -> str:
    """One note per session stage a query looked up, in lookup order:
    ``built <stage> in <s> s`` on a miss, ``served <stage>`` on a hit.
    ``events`` is a slice of the engine's stage log (plans/registry.py
    STAGE_LOG)."""
    notes = []
    for kind, params, hit, build_s in events:
        name = f"{kind}({','.join(map(str, params))})" if params else kind
        notes.append(f"served {name}" if hit else f"built {name} in {build_s:.1f} s")
    return "; ".join(dict.fromkeys(notes))


# Monotone-noise guard (VERDICT r8 #3): a co-tenant load ramp can land
# ALL repeat samples inside one noise window — three monotone-increasing
# samples spanning >2x are indistinguishable from a real regression in
# the committed median. Take up to EXTRA_SAMPLES more; the median over
# 5 then needs 3 contaminated samples to lie.
NOISE_SPREAD = 2.0
EXTRA_SAMPLES = 2


def _load_prior_detail(sf: float) -> dict[str, float] | None:
    """Per-query medians of the newest committed BENCH_DETAIL_r*.json at
    the SAME scale factor — the round-over-round baseline for the rerun
    adjudication. None when no comparable prior exists (first round, or
    a non-default SF with no committed history)."""
    import glob
    import re as _re

    here = os.path.dirname(os.path.abspath(__file__))
    candidates = []
    for p in glob.glob(os.path.join(here, "BENCH_DETAIL_r*.json")):
        m = _re.search(r"_r(\d+)\.json$", p)
        if m:
            candidates.append((int(m.group(1)), p))
    for _, p in sorted(candidates, reverse=True):
        try:
            with open(p) as f:
                d = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
        if d.get("sf") == sf and isinstance(d.get("queries"), dict):
            return d["queries"]
    return None


def monotone_noisy(runs: list[float]) -> bool:
    return (
        len(runs) >= 3
        and all(a <= b for a, b in zip(runs, runs[1:]))
        and min(runs) > 0
        and max(runs) / min(runs) > NOISE_SPREAD
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--repeat", type=int, default=1,
                    help="samples per query; the reported time is the median")
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    os.environ.setdefault("SPARK_GRAFT_MASTER", f"local[{cpus}]")

    import __spark_entry__ as se
    from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.plans.registry import (
        PLAN_LOG,
        STAGE_LOG,
    )
    from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.session import (
        get_spark,
    )

    spark = get_spark("bench", shuffle_partitions=int(cpus))
    spark.sparkContext.setLogLevel("ERROR")

    from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.tables import (
        drop_bucketed,
        materialize_bucketed,
    )

    # One-time bucketed fact layout (the ingest-time cost a production
    # deployment pays once): orders/lineitem bucketed+sorted on orderkey,
    # so fact-fact joins (q03-class) run shuffle-free. Reported separately
    # as layout_sec — it is not query time.
    t0 = time.perf_counter()
    materialize_bucketed(spark, sf_dir, buckets=int(cpus))
    layout_sec = round(time.perf_counter() - t0, 3)
    print(f"# bucketed layout: {layout_sec:.3f}s", file=sys.stderr)

    queries = se.queries()
    # warm the JVM/codegen once with the flagship query so q01's number is
    # not inflated by session startup
    queries["q01_events_daily"](spark, sf_dir).count()

    # Cross-protocol comparability (VERDICT r9 #1): a repeat-N run's
    # median total hides every memoized/shared one-time cost inside the
    # warm repeats, so it is NOT comparable to a repeat-1 run (driver or
    # judge). cold_total = sum of FIRST samples is the number a repeat-1
    # run approximates; loadavg stamps bound the co-tenant noise window
    # the run executed in. Both land in BENCH_DETAIL.json + the summary.
    loadavg_start = [round(x, 2) for x in os.getloadavg()]
    times: dict[str, float] = {}
    firsts: dict[str, float] = {}
    samples: dict[str, list[float]] = {}
    errors: dict[str, str] = {}
    # per query, one count per sample; read outside the timed region
    build_jobs: dict[str, list[int]] = {}
    # per query, generated classes compiled per sample; read outside the
    # timed region from Spark's JVM-wide codegen metrics
    codegen_compiles: dict[str, list[int]] = {}
    # per query, whether each sample was served from the plan cache; and
    # the suite's plan-cache outcomes
    plan_served: dict[str, list[bool]] = {}
    plan_outcomes: collections.Counter[str] = collections.Counter()
    # per query, the stage lookups of its first (cold) sample
    annotations: dict[str, str] = {}
    sc = spark.sparkContext
    compile_count = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    for name, fn in sorted(queries.items()):
        runs = []
        groups: list[str] = []
        compiles: list[int] = []
        served: list[bool] = []
        mark = len(STAGE_LOG)
        try:
            for i in range(max(1, args.repeat)):
                compiled_before = compile_count.getCount()
                groups.append(f"bench-build-{name}-{i}")
                sc.setJobGroup(groups[-1], name)
                t0 = time.perf_counter()
                try:
                    df = fn(spark, sf_dir)
                finally:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                outcome = PLAN_LOG[-1][1]
                plan_outcomes[outcome] += 1
                served.append(outcome == "served")
                n = df.count()
                runs.append(round(time.perf_counter() - t0, 3))
                compiles.append(compile_count.getCount() - compiled_before)
                if i == 0 and len(STAGE_LOG) > mark:
                    annotations[name] = stage_notes(STAGE_LOG[mark:])
            if args.repeat > 1 and monotone_noisy(runs):
                # all samples rode one co-tenant load ramp — widen the
                # sample set so the median can escape the noise window.
                # Own try: a failure here must fall back to the valid
                # samples already in hand, not discard them (r9 review)
                print(
                    f"# {name}: monotone spread {min(runs)}->{max(runs)},"
                    f" taking {EXTRA_SAMPLES} extra samples",
                    file=sys.stderr,
                )
                try:
                    for _ in range(EXTRA_SAMPLES):
                        t0 = time.perf_counter()
                        fn(spark, sf_dir).count()
                        runs.append(round(time.perf_counter() - t0, 3))
                except Exception as e:  # noqa: BLE001
                    print(
                        f"# {name}: extra sample failed ({e!r:.120}), keeping"
                        f" the {len(runs)} collected samples",
                        file=sys.stderr,
                    )
        except Exception as e:  # noqa: BLE001 — one bad query must not
            # abort the suite: without this, a single co-tenant OOM or
            # plan regression at query k lost all k-1 timings, the JSON
            # summary, and the cleanup (r8 review)
            errors[name] = repr(e)[:200]
            print(f"# {name}: ERROR {errors[name]}", file=sys.stderr)
            continue
        finally:
            # per query, not at the end: the tracker keeps only the last
            # spark.ui.retainedJobs jobs, fewer than the suite runs
            build_jobs[name] = [
                len(sc.statusTracker().getJobIdsForGroup(g)) for g in groups
            ]
            codegen_compiles[name] = compiles
            plan_served[name] = served
        samples[name] = runs
        firsts[name] = runs[0]
        times[name] = round(statistics.median(runs), 3)
        print(f"# {name}: {times[name]:.3f}s ({n} rows) {runs}", file=sys.stderr)

    import re

    m = re.search(r"sf([0-9.]+)", os.path.basename(sf_dir.rstrip("/")))
    sf = float(m.group(1)) if m else 0.0

    # Round-over-round window-artifact adjudication (VERDICT r11 #3):
    # a co-tenant burst during a query's slot makes its committed warm
    # median read as a 1.5-2.5x regression that a quiet re-run reverses
    # — r11 shipped four such phantoms (q224/q180/q226/q225) that the
    # judge had to re-run by hand. Automate the re-run: any query whose
    # median exceeds the PRIOR ROUND's committed value by
    # >RERUN_THRESHOLD is re-sampled solo at the END of the suite (a
    # different noise window by construction); both numbers land in
    # detail["reruns"] with an adjudication verdict so the artifact
    # carries its own evidence instead of a silent phantom. The committed
    # metric is NEVER substituted (VERDICT r12 #1: value = the
    # unadjudicated protocol total; adjudication is evidence, not data).
    RERUN_THRESHOLD = 1.5
    RERUN_SAMPLES = 3
    prior = _load_prior_detail(sf)
    reruns: dict[str, dict] = {}
    if prior:
        suspects = [
            (name, t, prior[name])
            for name, t in times.items()
            if name in prior and prior[name] > 0 and t / prior[name] > RERUN_THRESHOLD
        ]
        for name, t_main, t_prior in suspects:
            print(
                f"# rerun {name}: median {t_main:.3f}s vs prior {t_prior:.3f}s"
                f" (> {RERUN_THRESHOLD}x) — re-sampling solo",
                file=sys.stderr,
            )
            rr: list[float] = []
            try:
                for _ in range(RERUN_SAMPLES):
                    t0 = time.perf_counter()
                    queries[name](spark, sf_dir).count()
                    rr.append(round(time.perf_counter() - t0, 3))
            except Exception as e:  # noqa: BLE001 — keep partial samples
                print(f"# rerun {name}: failed ({e!r:.120})", file=sys.stderr)
            if not rr:
                continue
            rerun_median = round(statistics.median(rr), 3)
            adjudication = (
                "window-artifact"
                if rerun_median / t_prior <= RERUN_THRESHOLD
                else "persists"
            )
            reruns[name] = {
                "prior": t_prior,
                "main_median": t_main,
                "rerun_samples": rr,
                "rerun_median": rerun_median,
                "adjudication": adjudication,
            }
            # VERDICT r12 #1: the committed value stays the UNADJUDICATED
            # protocol median — adjudication is recorded in `reruns` only,
            # never substituted into the metric (the r12 min() substitution
            # pulled the driver's repeat-1 `value` ~75 s below what ran).
            print(
                f"# rerun {name}: {rerun_median:.3f}s -> {adjudication}",
                file=sys.stderr,
            )

    print(
        f"# build jobs: {sum(map(sum, build_jobs.values()))} in"
        f" {sum(map(len, build_jobs.values()))} builder calls"
        f" ({sum(v[0] for v in build_jobs.values() if v)} in first samples)",
        file=sys.stderr,
    )
    print(
        f"# codegen compiles: {sum(map(sum, codegen_compiles.values()))}"
        f" ({sum(v[0] for v in codegen_compiles.values() if v)} in first samples)",
        file=sys.stderr,
    )
    print(
        f"# plan cache: {plan_outcomes['served']} served, {plan_outcomes['stored']} stored;"
        f" not cacheable: {plan_outcomes['jobs']} (jobs in build),"
        f" {plan_outcomes['python']} (Python evaluation)",
        file=sys.stderr,
    )
    loadavg_end = [round(x, 2) for x in os.getloadavg()]
    detail = {
        "metric": "total_query_sec",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "cold_total": round(sum(firsts.values()), 3),
        "queries": times,
        "first_samples": firsts,
        "sf": sf,
        "layout_sec": layout_sec,
        "repeat": max(1, args.repeat),
        "loadavg_start": loadavg_start,
        "loadavg_end": loadavg_end,
        "build_jobs": build_jobs,
        "codegen_compiles": codegen_compiles,
        "plan_served": plan_served,
        "annotations": annotations,
    }
    if args.repeat > 1:
        detail["samples"] = samples
    if reruns:
        detail["reruns"] = reruns
    if errors:
        detail["errors"] = errors
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    print(json.dumps(detail), file=sys.stderr)
    # Compact summary LAST on stdout so a tail-capturing driver always gets
    # one complete parseable JSON line (the per-query dict lives in
    # BENCH_DETAIL.json / stderr).
    summary = {
        "metric": "total_query_sec",
        "value": detail["value"],
        "unit": "sec",
        "cold_total": detail["cold_total"],
        # VERDICT r12 #2: per-query medians back on the one-line summary so
        # the driver's round-over-round comparator (PERF per_query) has
        # data — 238 compact floats is ~6 KB, within tail capture.
        "queries": times,
        "sf": sf,
        "layout_sec": layout_sec,
        "n_queries": len(times),
        "n_errors": len(errors),
        "repeat": max(1, args.repeat),
        "loadavg_start": loadavg_start,
        "loadavg_end": loadavg_end,
        "detail_file": "BENCH_DETAIL.json",
    }
    print(json.dumps(summary))
    drop_bucketed(spark, sf_dir)
    spark.stop()
    # Reclaim temp warehouses orphaned by CRASHED runs (clean exits sweep
    # their own via atexit — session.py's per-process dir, ADVICE r8);
    # this process's own dir goes through its atexit hook.
    from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.session import (
        sweep_stale_warehouses,
    )

    for d in sweep_stale_warehouses():
        print(f"# swept stale warehouse {d}", file=sys.stderr)
    if errors:
        raise SystemExit(1)  # summary printed, artifacts written — but red


if __name__ == "__main__":
    main()
