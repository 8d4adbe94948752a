"""Capture ``explain("formatted")`` evidence files for named queries.

Writes one text file per query:
  - the registry-level physical plan of the frame the builder returns
    (barriers ON — the real serving shape; a shared-stage consumer shows
    the ``Scan ExistingRDD`` leaf it actually reads), and
  - every ``audit_round`` / ``audit_stream`` capture the builder emitted
    while constructing (the shared stage's own build plan, per-round
    iterative plans, micro-batch plans) — so the construction work a
    barrier hides from the registry-level explain is still on record.

Usage:
    python tools/capture_plans.py OUTDIR SUFFIX query [query ...]

e.g. ``python tools/capture_plans.py plans/r12 after q42_embedding_neardup``
writes ``plans/r12/q42_embedding_neardup_after.txt``. Run it from the tree
whose plans you want (a git worktree of the baseline commit for the
``before`` side). The header records the tree so the evidence is
self-describing.
"""

from __future__ import annotations

import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_CHECK_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    outdir, suffix, *names = sys.argv[1:]
    os.makedirs(outdir, exist_ok=True)

    import __spark_entry__ as se
    from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.plans.registry import (
        set_audit_sink,
    )
    from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.session import (
        get_spark,
    )

    spark = get_spark("capture-plans")
    spark.sparkContext.setLogLevel("ERROR")
    tree = subprocess.run(
        ["git", "rev-parse", "--short", "HEAD"], capture_output=True, text=True
    ).stdout.strip()
    qs = se.queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"unknown query name(s): {unknown}")
        return 1
    for name in names:
        sink: list = []
        set_audit_sink(sink)
        try:
            df = qs[name](spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        finally:
            set_audit_sink(None)
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(
                f"== {name}_{suffix} (tree {tree}, sf_dir {SF_DIR};"
                " registry-level plan, barriers on) ==\n"
            )
            f.write(plan)
            for tag, p in sink:
                f.write(f"\n== audited build-stage plan: {tag} ==\n")
                f.write(p)
        print(f"wrote {path} ({len(sink)} audited stage plans)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
