"""Per-job phase profile of one registry query.

Runs a query solo (repeat N on one session — first sample cold, rest
warm), then dumps every Spark job the run submitted from the UI REST
API: job id, duration, stage count, task count, and the job group /
description active when it was submitted. This is the guide §1.1
"empirical" loop without the browser: the slow jobs name themselves.

Usage: python tools/profile_query.py qNN_name [repeat] [warm_n]

``warm_n`` > 0 first runs that many other registry queries (lexical
order) so the JVM reaches bench-like steady state — a fresh session
exaggerates driver-side Catalyst/codegen costs by 5-10x vs the bench's
in-suite numbers (measured on q70: 31 s fresh vs 6.5 s after 60 warm
queries, identical code).

SPARK_GRAFT_CHECK_SF_DIR overrides the data dir (default sf0.1 — the
bench SF).
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_CHECK_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    name = sys.argv[1]
    repeat = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    warm_n = int(sys.argv[3]) if len(sys.argv) > 3 else 0

    import __spark_entry__ as se
    from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.session import (
        get_spark,
    )

    spark = get_spark("profile-query")
    spark.sparkContext.setLogLevel("ERROR")
    qs = se.queries()
    fn = qs[name]

    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId

    if warm_n:
        t0 = time.perf_counter()
        for wn in [n for n in sorted(qs) if n != name][:warm_n]:
            qs[wn](spark, SF_DIR).count()
        print(f"# warmed {warm_n} queries in {time.perf_counter() - t0:.1f}s", flush=True)

    boundaries = [time.time() * 1000]  # jobs before this are warmup
    samples = []
    for i in range(repeat):
        t0 = time.perf_counter()
        fn(spark, SF_DIR).count()
        samples.append(round(time.perf_counter() - t0, 3))
        boundaries.append(time.time() * 1000)

    with urllib.request.urlopen(f"{ui}/api/v1/applications/{app_id}/jobs?status=succeeded") as r:
        jobs = json.loads(r.read())

    def sample_of(job) -> int:
        sub = job.get("submissionTime", "")
        # ISO "2026-08-17T12:00:00.000GMT" — parse epoch ms
        from datetime import datetime, timezone

        ts = datetime.strptime(sub.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z")
        ms = ts.timestamp() * 1000
        for k, b in enumerate(boundaries):
            if ms <= b:
                return k - 1  # -1 = warmup (before the first measured run)
        return len(boundaries) - 2

    rows = []
    for j in jobs:
        from datetime import datetime

        sub = datetime.strptime(
            j["submissionTime"].replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z"
        )
        comp = datetime.strptime(
            j["completionTime"].replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z"
        )
        dur = (comp - sub).total_seconds()
        rows.append(
            (
                sample_of(j),
                j["jobId"],
                dur,
                j.get("numTasks", 0),
                len(j.get("stageIds", [])),
                (j.get("description") or j.get("name", ""))[:110],
            )
        )

    print(f"# {name} samples={samples} (sf_dir={SF_DIR})")
    for s in range(repeat):
        sjobs = [r for r in rows if r[0] == s]
        tot = sum(r[2] for r in sjobs)
        print(f"-- sample {s}: {samples[s]}s wall, {len(sjobs)} jobs, {tot:.2f}s summed job time")
        for _, jid, dur, ntask, nstage, desc in sorted(sjobs, key=lambda r: -r[2])[:18]:
            print(f"   job {jid:4d} {dur:7.3f}s  tasks={ntask:4d} stages={nstage:2d}  {desc}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
