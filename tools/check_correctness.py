"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
at sf0.01, then compares row count, sorted column names, and an
order-insensitive value hash (values stringified with float rounding at
comparison level matching the driver's spirit: exact string equality after
canonicalization).

Usage: python tools/check_correctness.py [query ...]

``SPARK_GRAFT_CHECK_SF_DIR`` overrides the data directory (default
``/root/testdata/sf0.01`` — the driver gate's SF), e.g. sf0.1 for a
correctness-at-scale sweep: the registry queries and their oracles are
SF-agnostic by contract (both sides read whatever the table views hold),
so the same hash compare must stay green at any SF.

The gate also certifies the registry's session plan cache
(``plans/registry.py``): when a query's first build was stored, the query
is built a second time, and when that build is served from the cache its
digest must equal the first run's (`` served[=]`` on its line; a
differing digest fails the query). The last line counts the served
queries.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_CHECK_SF_DIR", "/root/testdata/sf0.01")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

# A leftover audit flag must not strip the materialize barriers from the
# plans a printed PASS certifies (r9 round-diff review).
os.environ.pop("SPARK_GRAFT_AUDIT_NO_BARRIER", None)


def canon_cell(v) -> str:
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):  # int(inf) raises OverflowError (r8 review)
            return "Inf" if v > 0 else "-Inf"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, dict):
        # DuckDB returns struct columns as dicts while Spark Rows take
        # the tuple branch: canonicalize to field-ORDERED values so a
        # struct column can hash-match across engines, with nested
        # floats/datetimes canonicalized too (r8 review). Field order is
        # the declared struct order on both engines.
        return "[" + ",".join(canon_cell(x) for x in v.values()) + "]"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def frame_digest(cols: list[str], rows: list[tuple]) -> tuple[int, str, str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(canon_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return len(rows), ",".join(sorted(cols)), h


def main() -> int:
    # one line per query as it finishes, also when stdout is a file: a
    # sweep that dies mid-run must leave every verdict it reached
    sys.stdout.reconfigure(line_buffering=True)
    import duckdb

    import __spark_entry__ as se
    from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.plans.registry import (
        PLAN_LOG,
    )
    from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.session import (
        get_spark,
    )

    spark = get_spark("correctness-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    qs = se.queries()
    oracles = se.oracle_sql()
    only = set(sys.argv[1:])
    unknown = only - set(qs)
    if unknown:
        # a typo'd filter must not exit 0 having checked NOTHING (r8
        # review — `check_correctness.py qX && commit` would green-light)
        print(f"FAIL  unknown query name(s): {sorted(unknown)}")
        return 1
    failures = 0
    n_served = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            s_n, s_cols, s_h = frame_digest(scols, srows)
            served = ""
            if PLAN_LOG[-1] == (name, "stored"):
                again = fn(spark, SF_DIR)
                if PLAN_LOG[-1] == (name, "served"):
                    n_served += 1
                    rows = [tuple(r) for r in again.collect()]
                    same = frame_digest(again.columns, rows) == (s_n, s_cols, s_h)
                    served = " served[=]" if same else " served[!]"
        except Exception:
            print(f"FAIL  {name}: spark error")
            traceback.print_exc()
            failures += 1
            continue
        if name not in oracles:
            status = "FAIL" if served == " served[!]" else "ROWS"
            failures += status == "FAIL"
            print(f"{status}  {name}: {s_n} rows (no oracle){served} [{time.time()-t0:.1f}s]")
            continue
        try:
            cur = con.execute(oracles[name])
            dcols = [d[0] for d in cur.description]
            drows = cur.fetchall()
            d_n, d_cols, d_h = frame_digest(dcols, drows)
        except Exception:
            print(f"FAIL  {name}: duckdb error")
            traceback.print_exc()
            failures += 1
            continue
        ok = (s_n, s_cols, s_h) == (d_n, d_cols, d_h) and served != " served[!]"
        status = "PASS" if ok else "FAIL"
        if not ok:
            failures += 1
        print(f"{status}  {name}: spark={s_n} duck={d_n} cols[{'=' if s_cols==d_cols else '!'}] hash[{'=' if s_h==d_h else '!'}]{served} [{time.time()-t0:.1f}s]")
        if not ok and s_cols != d_cols:
            print(f"      spark cols: {s_cols}\n      duck  cols: {d_cols}")
        if not ok and s_cols == d_cols and s_n == d_n:
            # show first differing canonical rows
            so = sorted("|".join(canon_cell(r[i]) for i in sorted(range(len(scols)), key=lambda i: scols[i])) for r in srows)
            do = sorted("|".join(canon_cell(r[i]) for i in sorted(range(len(dcols)), key=lambda i: dcols[i])) for r in drows)
            for a, b in zip(so, do):
                if a != b:
                    print(f"      spark row: {a}\n      duck  row: {b}")
                    break
    print(f"# plan cache: {n_served} queries served on their second build")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
