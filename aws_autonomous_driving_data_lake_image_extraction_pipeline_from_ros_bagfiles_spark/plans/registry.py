"""Registry mapping query name -> (Spark builder, DuckDB oracle SQL).

Each builder has signature ``(spark, sf_dir) -> DataFrame``. The oracle is
ANSI SQL DuckDB runs against views named after the parquet tables; ``None``
marks a genuinely non-SQL-expressible operator (the driver then records a
weaker rows-only check).

Column-name contract: every computed column is aliased identically on both
sides — the driver sorts columns by name before value-hashing.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

T = TypeVar("T")

_STAGES: dict[tuple, object] = {}
# (kind, params, hit, build_s) per stage() lookup, in call order
STAGE_LOG: list[tuple[str, tuple, bool, float]] = []


def register(name: str, oracle: str | None = None):
    """Decorator: add a query (and optionally its oracle) to the registry."""

    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle.strip()
        return fn

    return deco


def materialize(df: DataFrame) -> DataFrame:
    """Distributed materialization barrier: compute ``df`` NOW and return a
    DataFrame backed by the stored result blocks (eager localCheckpoint).

    Used wherever a query must snapshot its result before tearing down
    what produced it — ``release_caches()`` hygiene, temp-dir cleanup
    after a streaming drain, or freezing a nondeterministically-trained
    stage (KMeans centroids) so later actions see one consistent answer.
    Unlike the previous collect-then-createDataFrame idiom
    this never round-trips the result through the driver, so the
    barrier is O(1) driver memory at production scale (ADVICE r5:
    query outputs are small at bench SF but unbounded in general).
    Blocks live in executor storage (MEMORY_AND_DISK_DESER) and are
    released by the ContextCleaner once the returned frame is
    garbage-collected.

    Durability caveat (cluster mode): ``localCheckpoint`` truncates
    lineage WITHOUT replication, so on a multi-node cluster the stored
    blocks are unrecoverable if an executor holding them is lost before
    the caller consumes the frame — Spark fails the downstream job with
    a "Checkpoint block not found" error rather than recomputing. That
    is acceptable for the barrier's intra-query uses here (the consumer
    runs immediately; a lost-executor failure is loud, not silent, and
    the query simply reruns). If a materialized frame must SURVIVE
    executor loss — e.g. a long-lived handle consumed minutes later —
    use ``df.checkpoint()`` with a reliable (HDFS/S3) checkpoint dir or
    an explicit parquet round-trip instead.

    AUDIT TRANSPARENCY (ADVICE r8): ``localCheckpoint`` returns a
    lineage-truncated frame, so a plan audit that explains the returned
    DataFrame would see ``Scan ExistingRDD`` instead of the query's real
    joins — every nested-loop join behind the barrier would dodge the
    BNLJ whitelist enforcement. With ``SPARK_GRAFT_AUDIT_NO_BARRIER=1``
    (set by tools/plan_audit.py, never by production runs) the barrier
    is a no-op and the full pre-barrier plan is audited. Builders only
    lose the snapshot-before-teardown property under the flag, which is
    harmless for explain-only consumption.
    """
    import os

    if os.environ.get("SPARK_GRAFT_AUDIT_NO_BARRIER") == "1":
        return df
    return df.localCheckpoint(eager=True)


def stage(
    kind: str,
    spark: SparkSession,
    sf_dir: str,
    params: tuple,
    build: Callable[[], T],
) -> T:
    """Session stage cache: ``build()``'s result for ``(kind, params)``
    over the corpus at ``sf_dir``, built on the first lookup in this
    application and served after that.

    For intermediates several queries start from (pair tables, edge sets,
    PQ codebooks, a decoded bag). ``build`` returns them materialized (an
    eager localCheckpoint, or a tuple of them), so a served value costs
    no recompute. The key is ``(applicationId, sf_dir, kind, params)``:
    unlike ``id(spark)``, an applicationId is never reused by a later
    session, so a frame bound to a stopped one is never served. One
    corpus is in flight at a time: a miss whose ``(applicationId,
    sf_dir)`` differs from the stored entries clears the store first, so
    a corpus switch or an application restart evicts everything while
    the kinds of one corpus coexist. Builders run queries from one
    driver thread; the store takes no lock.

    Every lookup appends ``(kind, params, hit, build_s)`` to
    :data:`STAGE_LOG`; a build that looks up other stages logs them
    first, and its ``build_s`` includes theirs.
    """
    corpus = (spark.sparkContext.applicationId, sf_dir)
    key = (*corpus, kind, params)
    hit = key in _STAGES
    build_s = 0.0
    if not hit:
        if any(k[:2] != corpus for k in _STAGES):
            _STAGES.clear()
        t0 = time.perf_counter()
        _STAGES[key] = build()
        build_s = time.perf_counter() - t0
    STAGE_LOG.append((kind, params, hit, build_s))
    return _STAGES[key]


# ---------------------------------------------------------------------------
# Iterative-plan audit capture (VERDICT r9 #5): a driver-looped builder
# (q230's greedy rounds, the connected-components contraction, q91's
# PageRank iterations, q114's gram collect, q228's boundary probe) ends
# in a tiny createDataFrame/barrier, so the registry-level explain sees
# NONE of the per-round Spark jobs — PLANS.md showed an all-zeros row for
# a query that runs real shuffles. Builders call ``audit_round(tag, df)``
# immediately before each mid-build action; outside an audit the sink is
# None and the call is a no-op (zero cost on the hot path). The audit
# tool installs a list via ``set_audit_sink`` and folds the captured
# per-round plan counters into the query's PLANS.md row.
# ---------------------------------------------------------------------------
_AUDIT_SINK: list | None = None


def set_audit_sink(sink: list | None) -> None:
    global _AUDIT_SINK
    _AUDIT_SINK = sink


def audit_round(tag: str, df: DataFrame) -> None:
    if _AUDIT_SINK is None:
        return
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    _AUDIT_SINK.append((tag, plan))


def audit_stream(tag: str, query) -> None:
    """Streaming twin of :func:`audit_round` (VERDICT r10 #3): capture a
    Structured Streaming query's last EXECUTED micro-batch plan into
    the audit sink. The registry-level explain of a streaming query
    (q61/q65/q88/q92) sees only the final static read of the sink
    directory — the stateful aggregation/join/dedup plans live inside
    the micro-batches, which `explainInternal` renders from the drained
    query's IncrementalExecution. Every micro-batch of one drain shares
    a plan shape, so one capture per drain is representative (a drain
    with zero batches yields the <no data> codegen-less text, which
    counts as zero everywhere — still better than invisible). No-op
    outside an audit, like audit_round."""
    if _AUDIT_SINK is None:
        return
    try:
        plan = query._jsq.explainInternal(True)
    except Exception as e:  # pragma: no cover - defensive
        plan = f"<unavailable streaming plan: {e}>"
    _AUDIT_SINK.append((tag, plan))
