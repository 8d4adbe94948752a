"""Registry mapping query name -> (Spark builder, DuckDB oracle SQL).

Each builder has signature ``(spark, sf_dir) -> DataFrame``. The oracle is
ANSI SQL DuckDB runs against views named after the parquet tables; ``None``
marks a genuinely non-SQL-expressible operator (the driver then records a
weaker rows-only check).

Column-name contract: every computed column is aliased identically on both
sides — the driver sorts columns by name before value-hashing.

Session plan cache. Analysts query the lake again and again, and a warm
call of a short query spends a third of its time rebuilding the same plan
in Python (Py4J calls and eager analysis). Every ``QUERIES`` value is
therefore wrapped so that a repeated call with unchanged inputs returns a
new DataFrame over the analyzed logical plan its last build produced
(``classic.Dataset.ofRows``), without running the builder. Each served
frame gets its own ``QueryExecution``: Catalyst optimizes and plans every
action under the confs in force at that action, and no executed plan,
broadcast or shuffle is shared between calls or pinned by the cache. The
rule:

- One entry per ``(applicationId, sessionUUID, sf_dir, query)``, at most
  one plan per query. Like :func:`stage`, one corpus is in flight: a miss
  under a new application, session or ``sf_dir`` clears the cache.
- A build is stored only if it launched no Spark job (the DAG scheduler's
  job counter did not move), so the cache memoizes plan construction and
  never results; and only if its analyzed plan evaluates no Python
  (Python UDFs, UDAFs and UDTFs, which also carry ``mapInPandas``,
  ``applyInPandas`` and ``mapInArrow``; Python data sources; RDDs computed
  by Python): those functions close over build-time state, and some of
  them write files.
- A stored plan is served only while every input of its build is
  unchanged, re-checked on each call: the SQL conf fingerprint (read after
  the build, so a conf the build itself sets does not force a second
  build), ``(size, mtime_ns)`` of every table file the build read through
  ``tables`` (re-stat'ed), and the bucketed routing with the write
  generation of the bucketed tables (``tables.bucketed_version``).
- Builders that call other builders directly (q59 calls q34) run those
  uncached; only the registry boundary is cached.

There is no switch, env var or size knob: the cache serves only a plan
the builder would rebuild from the same inputs, so turning it off could
change timings but never answers, and its size is bounded by the
registry. That holds for builders that depend on nothing else: a builder
that reads a file outside ``tables`` or other process state must keep
its build uncacheable (every such registry builder runs Spark jobs), and
a seed a builder draws at build time (``F.rand()`` without one) is
replayed by its served calls. What happened on each call is appended to
:data:`PLAN_LOG`.
"""

from __future__ import annotations

import functools
import time
from collections.abc import Callable
from typing import NamedTuple, TypeVar

from pyspark.sql import DataFrame, SparkSession

from .. import tables

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

T = TypeVar("T")

_STAGES: dict[tuple, object] = {}
# (kind, params, hit, build_s) per stage() lookup, in call order
STAGE_LOG: list[tuple[str, tuple, bool, float]] = []


def register(name: str, oracle: str | None = None):
    """Decorator: add a query (and optionally its oracle) to the registry.
    The registry holds the plan-cached query; the decorated function
    itself stays the plain builder."""

    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = _plan_cached(name, fn)
        if oracle is not None:
            ORACLES[name] = oracle.strip()
        return fn

    return deco


class _Plan(NamedTuple):
    analyzed: object  # the JVM LogicalPlan
    of_rows: object  # classic.Dataset.ofRows, resolved once (~1 ms a lookup)
    conf: int
    reads: dict[str, tuple[str, int, int]]
    layout: tuple


_PLANS: dict[tuple, _Plan] = {}
# (query, outcome) per call of a registry query, in call order. outcome:
# "served", "stored", or why the build was not stored: "jobs" (it ran
# Spark jobs) or "python" (its plan evaluates Python)
PLAN_LOG: list[tuple[str, str]] = []

_PYTHON_EXPR = '"class":"org.apache.spark.sql.catalyst.expressions.Python'


def _conf_fingerprint(spark: SparkSession) -> int:
    return spark._jsparkSession.sessionState().conf().getAllConfs().hashCode()


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _evaluates_python(plan) -> bool:
    """Whether an analyzed plan runs Python code when executed."""
    text = plan.toJSON()
    if _PYTHON_EXPR in text:
        return True
    # a relation's source and an RDD's lineage are not in the JSON
    if "DataSourceV2Relation" not in text and "LogicalRDD" not in text:
        return False
    for tree in [plan, *_seq(plan.subqueriesAll())]:
        for leaf in _seq(tree.collectLeaves()):
            kind = leaf.getClass().getSimpleName()
            if kind == "DataSourceV2Relation" and ".python." in leaf.table().getClass().getName():
                return True
            if kind == "LogicalRDD" and "PythonRDD" in leaf.rdd().toDebugString():
                return True
    return False


def _plan_cached(name: str, build: QueryFn) -> QueryFn:
    @functools.wraps(build)
    def query(spark: SparkSession, sf_dir: str) -> DataFrame:
        jss = spark._jsparkSession
        corpus = (spark.sparkContext.applicationId, jss.sessionUUID(), sf_dir)
        key = (*corpus, name)
        plan = _PLANS.get(key)
        if (
            plan is not None
            and plan.layout == tables.bucketed_version()
            and tables.reads_unchanged(plan.reads)
            and plan.conf == _conf_fingerprint(spark)
        ):
            PLAN_LOG.append((name, "served"))
            return DataFrame(plan.of_rows(jss, plan.analyzed), spark)
        if any(k[:3] != corpus for k in _PLANS):
            _PLANS.clear()
        _PLANS.pop(key, None)
        scheduler = spark.sparkContext._jsc.sc().dagScheduler()
        jobs = scheduler.nextJobId()
        layout = tables.bucketed_version()
        with tables.recording_reads() as reads:
            df = build(spark, sf_dir)
        analyzed = df._jdf.queryExecution().analyzed()
        if scheduler.nextJobId() != jobs:
            outcome = "jobs"
        elif _evaluates_python(analyzed):
            outcome = "python"
        else:
            of_rows = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows
            _PLANS[key] = _Plan(analyzed, of_rows, _conf_fingerprint(spark), reads, layout)
            outcome = "stored"
        PLAN_LOG.append((name, outcome))
        return df

    return query


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
