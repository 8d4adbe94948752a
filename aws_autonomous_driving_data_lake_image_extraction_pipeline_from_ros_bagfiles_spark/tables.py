"""Loaders for the engine's canonical tables.

The driver's synthetic tables (TESTDATA.md) stand in for the reference's
data products: ``events`` plays the per-topic message stream (ts = ROS
time, event_type = topic, props = payload; reference bagstream.py:219-238),
``documents``/``embeddings`` back the beyond-reference dedup / similarity /
text operators.

All loads are plain parquet reads so Catalyst keeps predicate pushdown,
column pruning and partition pruning — do not ``.cache()`` here; at 100 TB
the tables do not fit and caching defeats scan pruning.

Schema memo. ``spark.read.parquet(path)`` without a schema runs one Spark
job to infer it, and on a short query that job is a large share of the
wall time. :func:`raw_schema` infers each table file's schema once and
memoizes it; every later load is ``spark.read.schema(memo).parquet(path)``,
which runs no job. The memo key covers everything the inference depends
on:

- the applicationId, so a restarted context never reads another
  application's entry (a miss evicts every other application's entries,
  the same per-application rule ``_BUCKETED`` keys on);
- the resolved path (``realpath``: a retargeted symlink is a new key);
- the file's size and ``mtime_ns``, so a rewritten file is re-inferred;
- the ``spark.sql.legacy.parquet.nanosAsLong`` value in force, which
  changes the type a TIMESTAMP(NANOS) column reads as.

The memo holds a schema, not a DataFrame. Every load still builds a fresh
relation with fresh attribute ids, so plans, pushdown and pruning are the
same as an inferring read, and a builder that loads one table twice or
joins it to itself needs no aliasing. A shared DataFrame handle measured
no faster than the schema memo, and it would need that aliasing.

Version record. The registry's plan cache (``plans/registry.py``) serves a
stored plan only while the inputs its build read are unchanged.
:func:`recording_reads` collects the version of every table file read
inside a block, :func:`reads_unchanged` re-checks such a record, and
:func:`bucketed_version` names the bucketed routing together with the
write generation of the bucketed tables.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any realistic scale factor.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier"})


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Bucketed-layout registry: (applicationId, sf_dir, table) -> catalog table
# name. When a fact table has been materialized with a bucketed layout
# (the one-time ingest cost a 100 TB deployment pays once), load() serves
# the bucketed table and every equi-join/aggregate on the bucket key drops
# its Exchange. Reference analog: the per-topic/per-camera S3 prefix layout
# the pipeline writes (bagstream.py:251-252) IS a co-location scheme; Spark
# bucketing is the principled version.
_BUCKETED: dict[tuple[str, str, str], str] = {}

# Inferred parquet schemas: (applicationId, realpath, size, mtime_ns,
# nanosAsLong) -> StructType. See the module docstring.
_SCHEMAS: dict[tuple[str, str, int, int, str], StructType] = {}

_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"

# Bumped on every write and drop of a bucketed table: a dropped and
# re-materialized table keeps its app-scoped name, so the routing alone
# cannot tell its two versions apart.
_BUCKETED_WRITES = 0

# Open recording_reads() blocks, innermost last.
_RECORDERS: list[dict[str, tuple[str, int, int]]] = []


# The fact tables worth bucketing and their join keys.
DEFAULT_BUCKET_SPECS = {"orders": "o_orderkey", "lineitem": "l_orderkey"}


def bucketed_table_name(spark: SparkSession, sf_dir: str, name: str) -> str:
    """Catalog name for a bucketed materialization — unique per
    (application, exact sf_dir, table).

    The token carries an md5 of the RAW sf_dir: the readable ``\\W+``
    squash alone let distinct dirs ('sf0.1' vs 'sf0_1') collide onto one
    name, silently serving the wrong dataset (r8 review). The
    applicationId suffix makes the name — and its managed warehouse
    location — private to this session: the in-memory catalog never saw
    other processes' tables anyway (cross-session reuse never existed),
    and the previous reclaim of a name-colliding leftover directory
    rmtree'd what could be ANOTHER LIVE PROCESS's bucketed data (r8
    review). The warehouse itself is a per-process /tmp dir
    (session.py), swept at interpreter exit; crashed runs leave the
    whole pid-tagged dir behind, which
    session.sweep_stale_warehouses() (run by bench.py end-of-run)
    reclaims once the pid is dead (ADVICE r8).
    """
    import hashlib
    import re

    token = re.sub(r"\W+", "_", sf_dir.strip("/"))
    digest = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    app = re.sub(r"\W+", "_", spark.sparkContext.applicationId)
    return f"{name}_bkt_{token}_{digest}_{app}"


def materialize_bucketed(
    spark: SparkSession,
    sf_dir: str,
    specs: dict[str, str] | None = None,
    buckets: int | None = None,
) -> dict[str, str]:
    """One-time bucketed materialization of fact tables.

    Writes each table bucketBy(buckets, key).sortBy(key) into the session
    warehouse and registers it so subsequent :func:`load` calls serve the
    bucketed layout. Joins between tables bucketed on the same key count
    and aggregates on the bucket key then require NO shuffle — the layout
    cost is paid once at ingest, not per query, which is the point at
    100 TB. Returns {table: catalog_name}.
    """
    global _BUCKETED_WRITES
    specs = specs or DEFAULT_BUCKET_SPECS
    buckets = buckets or spark.sparkContext.defaultParallelism
    app = spark.sparkContext.applicationId
    out: dict[str, str] = {}
    for name, key in specs.items():
        tbl = bucketed_table_name(spark, sf_dir, name)
        if not spark.catalog.tableExists(tbl):
            # _read_source, not a raw parquet read: events needs its ts
            # normalization BEFORE the bucketed write, or the persisted
            # table would serve the raw physical type (bigint nanos /
            # timestamp_ntz) to every later load() (r8 review). The
            # app-scoped table name cannot pre-exist on disk, so no
            # leftover-location reclaim is needed (see
            # bucketed_table_name).
            (
                _read_source(spark, sf_dir, name)
                .write.mode("overwrite")
                .bucketBy(buckets, key)
                .sortBy(key)
                .saveAsTable(tbl)
            )
            _BUCKETED_WRITES += 1
        _BUCKETED[(app, sf_dir, name)] = tbl
        out[name] = tbl
    return out


def registered_bucketed(spark: SparkSession, sf_dir: str) -> set:
    """Names currently routed to the bucketed layout for this sf_dir."""
    app = spark.sparkContext.applicationId
    return {name for (a, d, name) in _BUCKETED if a == app and d == sf_dir}


def deregister_bucketed(spark: SparkSession, sf_dir: str, names) -> None:
    """Remove registry entries so load() reverts to plain parquet WITHOUT
    dropping the catalog tables — the physical layout stays for reuse
    (materialize_bucketed finds the table and skips the rewrite). Used by
    callers that must not leave session-global routing behind (q199)."""
    app = spark.sparkContext.applicationId
    for name in names:
        _BUCKETED.pop((app, sf_dir, name), None)


def drop_bucketed(spark: SparkSession, sf_dir: str) -> None:
    """Deregister + drop this sf_dir's bucketed tables (test/bench cleanup)."""
    global _BUCKETED_WRITES
    app = spark.sparkContext.applicationId
    for (a, d, name) in [k for k in _BUCKETED if k[0] == app and k[1] == sf_dir]:
        spark.sql(f"DROP TABLE IF EXISTS {_BUCKETED.pop((a, d, name))}")
        _BUCKETED_WRITES += 1


def bucketed_version() -> tuple:
    """The bucketed routing load() follows, with the write generation of
    the tables it routes to. Equal versions route every load to the same
    data."""
    return _BUCKETED_WRITES, frozenset(_BUCKETED.items())


@contextmanager
def recording_reads() -> Iterator[dict[str, tuple[str, int, int]]]:
    """Collect, for every table file read through this module inside the
    block, ``table_path -> (realpath, size, mtime_ns)``. Blocks nest; an
    outer block also records what an inner one read."""
    reads: dict[str, tuple[str, int, int]] = {}
    _RECORDERS.append(reads)
    try:
        yield reads
    finally:
        _RECORDERS.pop()


def reads_unchanged(reads: dict[str, tuple[str, int, int]]) -> bool:
    """Whether every file in a :func:`recording_reads` record still
    resolves to the same path with the same size and mtime."""
    for given, version in reads.items():
        try:
            path = os.path.realpath(given)
            st = os.stat(path)
        except OSError:
            return False
        if (path, st.st_size, st.st_mtime_ns) != version:
            return False
    return True


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    bucketed = _BUCKETED.get((spark.sparkContext.applicationId, sf_dir, name))
    if bucketed is not None:
        return spark.table(bucketed)
    return _read_source(spark, sf_dir, name)


def _read_source(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read a table from its parquet source with per-table normalization —
    shared by load() and materialize_bucketed() so a bucketed layout can
    never persist a different schema than the plain path serves."""
    path, schema = _memo_schema(spark, sf_dir, name)
    df = spark.read.schema(schema).parquet(path)
    return normalize_event_ts(df) if name == "events" else df


def raw_schema(spark: SparkSession, sf_dir: str, name: str) -> StructType:
    """The parquet reader's schema for a table file, before any
    normalization (``events`` keeps its raw ``ts`` type). Inferred by a
    Spark job on the first call for a file version in this application,
    then served from the memo."""
    return _memo_schema(spark, sf_dir, name)[1]


def _memo_schema(spark: SparkSession, sf_dir: str, name: str) -> tuple[str, StructType]:
    """(resolved path, memoized raw schema) of one table file."""
    if name == "events":
        # events.parquet's `ts` physical type has varied across testdata
        # generations (TIMESTAMP(NANOS) stored as int64 vs plain micros
        # TIMESTAMP without UTC adjustment); normalize_event_ts maps every
        # generation to TimestampType.
        #
        # DELIBERATE session-wide conf change (there is no per-read option
        # for this legacy flag, and restoring it after load() would break
        # the lazily-executed scan): any later nanos-parquet read in the
        # session will also surface as bigint. Scoped alternatives don't
        # exist until Spark grows a reader option; documented here and in
        # the verify skill.
        spark.conf.set(_NANOS_AS_LONG, "true")
    given = table_path(sf_dir, name)
    path = os.path.realpath(given)
    st = os.stat(path)
    for reads in _RECORDERS:
        reads[given] = (path, st.st_size, st.st_mtime_ns)
    app = spark.sparkContext.applicationId
    key = (app, path, st.st_size, st.st_mtime_ns, spark.conf.get(_NANOS_AS_LONG, "false"))
    schema = _SCHEMAS.get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        for stale in [k for k in _SCHEMAS if k[0] != app]:
            del _SCHEMAS[stale]
        _SCHEMAS[key] = schema
    return path, schema


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Coerce an events frame's ``ts`` to TimestampType whatever the
    physical source type was:

    - nanos-as-bigint: integer ``DIV 1000`` stays in the bigint domain (a
      double roundtrip would lose precision at 1e18) and matches DuckDB's
      nanos->micros truncation;
    - TIMESTAMP_NTZ (micros, no tz): cast — value-preserving under the UTC
      session timezone, and DuckDB's TIMESTAMP is NTZ with the same
      wall-clock values.

    Streaming readers that scan events.parquet directly need this too —
    their micro-batch frames carry the raw reader type."""
    ts_type = dict(df.dtypes).get("ts", "")
    if ts_type == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    if ts_type == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df
