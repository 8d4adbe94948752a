"""SparkSession factory with scale-oriented defaults.

Defaults chosen for a large cluster reading ~100 TB, but harmless on
``local[*]``:

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic join-strategy switching replace hand-tuned partition counts.
- UTC session timezone: all reference timestamps are UTC ROS times
  (reference bagstream.py:212-216); oracle comparisons require a fixed zone.
- Arrow enabled: every Python-side operator in this engine uses
  pandas/Arrow batches (mapInPandas / pandas_udf), never row-at-a-time UDFs.
- 128 MiB file split target keeps scan tasks right-sized for wide parquet.
- Python workers fork from this package's ``worker_daemon``: Spark's own
  daemon re-reads ``pyspark.zip``'s directory in every task (140-320 ms
  before any user code); the engine's daemon re-reads it only when the
  archive changed. Workers must therefore be able to import this package
  (run from the repository root, or put it on ``PYTHONPATH``), which every
  engine UDF needs anyway: cloudpickle pickles module functions by
  reference.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(app_name: str = "ros-baglake-spark", *, shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    On a real cluster ``spark.sql.shuffle.partitions`` should be ~2-3x the
    executor-core count; AQE coalesces down from there, so we set the local
    default from SPARK_GRAFT_CPUS and let AQE do the rest.
    """
    n = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    # local[N] runs driver + all N executor threads in ONE JVM, so Spark's
    # 1g default heap gives each of 32 concurrent tasks ~30 MB — the sf1.0
    # audit OOMed a plain sort-merge join on that. Size the single JVM like
    # the sum of the executors it stands in for (the host has 128 GiB; a
    # real cluster sets spark.executor.memory per node instead). Only
    # effective when this process launches the JVM — harmless afterwards.
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.driver.memory", mem)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # Keep the AUTO broadcast threshold at Spark's conservative 10 MiB:
        # every known-small dimension in this engine is broadcast by an
        # explicit F.broadcast() hint (hints ignore the threshold), so a
        # high auto threshold buys nothing — and it is a scale hazard. The
        # sf1.0 audit caught exactly that: a 64 MiB threshold let the
        # column-pruned lineitem scan (6M rows, ~42 MB compressed estimate
        # for 4 of 11 columns) through as a driver broadcast build, which
        # OOMs long before 100 TB. Compressed-bytes estimates say nothing
        # about hashed-relation memory; only opt-in broadcasts are safe.
        .config("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
        # Reliable checkpoints (operators/checkpointing.py) write one
        # rdd-N snapshot per iteration and Spark does NOT delete them by
        # default — a multi-hour pagerank/CC run would accumulate
        # unbounded checkpoint storage (ADVICE r5). With this on, the
        # ContextCleaner removes a checkpoint's files once its RDD is
        # garbage-collected, i.e. as soon as the loop rebinds `cur`/
        # `ranks` and a GC cycle runs; only the checkpoints still
        # referenced by live frames (the returned result, `nodes`/`deg`)
        # survive. Must be set at context start — it is read once by the
        # ContextCleaner constructor.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # Per-process warehouse under /tmp, swept at interpreter exit:
        # bucketed-table names are app-scoped since r8 (tables.py), so a
        # CWD-shared ./spark-warehouse would accumulate one orphan
        # bucketed fact-table copy per checker/audit run with nothing but
        # bench.py's sweep to reclaim it (r8 round-diff review). Only
        # applied when this call launches the JVM; a crash leaves the
        # dir for the OS /tmp policy instead of the repo tree.
        .config("spark.sql.warehouse.dir", _process_warehouse_dir())
        # Python workers fork from worker_daemon.py (see the docstring above).
        .config("spark.python.daemon.module", f"{__package__}.worker_daemon")
    )
    if not os.environ.get("SPARK_MASTER") and "SPARK_ENV_LOADED" not in os.environ:
        builder = builder.master(os.environ.get("SPARK_GRAFT_MASTER", "local[*]"))
    return builder.getOrCreate()


_WAREHOUSE_DIR: str | None = None


def _process_warehouse_dir() -> str:
    global _WAREHOUSE_DIR
    if _WAREHOUSE_DIR is None:
        import atexit
        import shutil
        import tempfile

        # pid in the name so a sweeper (bench.py end-of-run) can tell a
        # crashed run's orphan from a LIVE process's warehouse: clean
        # exits reclaim via atexit; crashed runs leave
        # spark_graft_wh_<dead pid>_* for sweep_stale_warehouses()
        _WAREHOUSE_DIR = tempfile.mkdtemp(prefix=f"spark_graft_wh_{os.getpid()}_")
        atexit.register(shutil.rmtree, _WAREHOUSE_DIR, ignore_errors=True)
    return _WAREHOUSE_DIR


def sweep_stale_warehouses() -> list[str]:
    """Remove per-process temp warehouses left by CRASHED runs (atexit
    never fired): any spark_graft_wh_<pid>_* dir whose pid is no longer
    alive. Pre-pid-tag orphans (plain spark_graft_wh_XXXX) are left for
    OS tmp policy — their liveness cannot be checked. Returns the
    removed paths (bench.py logs them)."""
    import glob
    import re
    import shutil
    import tempfile

    removed = []
    for d in glob.glob(os.path.join(tempfile.gettempdir(), "spark_graft_wh_*")):
        m = re.match(r"spark_graft_wh_(\d+)_", os.path.basename(d))
        if not m:
            continue
        pid = int(m.group(1))
        if pid == os.getpid():
            continue
        try:
            os.kill(pid, 0)  # raises if no such process
        except ProcessLookupError:
            shutil.rmtree(d, ignore_errors=True)
            removed.append(d)
        except PermissionError:
            pass  # pid alive under another user — leave it
    return removed
