"""Benchmark entry point: one named workload per fresh process.

    python3 perfbench/run.py --workload bag_ingest|lake_query \
        --seed N --seconds S --trace 0|1

Runs from the repository root. The engine runs on ``local[4]`` with 4
shuffle partitions and one client in a closed loop (each operation starts
when the previous one ends). A run stages its seeded inputs (excluded from
every metric), starts the session, does the workload's layer set-up and
warm-up passes, then runs timed passes until ``--seconds`` have passed and
at least ``min_timed`` passes are done. Every operation's output is checked.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` reads the Spark UI REST API after each pass (outside the
timed window) and reports the per-layer ledger instead, and writes its
spans to ``.perfbench/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import time

P_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

MASTER = "local[4]"
SHUFFLE_PARTITIONS = 4
DRIVER_MEM = "2g"  # the engine's 16g default exceeds a 15 GiB host
# A fixed heap and young generation: with G1's adaptive sizing, peak RSS of
# one workload swung between 2.2 and 3.5 GB from run to run.
JVM_OPTS = f"-Xms{DRIVER_MEM} -Xmn512m"

END_TO_END = {"setup_s": "s", "pass_s": "s", "peak_rss_mb": "MB"}
PASS_LAYERS = {
    "plans.build_s": "s", "plans.action_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.job_s": "s", "spark.driver_only_s": "s",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_read_mb": "MB", "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB",
    "python.boot_s": "s", "python.init_s": "s", "python.run_s": "s",
    "python.sent_mb": "MB", "python.recv_mb": "MB",
    "streaming.triggers": "count", "streaming.add_batch_s": "s", "streaming.planning_s": "s",
    "streaming.commit_s": "s", "streaming.latest_offset_s": "s",
    "sources.extract_s": "s", "sources.extract_rows": "count",
    "operators.png_s": "s", "operators.enrich_s": "s", "operators.anonymize_s": "s",
    "sinks.trainprep_s": "s", "sinks.files": "count", "sinks.bytes_mb": "MB",
}
RUN_LAYERS = {"session.start_s": "s", "tables.layout_s": "s", "trace.pass_s": "s"}

# This host is a VM whose hypervisor at times steals 10-20% of CPU time,
# which slowed passes by up to 75%. A timed pass during which more than
# QUIET_STEAL of the host's CPU time was stolen is replaced by another, up
# to EXTRA_PASSES more; metrics use the quiet passes when two or more exist.
# One extra pass, not two: under sustained steal, runs with two averaged
# 76 s (bag_ingest) and 68 s (lake_query), too close to the time budget.
QUIET_STEAL = 0.05
EXTRA_PASSES = 1


def pin_environment(work: str) -> None:
    """Keep every file the run writes inside the checkout, and pin the
    machine shape. Must run before pyspark is imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_MASTER"] = MASTER
    os.environ["SPARK_GRAFT_CPUS"] = str(SHUFFLE_PARTITIONS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options '-Djava.io.tmpdir={tmp} {JVM_OPTS}' pyspark-shell"
    )
    for var in ("SPARK_MASTER", "SPARK_ENV_LOADED", "SPARK_TESTING"):
        os.environ.pop(var, None)
    sys.path[:0] = [ROOT, HERE]


class Harness:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str) -> None:
        import workloads

        self.workloads = workloads
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.oracle_cache = os.path.join(STATE, "oracle")
        self.info: dict = {}
        self.run_layers: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.spark = None
        self.rest = None
        self.gc_seen = 0.0
        self.ledger = None
        self.wl = workloads.WORKLOADS[workload](self)
        # per-operation rows of the ledger: one pair per lake_query query
        self.pass_layers = dict(PASS_LAYERS)
        for q in workloads.LakeQueries.queries:
            self.pass_layers[f"op.{q}.jobs"] = "count"
            self.pass_layers[f"op.{q}.driver_only_s"] = "s"

    def ensure_lake(self) -> str:
        import inputs

        lake = os.path.join(STATE, f"lake-v{inputs.LAKE_VERSION}")
        if not os.path.isdir(lake):
            tmp = lake + f".tmp{os.getpid()}"
            inputs.make_lake(tmp)
            os.replace(tmp, lake)
        return lake

    # -- one pass ---------------------------------------------------------

    def run_pass(self, idx: int, check: bool) -> dict:
        from ledger import host_cpu_counters, host_steal_share

        wl, sc = self.wl, self.spark.sparkContext
        names = wl.op_names()
        if wl.seeded_order:
            random.Random(self.seed * 1000 + idx).shuffle(names)
        records = []
        self.sampler.take_peak_mb()
        host0 = host_cpu_counters()
        p_t0, p_perf = time.time(), time.perf_counter()
        wl.begin_pass(idx)
        for name in names:
            op = self.workloads.OpRecord(name, f"pb-{self.seed}-{idx}-{name}")
            sc.setJobGroup(op.group, name)
            op.t0 = time.time()
            try:
                op.verify = wl.run_op(name, op, check)
            except Exception:
                op.error = traceback.format_exc(limit=6)
            op.t1 = time.time()
            records.append(op)
        wall = time.perf_counter() - p_perf
        p_t1 = time.time()
        peak_mb = self.sampler.take_peak_mb()
        steal = host_steal_share(host0, host_cpu_counters())
        sc.setLocalProperty("spark.jobGroup.id", None)

        for op in records:  # checks run outside the timed window
            self.attempted += 1
            if op.error is None and op.verify is not None:
                try:
                    op.verify()
                except Exception:
                    op.error = traceback.format_exc(limit=6)
            if op.error is not None:
                self.failed += 1
                print(f"[perfbench] pass {idx} op {op.name} FAILED\n{op.error}", file=sys.stderr)

        layers = {k: 0.0 for k in self.pass_layers}
        layers["plans.build_s"] = sum(op.build_s for op in records)
        layers["plans.action_s"] = sum(op.action_s for op in records)
        for op in records:
            if op.name in wl.layer_of:
                layers[wl.layer_of[op.name]] = op.wall
        pspan = self.ledger.add("pass", f"pass-{idx}", p_t0, p_t1, self.run_span, wall=wall, check=check)
        for op in records:
            op.span = self.ledger.add("op", op.name, op.t0, op.t1, pspan, build_s=op.build_s, action_s=op.action_s)
        if self.trace:
            self.collect_trace(pspan, records, layers)
        wl.end_pass(idx, layers)
        pspan.attrs["layers"] = layers
        print(f"[perfbench] pass {idx} {'check' if check else 'noop'} {wall:.3f}s", file=sys.stderr)
        return {
            "wall": wall, "rss_mb": peak_mb, "steal": steal, "layers": layers,
            "op_walls": [op.wall for op in records],
        }

    # -- traced run: ledger from the UI REST API ---------------------------

    def collect_trace(self, pspan, records, layers: dict) -> None:
        from ledger import PY_METRICS, attribute_jobs, parse_metric_total, union_length

        rest = self.rest
        charged, stray = attribute_jobs(rest.get("/jobs"), records, pspan.t0, pspan.t1)
        pspan.attrs["unattributed_jobs"] = [j["jobId"] for j in stray]
        job_ids, stage_ids = set(), set()
        for op, jobs in zip(records, charged):
            self.ledger.add_jobs(op.span, jobs)
            covered = union_length([(max(a, op.t0), min(b, op.t1)) for _j, a, b in jobs])
            for j, _a, _b in jobs:
                job_ids.add(j["jobId"])
                stage_ids.update(j["stageIds"])
                layers["spark.stages"] += j["numCompletedStages"]
                layers["spark.tasks"] += j["numCompletedTasks"]
            layers["spark.jobs"] += len(jobs)
            layers["spark.job_s"] += covered
            layers["spark.driver_only_s"] += op.wall - covered
            if f"op.{op.name}.jobs" in layers:
                layers[f"op.{op.name}.jobs"] = len(jobs)
                layers[f"op.{op.name}.driver_only_s"] = op.wall - covered
            for q in op.streams:
                for prog in q.recentProgress:
                    d = prog.durationMs
                    layers["streaming.triggers"] += 1
                    layers["streaming.add_batch_s"] += d.get("addBatch", 0) / 1e3
                    layers["streaming.planning_s"] += d.get("queryPlanning", 0) / 1e3
                    layers["streaming.commit_s"] += d.get("commitOffsets", 0) / 1e3
                    layers["streaming.latest_offset_s"] += d.get("latestOffset", 0) / 1e3
        for s in rest.get("/stages"):
            if s["stageId"] in stage_ids and s["status"] != "SKIPPED":
                layers["spark.executor_run_s"] += s["executorRunTime"] / 1e3
                layers["spark.executor_cpu_s"] += s["executorCpuTime"] / 1e9
                layers["spark.shuffle_read_mb"] += s["shuffleReadBytes"] / 1e6
                layers["spark.shuffle_write_mb"] += s["shuffleWriteBytes"] / 1e6
                layers["spark.spill_mb"] += s["diskBytesSpilled"] / 1e6
        gc = sum(e["totalGCTime"] for e in rest.get("/executors")) / 1e3
        layers["spark.gc_s"] = gc - self.gc_seen
        self.gc_seen = gc
        for ex in rest.new_sql():
            ids = set(ex.get("successJobIds", []) + ex.get("failedJobIds", []) + ex.get("runningJobIds", []))
            if not ids & job_ids:
                continue
            for node in ex.get("nodes", []):
                if node["nodeName"] == "MicroBatchScan":
                    # the rosbag stream's scan reports Python data metrics
                    # that add up over every stream of the process (28, 49,
                    # 77, 106 MiB in passes 0-3 for the same 14 MiB of
                    # frames), so they are left out
                    continue
                for m in node.get("metrics", []):
                    key = PY_METRICS.get(m["name"])
                    if key:
                        v = parse_metric_total(m["value"])
                        layers[key] += v / 1e6 if key.endswith("_mb") else v

    # -- the run ------------------------------------------------------------

    def run(self) -> dict:
        from ledger import Ledger, RssSampler, SparkRest, median, percentile

        self.ledger = Ledger()
        self.run_span = self.ledger.add("run", self.wl.name, time.time(), time.time())
        t = time.perf_counter()
        self.wl.stage_inputs()
        excluded = time.perf_counter() - t

        self.sampler = RssSampler()
        self.sampler.start()
        try:
            from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.session import (
                get_spark,
            )

            t = time.perf_counter()
            self.spark = get_spark(f"perfbench-{self.wl.name}", shuffle_partitions=SHUFFLE_PARTITIONS)
            self.run_layers["session.start_s"] = time.perf_counter() - t
            self.spark.sparkContext.setLogLevel("ERROR")
            if self.trace:
                self.rest = SparkRest(self.spark.sparkContext)
            self.wl.setup()
            idx = 0
            for _ in range(self.wl.warmup_passes):
                self.run_pass(idx, check=self.wl.check_every_pass or idx == 0)
                idx += 1
            setup_s = time.perf_counter() - P_START - excluded
            timed = []
            t_loop = time.perf_counter()
            while True:
                quiet = [p for p in timed if p["steal"] < QUIET_STEAL]
                done = len(timed) >= self.wl.min_timed and time.perf_counter() - t_loop >= self.seconds
                if done and (len(quiet) >= self.wl.min_timed or len(timed) >= self.wl.min_timed + EXTRA_PASSES):
                    break
                timed.append(self.run_pass(idx, check=self.wl.check_every_pass))
                idx += 1
        finally:
            self.sampler.stop()
            self.run_span.t1 = time.time()
            self.shutdown()

        counted = quiet if len(quiet) >= 2 else timed
        walls = [p["wall"] for p in counted]
        op_walls = [w for p in counted for w in p["op_walls"]]
        self.info.update(
            passes=[round(w, 3) for w in walls], excluded_s=round(excluded, 3),
            steal=[round(p["steal"], 3) for p in timed],
            op_latency={
                "n": len(op_walls),
                "p50_s": percentile(op_walls, 0.5),
                "p90_s": percentile(op_walls, 0.9),
            },
        )
        if not self.trace:
            metrics = {
                "setup_s": setup_s,
                "pass_s": median(walls),
                "peak_rss_mb": median([p["rss_mb"] for p in counted]),
            }
            units = END_TO_END
        else:
            metrics = {k: median([p["layers"][k] for p in counted]) for k in self.pass_layers}
            metrics.update(self.run_layers)
            metrics["trace.pass_s"] = median(walls)
            units = {**self.pass_layers, **RUN_LAYERS}
            self.ledger.dump(os.path.join(STATE, f"trace-{self.wl.name}-{self.seed}.json"))
        if self.trace:
            passes = [s for s in self.ledger.spans if s.kind == "pass"]
            self.info["reconcile"] = [round(self.ledger.subtree_self_total(s) / s.wall, 4) for s in passes]
            self.info["unattributed_jobs"] = sum(len(s.attrs["unattributed_jobs"]) for s in passes)
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
        }

    def shutdown(self) -> None:
        """Stop Spark, then wait for the JVM and every Python worker."""
        from ledger import descendants, wait_gone

        if self.spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            self.spark.stop()
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
        left = wait_gone(descendants(os.getpid()), 30)
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        if wait_gone(left, 10):
            raise RuntimeError(f"processes still alive after shutdown: {left}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("bag_ingest", "lake_query"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    os.makedirs(STATE, exist_ok=True)
    work = os.path.join(STATE, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    pin_environment(work)
    try:
        h = Harness(args.workload, args.seed, args.seconds, bool(args.trace), work)
        result = h.run()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"[perfbench] {args.workload} seed={args.seed} trace={args.trace} {json.dumps(h.info)}", file=sys.stderr)
    for k, v in result["metrics"].items():
        print(f"{k} {v['value']:.6g} {v['unit']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
