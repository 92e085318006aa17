"""Benchmark entry point.

    python3 perfbench/run.py --workload <mr_jobs|sql_mix|ingest> --seed <n> \
        --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke

Run from the repository root. One client process drives a closed loop
(the next op starts when the previous one and its check are done)
against a ``local[nproc]`` session. Every run starts from an empty
program-state directory, which is removed at the end. The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and the metrics (end-to-end with ``--trace 0``, per-layer
with ``--trace 1``). ``--smoke`` runs every workload at tiny sizes and
also checks that a corrupted result is counted as a failed op.
"""

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "map_reduce_framework_using_python_spark"
CACHE = os.path.join(HERE, ".cache")

#: Environment variables through which the program finds its state
#: directories; each run points all of them into its own fresh directory.
STATE_ENV = {
    "SPARK_GRAFT_INDEX_ROOT": "ann",
    "SPARK_GRAFT_DEDUP_INDEX_ROOT": "dedup",
    "SPARK_GRAFT_DSIR_MODEL_ROOT": "dsir",
    "SPARK_GRAFT_ZORDER_ROOT": "zorder",
    "SPARK_GRAFT_PART_ROOT": "part",
    "SPARK_GRAFT_DFS": "dfs",
    "SPARK_LOCAL_DIRS": "spark-local",
    "TMPDIR": "tmp",
}


def isolate(state: str) -> dict[str, str]:
    """Point program state, Spark scratch space and temp files into
    ``state``; put the repository on the Python workers' path. Returns
    the session conf that does the same for the SQL warehouse."""
    for var, sub in STATE_ENV.items():
        os.environ[var] = os.path.join(state, sub)
        os.makedirs(os.environ[var], exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # Both JVMs (spark-submit's launcher and the driver) keep their temp
    # files in the state directory and write no perf-data file to /tmp.
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
                    f"-Djava.io.tmpdir={os.environ['TMPDIR']}") if p)
    return {"spark.sql.warehouse.dir": os.path.join(state, "warehouse")}


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


#: Every per-layer metric and its unit. A workload that never calls a
#: layer reports 0 for it.
LAYER_METRICS = {
    "session.start_s": "s",
    "plans.build_s": "s", "plans.exec_s": "s", "plans.rows_out": "count",
    "cli.write_s": "s", "cli.mapreduce_s": "s", "cli.read_result_s": "s",
    "cli.read_input_s": "s", "mr.output_lines": "count",
    "dedup_index.build_s": "s", "dedup_index.screen_s": "s", "dedup_index.append_s": "s",
    "dedup_index.pairs_out": "count", "dedup_index.files": "count",
    "ann_index.build_s": "s", "ann_index.probe_s": "s", "ann_index.append_s": "s",
    "ann_index.files": "count", "ann_index.recall": "ratio",
    "spark.jobs_per_op": "count", "spark.tasks_per_op": "count",
    "spark.persisted_rdds": "count", "ops.late_over_early": "ratio",
    "mem.jvm_peak_rss_mb": "MB", "mem.py_peak_rss_mb": "MB",
}


class Harness:
    """Drives one workload: set-up, warm-up, timed rounds, metrics."""

    def __init__(self, spark, workload, trace: bool) -> None:
        self.spark, self.wl, self.trace = spark, workload, trace
        self.rec = workload.rec
        self.latencies: list[float] = []
        self.rounds: list[float] = []
        self.jobs: list[int] = []
        self.tasks: list[int] = []
        self.attempted = self.failed = 0
        self.last_result = None

    def _spark_counts(self, group: str) -> None:
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = set()
        for j in jobs:
            info = st.getJobInfo(j)
            stages.update(info.stageIds if info else ())
        infos = [st.getStageInfo(s) for s in stages]
        self.jobs.append(len(jobs))
        self.tasks.append(sum(i.numCompletedTasks for i in infos if i))

    def run_op(self, label, run, check) -> None:
        n = self.attempted
        self.attempted += 1
        self.rec.op = n
        sc = self.spark.sparkContext
        if self.trace:
            sc.setJobGroup(f"op-{n}", label)
        with self.rec.span("op"):
            t0 = time.perf_counter()
            try:
                result = run()
            except Exception as exc:  # an op that raises is a failed op
                result, problems = None, [f"{type(exc).__name__}: {exc}"]
            dt = time.perf_counter() - t0
        self.rec.op = None
        if self.trace:
            sc.setJobGroup("idle", "between ops")
            self._spark_counts(f"op-{n}")
        if result is not None:
            problems = check(result)
            self.last_result = (result, check)
        if problems:
            self.failed += 1
            print(f"FAILED {label}: {problems}", file=sys.stderr)
        self.latencies.append(dt)

    def measure(self, seconds: float) -> None:
        """Whole rounds: as many as take ``seconds`` at the workload's
        reference round time, at least one. The count depends only on
        ``seconds``, so every run of a workload does the same work."""
        for r in range(max(1, round(seconds / self.wl.ROUND_S))):
            before = sum(self.latencies)
            for op in self.wl.round(r):
                self.run_op(*op)
            self.rounds.append(sum(self.latencies) - before)

    def end_to_end(self, setup_s: float) -> dict:
        return {
            "setup_s": (setup_s, "s"),
            "op_p50_s": (statistics.median(self.latencies), "s"),
            "ops_per_s": (len(self.latencies) / sum(self.latencies), "1/s"),
        }

    def per_layer(self, session_s: float, jvm_pid: int) -> dict:
        fifth = max(1, len(self.rounds) // 5)
        m = {
            "session.start_s": session_s,
            "spark.jobs_per_op": statistics.median(self.jobs),
            "spark.tasks_per_op": statistics.median(self.tasks),
            "spark.persisted_rdds": float(len(self.spark.sparkContext._jsc.getPersistentRDDs())),
            "ops.late_over_early": statistics.median(self.rounds[-fifth:])
            / statistics.median(self.rounds[:fifth]),
            "mem.jvm_peak_rss_mb": vm_hwm_mb(jvm_pid),
            "mem.py_peak_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
        }
        for name in LAYER_METRICS:
            m.setdefault(name, 0.0)
        m.update(self.wl.layer_metrics())
        return {k: (v, LAYER_METRICS[k]) for k, v in m.items()}


def start_session(conf: dict):
    from map_reduce_framework_using_python_spark.session import get_spark

    return get_spark(extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def bench(args) -> int:
    from workloads import SIZES, WORKLOADS
    from spans import Recorder

    state = os.path.join(HERE, ".state", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(state, ignore_errors=True)
    conf = isolate(state)
    rec = Recorder(enabled=bool(args.trace))
    wl = WORKLOADS[args.workload](args.seed, SIZES["full"], CACHE, state, rec)
    spark = None
    try:
        t_gen = time.perf_counter()
        wl.prepare()
        gen_s = time.perf_counter() - t_gen
        with rec.span("session.start"):
            t = time.perf_counter()
            spark = start_session(conf)
            session_s = time.perf_counter() - t
        jvm_pid = spark.sparkContext._gateway.proc.pid
        wl.setup(spark)
        wl.warmup()
        setup_s = time.perf_counter() - T_PROCESS - gen_s
        h = Harness(spark, wl, trace=bool(args.trace))
        h.measure(args.seconds)
        metrics = h.per_layer(session_s, jvm_pid) if args.trace else h.end_to_end(setup_s)
        if args.trace:
            rec.dump(os.path.join(HERE, ".traces", f"{args.workload}-{args.seed}.jsonl"))
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(state, ignore_errors=True)
    print(json.dumps({
        "correct": h.failed == 0,
        "attempted": h.attempted,
        "failed": h.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def smoke() -> int:
    """Every workload at tiny sizes with every check on; then one
    corrupted result per workload must be counted as a failed op."""
    from workloads import SIZES, WORKLOADS
    from spans import Recorder

    state = os.path.join(HERE, ".state", f"smoke-{os.getpid()}")
    shutil.rmtree(state, ignore_errors=True)
    conf = isolate(state)
    spark = start_session(conf)
    ok = True
    try:
        for name, cls in WORKLOADS.items():
            wl = cls(0, SIZES["smoke"], os.path.join(CACHE, "smoke"),
                     os.path.join(state, name), Recorder(enabled=True))
            os.makedirs(wl.state)
            wl.prepare()
            wl.setup(spark)
            wl.warmup()
            h = Harness(spark, wl, trace=True)
            for op in wl.round(0):
                h.run_op(*op)
            clean = h.failed == 0
            result, check = h.last_result
            h.run_op("corrupted", lambda: wl.corrupt(result), check)
            caught = h.failed == 1 if clean else False
            print(f"{name}: {h.attempted - 1} ops, failed {h.failed - caught}, "
                  f"corrupted result caught: {caught}")
            ok &= clean and caught
    finally:
        stop_session(spark)
        shutil.rmtree(state, ignore_errors=True)
    print("smoke", "ok" if ok else "FAILED")
    return 0 if ok else 1


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=12.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true")
    args = p.parse_args(argv)
    # SIGTERM unwinds through the finally blocks, which stop Spark and
    # remove the run's state directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"error: {PACKAGE} not found next to {HERE}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    if args.smoke:
        return smoke()
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        p.error(f"--workload must be one of {sorted(WORKLOADS)}")
    return bench(args)


if __name__ == "__main__":
    sys.exit(main())
