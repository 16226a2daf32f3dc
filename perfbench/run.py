"""xetl_spark benchmark: workloads run through the program's public functions.

    python3 perfbench/run.py --workload curation|pipeline \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The run sets up the Spark session, prepares
the fixture, runs and checks every op once (the check pass, untimed), then
times a fixed number of whole passes over the workload's ops, sized from
``--seconds``, in an order fixed by the seed. The last line of standard
output is one JSON object: the end-to-end metrics with ``--trace 0``, the
per-layer metrics of a traced run with ``--trace 1``. See README.md in this
directory.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import random
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

WORKLOADS = ("curation", "pipeline")
TASK_THREADS = 1
# stages are partitioned as on a 4-core host (scan splits, the floor of AQE's
# shuffle coalescing), while one task thread runs them
PARALLELISM = 4
DRIVER_MEM = "2g"
# the timed phase is a fixed number of whole passes: --seconds over the
# workload's pass wall on a 4-vCPU host, rounded up. Passes counted by the
# clock would time one cold pass on a slow host and a cold and a warm one on
# a fast host. No new pass starts after MAX_TIMED_S.
PASS_S = {"curation": 12.0, "pipeline": 8.0}
MAX_TIMED_S = 100.0
MB = 1 << 20


def process_start() -> float:
    """Wall-clock time at which this process started."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        boot = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return boot + ticks / os.sysconf("SC_CLK_TCK")


def process_tree() -> dict[int, list[str]]:
    """/proc/<pid>/stat fields (after the command name) of this process and
    all its descendants."""
    stats = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stats[int(entry)] = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
    tree, grew = {os.getpid()}, True
    while grew:
        kids = {p for p, st in stats.items() if int(st[1]) in tree} - tree
        tree |= kids
        grew = bool(kids)
    return {p: stats[p] for p in tree if p in stats}


def tree_cpu_s() -> float:
    """User and system CPU seconds of the process tree, reaped children included."""
    ticks = sum(sum(int(x) for x in st[11:15]) for st in process_tree().values())
    return ticks / os.sysconf("SC_CLK_TCK")


def host_steal() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs: the time the hypervisor ran others."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants."""

    def __init__(self, interval: float = 0.25):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._halt = threading.Event()

    def run(self) -> None:
        page = os.sysconf("SC_PAGE_SIZE")
        while not self._halt.wait(self.interval):
            # field 22 of /proc/<pid>/stat: resident pages
            rss = sum(int(st[21]) for st in process_tree().values()) * page
            self.peak = max(self.peak, rss)

    def stop(self) -> int:
        self._halt.set()
        self.join()
        return self.peak


def crossing_probe(spark) -> float:
    """bench.py's host-regime probe: the wall (ms) of a 32-task identity
    mapInPandas round trip, taken once the Python workers are warm."""
    t0 = time.perf_counter()
    spark.range(0, 256).repartition(32).mapInPandas(lambda it: it, schema="id long").count()
    return (time.perf_counter() - t0) * 1000.0


def stop_jvm(gateway, timeout: float = 60.0) -> None:
    """End the Spark JVM and wait until it and the Python workers it started
    have exited."""
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout)
    deadline = time.monotonic() + timeout
    while len(process_tree()) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def dir_size(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def files_since(path: str, since: float) -> int:
    """Data files under ``path`` last written at or after ``since``."""
    n = 0
    for d, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")) and os.path.getmtime(os.path.join(d, f)) >= since:
                n += 1
    return n


class Bench:
    """One workload's ops, run once to be checked and then in timed passes."""

    def __init__(self, args, spark, sf_dir: str, work: str, tracer):
        import ops

        self.args = args
        self.spark = spark
        self.sf_dir = sf_dir
        self.work = work
        self.tracer = tracer
        if args.workload == "pipeline":
            self.ops = ops.job_ops(sf_dir, self.jobs_dir)
        else:
            self.ops = ops.query_ops()
        self.checker = ops.Checker(sf_dir)
        self.bad: dict[str, str] = {}
        # ops with a failure other than the known fault they are kept for
        self.unexpected: set[str] = set()
        self.records: list[dict] = []
        self.pass_cpu: list[float] = []
        self.pass_steal: list[float] = []

    def fail(self, name: str, exc: Exception, what: str = "") -> None:
        from ops import known_fault

        self.bad.setdefault(name, f"{what}{type(exc).__name__}: {str(exc)[:300]}")
        if not known_fault(name, exc):
            self.unexpected.add(name)

    # -- one op of each kind

    def run_query(self, op, rec: dict, collect: bool):
        from layers import analysis_ms

        with self.tracer.span("build", rec["id"]):
            t0 = time.perf_counter()
            df = op.build(self.spark, self.sf_dir)
            rec["build_s"] = time.perf_counter() - t0
        if self.tracer.enabled:
            rec["analysis_ms"] = analysis_ms(df)
        with self.tracer.span("exec", rec["id"]):
            if collect:
                return df.toPandas()
            df.write.format("noop").mode("overwrite").save()
        return None

    def run_job(self, op, rec: dict) -> None:
        from xetl_spark.plans import Job, run_job

        with self.tracer.span("plans.load", rec["id"]):
            t0 = time.perf_counter()
            job = Job.from_yaml(op.manifest)
            t1 = time.perf_counter()
        with self.tracer.span("plans.run_job", rec["id"]):
            results = run_job(self.spark, job, parallel=op.parallel)
            t2 = time.perf_counter()
        self.history.pending.append((results, job))
        rec["plans.load_s"] = t1 - t0
        rec["plans.run_job_s"] = t2 - t1
        if op.parallel:
            rec["overlap"] = sum(r.wall_s for r in results) / (t2 - t1)

    def run_history(self, op, rec: dict) -> None:
        from ops import HISTORY_KEEP

        from xetl_spark.plans import run_report, vacuum_run_history, write_run_report

        with self.tracer.span("plans.report", rec["id"]):
            t0 = time.perf_counter()
            for results, job in op.pending:
                report = run_report(results, job)
                write_run_report(self.spark, report, op.path)
                op.written.append(report)
            op.pending.clear()
            vacuum_run_history(self.spark, op.path, keep_last_runs=HISTORY_KEEP)
            rec["plans.report_s"] = time.perf_counter() - t0

    def attempt(self, op, pass_no: int, collect: bool = False):
        from ops import HistoryOp, QueryOp

        rec = {"id": f"p{pass_no}:{op.name}", "name": op.name, "pass": pass_no, "ok": False}
        out = None
        start = time.time()
        t0 = time.perf_counter()
        try:
            with self.tracer.span("op", rec["id"]):
                if isinstance(op, QueryOp):
                    out = self.run_query(op, rec, collect)
                elif isinstance(op, HistoryOp):
                    self.run_history(op, rec)
                else:
                    self.run_job(op, rec)
            rec["ok"] = True
        except Exception as exc:  # noqa: BLE001 - one failing op must not end the run
            self.fail(op.name, exc)
        rec["wall_s"] = time.perf_counter() - t0
        if self.args.workload == "pipeline" and rec["ok"]:
            rec["files_written"] = files_since(self.jobs_dir, start)
            if not isinstance(op, HistoryOp):
                rec["sink_bytes"] = dir_size(op.sink)
        return rec, out

    @property
    def history(self):
        return self.ops[-1]

    @property
    def jobs_dir(self) -> str:
        return os.path.join(self.work, "jobs")

    # -- phases

    def order(self, pass_no: int) -> list:
        """The seed's order of the pass; the last op reads another op's
        output (the backtick op, the history op) and stays last."""
        ops = self.ops[:-1]
        random.Random(self.args.seed * 1009 + pass_no).shuffle(ops)
        return ops + self.ops[-1:]

    def check_pass(self) -> None:
        from ops import CheckFailed, HistoryOp, QueryOp

        for op in self.order(0):
            _, out = self.attempt(op, 0, collect=True)
            if op.name in self.bad or isinstance(op, HistoryOp):
                continue
            try:
                op.check(out, self.checker) if isinstance(op, QueryOp) else op.check(op, self.checker)
            except CheckFailed as exc:
                self.fail(op.name, exc, "check: ")

    def timed(self) -> list[float]:
        walls, t_begin = [], time.perf_counter()
        passes = max(1, math.ceil(self.args.seconds / PASS_S[self.args.workload]))
        for pass_no in range(1, passes + 1):
            if time.perf_counter() - t_begin >= MAX_TIMED_S:
                break
            t0, cpu0, steal0 = time.perf_counter(), tree_cpu_s(), host_steal()
            for op in self.order(pass_no):
                self.records.append(self.attempt(op, pass_no)[0])
            walls.append(time.perf_counter() - t0)
            steal1 = host_steal()
            self.pass_cpu.append(tree_cpu_s() - cpu0)
            self.pass_steal.append((steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]))
        return walls

    def history_check(self) -> None:
        """Run after the timed passes, once retention has had runs to drop."""
        from ops import CheckFailed, check_history

        if self.args.workload != "pipeline" or self.history.name in self.bad:
            return
        try:
            check_history(self.history, self.checker)
        except CheckFailed as exc:
            self.fail(self.history.name, exc, "check: ")


def median_over_passes(records: list[dict], key: str, agg=sum) -> float:
    by_pass: dict[int, list[float]] = {}
    for r in records:
        if key in r and r[key] is not None:
            by_pass.setdefault(r["pass"], []).append(r[key])
    return statistics.median(agg(v) for v in by_pass.values()) if by_pass else 0.0


def layer_metrics(bench: Bench, jobs: list[dict], catalyst: list, setup: dict, probe_ms: float, walls) -> dict:
    from layers import op_layers

    recs = [r for r in bench.records if r["ok"]]
    for r in recs:
        r.update(op_layers(r, bench.tracer, jobs, catalyst))
    per_pass = [
        "queries.build_s", "queries.build_jobs", "catalyst.analysis_ms",
        "catalyst.optimization_ms", "catalyst.planning_ms", "executor.jobs",
        "executor.tasks", "executor.run_s", "executor.cpu_s", "executor.gc_s",
        "executor.shuffle_write_mb", "executor.shuffle_read_mb",
        "executor.fetch_wait_s", "executor.spill_mb", "executor.residue_s",
        "crossing.to_python_mb", "crossing.from_python_mb", "crossing.python_s",
        "plans.load_s", "plans.run_job_s", "plans.report_s",
        "sources.read_mb", "sources.written_mb",
    ]
    m = {k: median_over_passes(recs, k) for k in per_pass}
    m["sources.files_written"] = median_over_passes(recs, "files_written")
    m["executor.task_skew"] = statistics.median(r["executor.task_skew"] for r in recs)
    m["executor.residue_share"] = statistics.median(r["executor.residue_share"] for r in recs)
    m["plans.parallel_overlap"] = median_over_passes(recs, "overlap", agg=max)
    sink = median_over_passes(recs, "sink_bytes")
    m["sources.write_amplification"] = m["sources.written_mb"] * MB / sink if sink else 0.0
    m["session.import_s"] = setup["import_s"]
    m["session.start_s"] = setup["start_s"]
    m["crossing.probe_ms"] = probe_ms
    m["trace.wall_s"] = statistics.median(walls)
    return m


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    proc_start = process_start()
    rss = RssSampler()
    rss.start()
    load_start = os.getloadavg()
    state = os.path.join(ROOT, ".bench_build", "perfbench")
    work = os.path.join(state, f"work-{os.getpid()}")
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(state, d), exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(TASK_THREADS),
            "XETL_DRIVER_MEM": DRIVER_MEM,
            "TMPDIR": os.path.join(state, "tmp"),
        }
    )
    # the session sizes shuffle partitions from these when they are set
    for k in ("SPARK_GRAFT_SF_DIR", "XETL_SHUFFLE_PARTITIONS"):
        os.environ.pop(k, None)
    conf = {
        "spark.local.dir": os.path.join(state, "local"),
        "spark.sql.warehouse.dir": os.path.join(state, "warehouse"),
        "spark.default.parallelism": str(PARALLELISM),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(state, 'tmp')}",
    }
    log_dir = os.path.join(work, "eventlog")
    if args.trace:
        from layers import eventlog_conf

        conf.update(eventlog_conf(log_dir))

    t0 = time.perf_counter()
    import xetl_spark.queries  # noqa: F401 - the 314-query registry
    from xetl_spark.session import get_session

    t1 = time.perf_counter()
    spark = get_session("perfbench", extra_conf=conf)
    spark.range(1).collect()
    t2 = time.perf_counter()
    setup = {"setup_s": time.time() - proc_start, "import_s": t1 - t0, "start_s": t2 - t1}

    import fixture
    from layers import Tracer, register_listener

    gateway = spark.sparkContext._gateway
    try:
        sf_dir = fixture.prepare(ROOT)
        tracer = Tracer(bool(args.trace))
        listener = register_listener(spark) if args.trace else None
        bench = Bench(args, spark, sf_dir, work, tracer)
        t_check = time.perf_counter()
        bench.check_pass()
        # the probe costs a few seconds per run, so only traced runs take it
        probe_ms = crossing_probe(spark) if args.trace else None
        t_timed = time.perf_counter()
        walls = bench.timed()
        t_end = time.perf_counter()
        bench.history_check()
        bench.checker.close()
        versions = {
            "spark": spark.version,
            "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version(),
        }
    finally:
        spark.stop()
        stop_jvm(gateway)
        peak = rss.stop()
        if not args.trace:
            shutil.rmtree(work, ignore_errors=True)

    attempted = len(bench.records)
    failed = sum(1 for r in bench.records if not r["ok"] or r["name"] in bench.bad)
    correct = not bench.unexpected
    for name, why in sorted(bench.bad.items()):
        print(f"# failed op {name}: {why}", file=sys.stderr)
    telemetry = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "task_threads": TASK_THREADS,
        "parallelism": PARALLELISM,
        "loadavg_start": load_start,
        "loadavg_end": os.getloadavg(),
        "crossing.probe_ms": probe_ms,
        "pass_wall_s": walls,
        "pass_cpu_s": bench.pass_cpu,
        "pass_steal": bench.pass_steal,
        # median latency over every attempted op (a failing op counts with the
        # time it took to fail), and each op's median latency
        "op_p50_s": statistics.median(r["wall_s"] for r in bench.records),
        "op_wall_s": {
            o.name: statistics.median([r["wall_s"] for r in bench.records if r["name"] == o.name])
            for o in bench.ops
        },
        "phases_s": {"setup": setup["setup_s"], "check": t_timed - t_check, "timed": t_end - t_timed},
        "versions": versions,
    }
    print("perfbench-telemetry " + json.dumps(telemetry), file=sys.stderr)

    spec = load_spec()
    if args.trace:
        from layers import parse_eventlog

        values = layer_metrics(bench, parse_eventlog(log_dir), listener.phases, setup, probe_ms, walls)
        tracer.write(os.path.join(state, f"spans-{args.workload}-{args.seed}.json"))
        shutil.rmtree(work, ignore_errors=True)
        wanted = spec["per_layer"]
    else:
        values = {
            "setup_s": setup["setup_s"],
            "wall_s": statistics.median(walls),
            "cpu_s": statistics.median(bench.pass_cpu),
            "peak_rss_mb": peak / MB,
        }
        wanted = spec["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
