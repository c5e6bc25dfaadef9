"""Run one benchmark workload, check its outputs, print its metrics.

Usage (from the repository root):

    python3 perfbench/run.py --workload interactive-sf0.1 --seed 1 \
        --seconds 15 --trace 0

One command is one run in a fresh process: it starts the engine's
session, runs a cold pass of the workload's ops, its warm-up passes and
then the measured warm passes that fit in ``--seconds``, and checks every
op's cold-pass output against its DuckDB oracle outside the timed region. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics of BENCHMARK.json; ``--trace 1`` wraps the
engine's layers, reports the per-layer metrics and writes a span file.
Everything the run writes stays under ``perfbench/.work``.

The run itself happens in a child process. The command's process is its
subreaper: every process the run starts and leaves behind (the PySpark
daemon and its workers outlive the JVM; the oracle process leaves a
``multiprocessing`` resource tracker) becomes its child, and it stops
and waits for each before it exits.
"""

from __future__ import annotations

import argparse
import ctypes
import glob
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import tracing  # noqa: E402
from check import OracleChecker  # noqa: E402
from workloads import SF, WORKLOADS, run_passes  # noqa: E402

# Row counts of the input tables; a directory that differs is refused
# before anything is timed.
INPUT_ROWS = {
    "lineitem": 600_000,
    "orders": 150_000,
    "customer": 15_000,
    "part": 20_000,
    "supplier": 1_000,
    "nation": 25,
    "region": 5,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
WARMUP_QUERY = "s1_scan_project_filter"
# Set in the child process that makes the run.
IN_CHILD = "PERFBENCH_RUN_CHILD"
PR_SET_CHILD_SUBREAPER = 36


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def process_start_epoch(pid: int) -> float:
    """Wall-clock time process ``pid`` was started, from /proc."""
    with open(f"/proc/{pid}/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def pin_environment() -> int:
    """One client thread on ``local[cores]``, with every scratch directory
    inside the checkout. Must run before pyspark is imported."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        JDK_JAVA_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    return cores


def input_dir() -> str:
    """The ``SF`` directory beside the engine's default one, with its
    tables' row counts checked."""
    import pyarrow.parquet as pq

    from accident_prediction_montreal_spark.sources.registry import DEFAULT_SF_DIR

    sf_dir = os.path.join(os.path.dirname(DEFAULT_SF_DIR.rstrip("/")), SF)
    for table, rows in INPUT_ROWS.items():
        path = os.path.join(sf_dir, f"{table}.parquet")
        got = pq.read_metadata(path).num_rows if os.path.exists(path) else None
        if got != rows:
            raise SystemExit(f"input {path}: expected {rows} rows, found {got}")
    return sf_dir


def remove_op_scratch() -> None:
    """Remove the directories ops write under TMPDIR (``spark_graft_*``,
    the engine's convention), so every pass writes its output anew as the
    cold pass does, instead of resuming from the last pass's files."""
    for d in glob.glob(os.path.join(os.environ["TMPDIR"], "spark_graft_*")):
        shutil.rmtree(d)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and the Python workers it
    started) to exit."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


class Runner:
    """Runs ops on one session; with a tracer, records their spans."""

    def __init__(self, spark, sf_dir, registry, cachereg, checker, tracer=None):
        self.spark = spark
        self.sc = spark.sparkContext
        self.sf_dir = sf_dir
        self.registry = registry
        self.cachereg = cachereg
        self.checker = checker
        self.tracer = tracer
        self.problems: dict[str, list[str]] = {}
        self.op_spans: list[tuple[int, int]] = []  # (pass index, op span id)
        self.after_op: list[tuple[int, float]] = []  # persisted RDDs, storage MB
        if tracer is not None:
            self.jvm_pid = self.sc._gateway.proc.pid
            tracing.drain_listener_bus(self.sc)
            self.job_cursor = tracing.next_job_id(self.sc, 0)
            self.stream = {"batches": 0, "trigger_s": 0.0, "commit_s": 0.0}
            spark.streams.addListener(tracing.make_streaming_listener(self.stream))

    def run_op(self, name: str, pass_index: int) -> dict:
        rec = {"op": name, "pass": pass_index, "ok": True}
        if self.tracer is None:
            df = self._timed(name, rec)
        else:
            df = self._traced(name, pass_index, rec)
        if pass_index == 0 and df is not None:
            t0 = time.perf_counter()
            try:
                found = self.checker.problems(self.registry[name].oracle, df)
            except Exception as e:  # a failing check is a failed op
                found = [f"check raised {e!r}"[:500]]
            rec["check_s"] = time.perf_counter() - t0
            if found:
                self.problems[name] = found
                rec["ok"] = False
        self.spark.catalog.clearCache()
        self.cachereg.release_all()
        remove_op_scratch()
        if self.tracer is not None:
            # the check's jobs belong to no op
            tracing.drain_listener_bus(self.sc)
            self.job_cursor = tracing.next_job_id(self.sc, self.job_cursor)
            jsc = self.sc._jsc
            storage = sum(i.memSize() + i.diskSize() for i in jsc.sc().getRDDStorageInfo())
            self.after_op.append((jsc.getPersistentRDDs().size(), storage / 2**20))
        return rec

    def _timed(self, name: str, rec: dict):
        t0 = time.perf_counter()
        try:
            df = self.registry[name].fn(self.spark, self.sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
        except Exception as e:
            rec.update(ok=False, error=repr(e)[:500])
            return None
        rec.update(build_s=t1 - t0, action_s=t2 - t1, latency_s=t2 - t0)
        return df

    def _traced(self, name: str, pass_index: int, rec: dict):
        tr = self.tracer
        cpu0 = tracing.python_worker_cpu_s(self.jvm_pid)
        overhead0 = tr.overhead_s
        df = None
        with tr.span(name, "op") as op:
            try:
                with tr.phase("build", "plans") as build:
                    c0 = time.process_time()
                    df = self.registry[name].fn(self.spark, self.sf_dir)
                    build.attrs["py_cpu_s"] = time.process_time() - c0
                with tr.phase("action", "exec"):
                    df.write.format("noop").mode("overwrite").save()
            except Exception as e:
                rec.update(ok=False, error=repr(e)[:500])
                df = None
        if df is not None:
            build_s = build.duration
            rec.update(build_s=build_s, action_s=op.duration - build_s, latency_s=op.duration)
        tracing.drain_listener_bus(self.sc)
        tr.add_jobs(tracing.read_jobs(self.sc, self.job_cursor), op)
        op.attrs.update(
            {
                "exec.python_worker_cpu_s": tracing.python_worker_cpu_s(self.jvm_pid) - cpu0,
                "streaming.batches": self.stream["batches"],
                "streaming.trigger_s": self.stream["trigger_s"],
                "streaming.commit_s": self.stream["commit_s"],
                "trace_overhead_s": tr.overhead_s - overhead0,
            }
        )
        self.stream.update(batches=0, trigger_s=0.0, commit_s=0.0)
        self.op_spans.append((pass_index, op.id))
        return df


def measure(spark, sf_dir, workload, args, tracer):
    """Run the workload's passes; with a tracer, inside wrapped layers."""
    from accident_prediction_montreal_spark import cachereg
    from accident_prediction_montreal_spark.plans import REGISTRY

    checker = OracleChecker(sf_dir, os.path.join(WORK, "oracle-cache.json"))
    checker.prefetch(REGISTRY[op].oracle for w in WORKLOADS.values() for op in w.ops)
    undo = tracing.install(tracer) if tracer is not None else []
    try:
        runner = Runner(spark, sf_dir, REGISTRY, cachereg, checker, tracer)
        passes = run_passes(
            workload.ops, args.seed, workload.warm_passes(args.seconds), runner.run_op
        )
    finally:
        tracing.uninstall(undo)
        checker.close()
    return runner, passes


def pass_time(records) -> float:
    """A pass's time: the sum of its ops' latencies, so the benchmark's
    own checks and cleanup never count."""
    return sum(r.get("latency_s", 0.0) for r in records)


def end_to_end(setup_s: float, passes, warmup_passes: int) -> dict[str, float]:
    """The end-to-end metrics from the setup time and the pass records
    (cold pass first, then ``warmup_passes`` warm-up passes, which no
    metric uses)."""
    warm = passes[1 + warmup_passes :]
    return {
        "setup_s": setup_s,
        "pass_s": statistics.median(pass_time(records) for records in warm),
        # The ops differ in cost by 10x, so a median or percentile over
        # a few passes jumps between neighbouring ops; the geometric mean
        # weighs every op's latency alike and moves smoothly.
        "query_geomean_s": statistics.geometric_mean(
            r["latency_s"] for records in warm for r in records if r["ok"]
        ),
    }


def per_layer(runner: Runner, session: dict, cores: int, passes, warmup_passes: int) -> dict[str, float]:
    """Per-layer metrics: session times and the cold pass's time, then
    totals per measured warm pass, averaged over those passes."""
    tr = runner.tracer
    warm_ops = {op for p, op in runner.op_spans if p > warmup_passes}
    n_warm = len({p for p, _ in runner.op_spans if p > warmup_passes})
    spans = [s for s in tr.spans if s.op in warm_ops]
    totals = tracing.summarize(spans, cores)
    m = {k: v / n_warm for k, v in totals.items()}
    if totals.get("op_s"):
        m["exec.slot_utilization"] = totals["exec.slot_utilization"]
    m.update(session)
    # One cold pass a run is one sample, the one most exposed to a noisy
    # host: it is a per-layer signal, not a bounded metric.
    m["first_pass_s"] = pass_time(passes[0])
    m["cachereg.persisted_rdds_after_op"] = max(n for n, _ in runner.after_op)
    m["cachereg.storage_mb_after_op"] = max(mb for _, mb in runner.after_op)
    m["mem.jvm_peak_rss_mb"] = tracing.peak_rss_mb(runner.jvm_pid)
    m["mem.py_peak_rss_mb"] = tracing.peak_rss_mb()
    return m


def result_line(metrics: dict, wanted: list[dict], correct: bool, attempted: int, failed: int) -> dict:
    """The result object: exactly the metrics ``wanted`` names,
    in its units; a metric the run did not produce reads 0."""
    return {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            w["name"]: {"value": float(metrics.get(w["name"], 0.0)), "unit": w["unit"]}
            for w in wanted
        },
    }


def child_pids() -> list[int]:
    """This process's children, ended ones included, from /proc."""
    me = os.getpid()
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # ended meanwhile
        if ppid == me:
            pids.append(int(entry))
    return pids


def reap_all(grace_s: float = 10.0) -> None:
    """Stop every child of this process and wait until each has ended:
    SIGTERM first, SIGKILL after ``grace_s``. Children that start meanwhile
    (a stopped parent's orphans) are stopped in turn."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return  # no child left
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in child_pids():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


def supervise(argv: list[str]) -> int:
    """Make the run in a child process; then stop and wait for every
    process the run left behind, on every way out."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    child = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), *argv],
        env=dict(os.environ, **{IN_CHILD: "1"}),
    )
    try:
        code = child.wait()
    finally:
        if child.poll() is None:
            child.kill()
            child.wait()
        reap_all()
    return code if code >= 0 else 128 - code


def main(argv=None) -> int:
    # setup_s counts from the start of the process the command started
    t_start = process_start_epoch(os.getppid() if os.environ.get(IN_CHILD) else os.getpid())
    steal0, total0 = cpu_ticks()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    workload = WORKLOADS[args.workload]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    if not os.path.isdir(os.path.join(ROOT, "accident_prediction_montreal_spark")):
        print("engine package not found beside perfbench/", file=sys.stderr)
        return 2
    cores = pin_environment()
    sys.path.insert(0, ROOT)

    from accident_prediction_montreal_spark.plans import REGISTRY
    from accident_prediction_montreal_spark.session import get_session

    t1 = time.time()
    sf_dir = input_dir()  # checked inputs are not setup
    prep_s = time.time() - t1
    t2 = time.time()
    spark = get_session("perfbench")
    t3 = time.time()
    try:
        REGISTRY[WARMUP_QUERY].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        t4 = time.time()
        session = {
            "session.import_s": t1 - t_start,
            "session.jvm_start_s": t3 - t2,
            "session.warmup_s": t4 - t3,
        }
        tracer = None
        if args.trace:
            sc = spark.sparkContext

            def set_group(span_id):
                if span_id is None:
                    sc._jsc.clearJobGroup()
                else:
                    sc.setJobGroup(f"{tracing.GROUP_PREFIX}{span_id}", "perfbench")

            tracer = tracing.Tracer(set_group)
        runner, passes = measure(spark, sf_dir, workload, args, tracer)
        records = [r for recs in passes for r in recs]
        failed = sum(not r["ok"] for r in records)
        e2e = end_to_end(sum(session.values()), passes, workload.warmup_passes)
        layers = per_layer(runner, session, cores, passes, workload.warmup_passes) if args.trace else {}
    finally:
        stop_spark(spark)

    import pyspark

    info = {
        "workload": workload.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": cores,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "input_check_s": prep_s,
        "passes": len(passes),
        "first_pass_s": pass_time(passes[0]),
        "failed_op_share": failed / len(records),
        "problems": runner.problems,
        "end_to_end": e2e,
        "per_layer": layers,
        "records": records,
    }
    out_dir = os.path.join(WORK, "out")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{workload.name}-seed{args.seed}-trace{args.trace}")
    if tracer is not None:
        with open(stem + "-spans.json", "w") as f:
            json.dump([vars(s) for s in tracer.spans], f)
    info["run_wall_s"] = time.time() - t_start
    steal1, total1 = cpu_ticks()
    # CPU time the hypervisor gave to other guests: a noisy-host flag
    info["steal_share"] = (steal1 - steal0) / max(total1 - total0, 1)
    with open(stem + ".json", "w") as f:
        json.dump(info, f, indent=1)

    for name, problems in runner.problems.items():
        print(f"FAIL {name}: {'; '.join(problems)}")
    for r in records:
        if "error" in r:
            print(f"ERROR {r['op']} pass {r['pass']}: {r['error']}")
    print(
        f"{workload.name} seed={args.seed} nproc={cores} spark={pyspark.__version__} "
        f"python={platform.python_version()} passes={len(passes)} "
        f"attempted={len(records)} failed={failed} "
        f"failed_op_share={failed / len(records):.4f} input_check_s={prep_s:.3f}"
    )
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = layers if args.trace else e2e
    for w in wanted:
        print(f"  {w['name']} = {values.get(w['name'], 0.0):.6g} {w['unit']}")
    print(json.dumps(result_line(values, wanted, failed == 0, len(records), failed)))
    return 0


if __name__ == "__main__":
    raise SystemExit(main() if os.environ.get(IN_CHILD) else supervise(sys.argv[1:]))
