"""Benchmark: three closed-loop query workloads on the engine.

    python3 perfbench/run.py --workload <relational|python_udf|driver_stream>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One client issues the workload's queries one
after another on ``local[nproc]``. A run generates its fixture from the
seed, starts the session, makes one cold pass over the queries, then warm
passes until ``--seconds`` have passed since the first warm pass began (at
least MIN_WARM_PASSES), checks every query's output against its DuckDB
oracle and prints one JSON line. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` makes an untraced run in a child process, then a
traced run in this one, and reports the per-layer metrics (see README.md).
Everything the run writes goes under ``.perfbench_work/`` in the working
directory; a traced run leaves its event log and spans in
``.perfbench_work/trace-<workload>/``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(os.getcwd(), ".perfbench_work")

# Sizes are set by the time budget: one run must stay near 40 s on 4 cores
# (set-up ~9 s, a cold pass, three warm passes, the check). The larger
# fixtures keep frame building small against execution on the two
# execution-bound workloads; driver_stream stays at 1x because its time is
# per-job and per-batch overhead, not data.
WORKLOADS: dict[str, dict] = {
    "relational": {
        "factor": 10,
        "queries": [
            "q01_pricing_summary", "q03_shipping_priority", "q05_local_supplier_volume", "q_salted_join",
        ],
    },
    "python_udf": {
        "factor": 5,
        "queries": [
            "q_dedup_minhash", "q_dedup_simhash", "q_kvjob_wordcount",
            "q_pipes_native_wordcount", "q_multimodal_decode",
        ],
    },
    "driver_stream": {
        "factor": 1,
        "queries": [
            "q_sparse_allpairs", "q_kmeans", "q_stream_dedup", "q_bucketed_ctas",
            "q_db_count_pageview",
        ],
    },
}
MIN_WARM_PASSES = 3
MAX_WINDOW_S = 90  # keeps a run under the 180 s limit whatever --seconds says
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings"]


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(run_dir: str) -> None:
    """Point every temporary location of the run (Python, JVM, Derby, Spark) into run_dir."""
    import tempfile

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())  # session.py defaults to 32
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"  # no hsperfdata files in /tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in [ROOT, os.environ.get("PYTHONPATH")] if p)
    os.chdir(run_dir)


def session_conf(run_dir: str) -> dict[str, str]:
    tmp = os.path.join(run_dir, "tmp")
    return {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.local.dir": tmp,
        # -Xms = the 2g -Xmx: a heap that grows on its own schedule made
        # peak_rss_mb bimodal from run to run.
        "spark.driver.extraJavaOptions": f"-Xms2g -Djava.io.tmpdir={tmp} -Dderby.system.home={run_dir}",
    }


def open_session(fixture: str, run_dir: str, extra: dict[str, str] | None, excluded: float):
    """Start the session and open the fixture's tables; return (spark, setup_s, start_s).

    setup_s runs from process start minus ``excluded``; start_s is get_spark alone."""
    from hadoop_gpu_spark import get_spark

    t = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf={**session_conf(run_dir), **(extra or {})})
    start_s = time.perf_counter() - t
    for name in TABLES:
        spark.read.parquet(os.path.join(fixture, f"{name}.parquet")).schema
    return spark, time.perf_counter() - T0 - excluded, start_s


def close_session(spark) -> None:
    """Stop Spark and wait until the JVM (and with it every Python worker) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants, from /proc.

    Python processes count their proportional set size (Pss): the workers
    are forked from one daemon and share most pages with it, so summing plain
    RSS counted those pages once per live worker. The JVM shares nothing and
    counts its RSS, which is cheap to read; its smaps costs ~15 ms a sample."""

    def __init__(self, interval: float = 0.1):
        super().__init__(daemon=True)
        self.interval, self.peak, self._done = interval, 0, threading.Event()
        self.page = os.sysconf("SC_PAGE_SIZE")

    def sample(self) -> int:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                try:
                    with open(f"/proc/{entry}/stat") as f:
                        ppid = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue  # the process exited while we listed /proc
                children.setdefault(ppid, []).append(int(entry))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                total += self._resident(pid)
            except (OSError, StopIteration, IndexError, ValueError):
                pass  # the process exited while we read it
        return total

    def _resident(self, pid: int) -> int:
        with open(f"/proc/{pid}/comm") as f:
            if f.read().strip() == "java":
                with open(f"/proc/{pid}/statm") as g:
                    return int(g.read().split()[1]) * self.page
        with open(f"/proc/{pid}/smaps_rollup") as f:
            return next(int(line.split()[1]) for line in f if line.startswith("Pss:")) * 1024

    def run(self):
        while not self._done.wait(self.interval):
            self.peak = max(self.peak, self.sample())

    def stop(self) -> float:
        self._done.set()
        self.join()
        return max(self.peak, self.sample()) / 2**20


def cpu_times() -> tuple[int, int]:
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return sum(vals), vals[3] + vals[4]  # total, idle + iowait


def run_pass(spark, workload: str, queries: list[str], fixture: str, tracer):
    """One closed-loop pass; return ({query: (construct_s, exec_s)}, {query: frame}, {query: error})."""
    from hadoop_gpu_spark.queries import QUERIES

    def phase(q: str, kind: str):
        spark.sparkContext.setJobGroup(f"{workload}/{q}/{kind}", kind, False)
        return tracer.span(kind, q)

    times, frames, errors = {}, {}, {}
    for q in queries:
        try:
            with tracer.span("query", q):
                t0 = time.perf_counter()
                with phase(q, "construct"):
                    df = QUERIES[q](spark, fixture)
                t1 = time.perf_counter()
                with phase(q, "exec"):
                    df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
            times[q], frames[q] = (t1 - t0, t2 - t1), df
        except Exception as e:  # counted in fail_frac; the loop goes on
            errors[q] = f"{type(e).__name__}: {str(e)[:300]}"
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    return times, frames, errors


def measure(spark, args, fixture: str, tracer) -> dict:
    """Cold pass, warm passes for the run's window, then the output check.

    A traced run interleaves untraced and traced warm passes in the order
    u t t u u t ..., so neither half gets all the later, warmer passes; its
    event log is on in both halves."""
    from check import check_outputs

    queries = WORKLOADS[args.workload]["queries"]
    halves = 2 if args.trace else 1
    busy0 = cpu_times()
    passes, errors = [], {}
    while True:
        tracer.enabled = bool(args.trace) and len(passes) % 4 in (2, 3)
        start, t = time.time(), time.perf_counter()
        with tracer.span("pass", str(len(passes))):
            times, frames, errs = run_pass(spark, args.workload, queries, fixture, tracer)
        passes.append({"wall": time.perf_counter() - t, "times": times, "window": (start, time.time()),
                       "traced": tracer.enabled})
        errors.update(errs)
        if len(passes) == 2:
            window_start = t
        if len(passes) > MIN_WARM_PASSES * halves:
            elapsed = time.perf_counter() - window_start
            if elapsed >= args.seconds * halves or elapsed > MAX_WINDOW_S:
                break
    tracer.enabled = False
    busy1 = cpu_times()
    t = time.perf_counter()
    problems = check_outputs({q: frames.get(q) for q in queries}, fixture, errors)
    return {
        "cold": passes[0],
        "warm": [p for p in passes[1:] if not p["traced"]],
        "traced": [p for p in passes[1:] if p["traced"]],
        "problems": problems,
        "check_s": time.perf_counter() - t,
        "host_busy_frac": 1 - (busy1[1] - busy0[1]) / max(1, busy1[0] - busy0[0]),
    }


def end_to_end(m: dict, setup_s: float, peak_rss_mb: float) -> dict:
    per_query: dict[str, list[float]] = {}
    for p in m["warm"]:
        for q, (c, e) in p["times"].items():
            per_query.setdefault(q, []).append(c + e)
    medians = [statistics.median(v) for v in per_query.values()]
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "cold_pass_s": {"value": m["cold"]["wall"], "unit": "s"},
        "warm_pass_s": {"value": statistics.median(p["wall"] for p in m["warm"]), "unit": "s"},
        "query_geomean_s": {"value": math.exp(sum(map(math.log, medians)) / len(medians)), "unit": "s"},
        "peak_rss_mb": {"value": peak_rss_mb, "unit": "MB"},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "hadoop_gpu_spark")):
        print(f"perfbench: no engine sources next to {HERE}; run it from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    import fixtures

    t = time.perf_counter()
    shutil.rmtree(WORK, ignore_errors=True)  # leftovers of earlier runs
    run_dir = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    fixture = os.path.join(run_dir, "fixture")
    fixture_digest = fixtures.generate(fixture, args.seed, WORKLOADS[args.workload]["factor"])
    gen_s = time.perf_counter() - t
    prepare_env(run_dir)

    import tracing

    tracer, extra = tracing.Tracer(), None
    if args.trace:
        trace_dir = os.path.join(WORK, f"trace-{args.workload}")
        os.makedirs(os.path.join(trace_dir, "eventlog"))
        extra = tracing.event_log_conf(os.path.join(trace_dir, "eventlog"))
    rss = RssSampler()
    rss.start()
    spark, setup_s, start_s = open_session(fixture, run_dir, extra, gen_s)
    if args.trace:
        tracer.listen(spark)
        wrapped = tracer.wrap_packages()
    m = measure(spark, args, fixture, tracer)
    if args.trace:
        time.sleep(1.0)  # let the last streaming progress events arrive
    peak_rss_mb = rss.stop()
    close_session(spark)

    import platform

    import pyspark

    queries = WORKLOADS[args.workload]["queries"]
    stamp = {
        "workload": args.workload, "seed": args.seed, "fixture_sha256": fixture_digest,
        "nproc": cores(), "spark": pyspark.__version__, "python": platform.python_version(),
        "host_busy_frac": round(m["host_busy_frac"], 4),
        "pass_s": [round(p["wall"], 3) for p in [m["cold"], *m["warm"], *m["traced"]]],
        "check_s": round(m["check_s"], 3),
        "query_warm_s": {
            q: round(statistics.median(sum(p["times"][q]) for p in m["warm"] if q in p["times"]), 3)
            for q in queries if q not in m["problems"]
        },
        "problems": m["problems"],
    }
    if args.trace:
        import reduce

        tracer.dump(os.path.join(trace_dir, "spans.json"))
        log_dir = extra["spark.eventLog.dir"]
        events = reduce.read_event_log(os.path.join(log_dir, os.listdir(log_dir)[0]))
        metrics = reduce.per_layer(
            events, tracer.spans, tracer.progress, [p["window"] for p in m["traced"]], cores(), start_s,
            statistics.median(p["wall"] for p in m["warm"]),
        )
        stamp["wrapped_functions"] = wrapped
    else:
        metrics = end_to_end(m, setup_s, peak_rss_mb)
    shutil.rmtree(run_dir, ignore_errors=True)
    failed = len(m["problems"])
    print("env " + json.dumps(stamp))
    print(json.dumps({"correct": failed == 0, "attempted": len(queries), "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
