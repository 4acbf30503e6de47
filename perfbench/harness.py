"""Session set-up, iteration hygiene and the measured pass."""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import time

from perfbench.trace import RssSampler, Tracer

#: latency samples a run needs before it reports p90 (10 lie beyond it)
P90_MIN_SAMPLES = 100


class Ctx:
    """What a workload needs: session, tracer, seed, directories."""

    def __init__(self, seed: int, seconds: float, work: str):
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.inputs = os.path.join(work, "inputs", f"seed{seed}")
        self.spark = None
        self.tracer = Tracer(False, "off")
        self.input_gen_s = 0.0
        self.input_digest = ""


def session_conf(work: str, trace: bool) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the JVM's own temp files and perf counters would land in /tmp.
        # A fixed young generation: with G1 sizing it adaptively, how much
        # heap the driver had touched by the timed region, and so its peak
        # RSS, moved by a fifth between runs of one workload
        "spark.driver.defaultJavaOptions": (
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData -Xmn256m"),
    }
    if trace:
        conf.update({"spark.ui.retainedJobs": "20000", "spark.ui.retainedStages": "20000"})
    return conf


def start_session(conf: dict, master: str | None = None):
    """``get_spark`` plus a first trivial action."""
    from twitter_kafka_etl_spark.session import get_spark

    spark = get_spark("perfbench", master=master, extra_conf=conf)
    spark.range(1).count()
    return spark


def setup_session(conf: dict) -> tuple[object, dict]:
    """The run's one session set-up, cold: importing the engine, launching
    the JVM through ``get_spark`` and a first trivial action. Returns the
    session and ``{"setup_s", "get_spark_s"}``."""
    t0 = time.perf_counter()
    from twitter_kafka_etl_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf=conf)
    t1 = time.perf_counter()
    spark.range(1).count()
    return spark, {"setup_s": time.perf_counter() - t0, "get_spark_s": t1 - t0}


def stop_engine(spark, timeout_s: float = 60) -> None:
    """Stop the session, then the driver JVM, and wait until the JVM has
    ended. Closing its stdin is PySpark's own signal for it to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def hygiene(spark) -> None:
    """Drop every cached frame and persisted RDD through the public API."""
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def quantile(xs: list[float], q: float) -> float:
    """Quantile ``q`` of ``xs`` (linear interpolation, as numpy's default)."""
    if not xs:
        return 0.0
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def sink_stats(root: str) -> tuple[int, int]:
    """(parquet files, bytes) under ``root``."""
    files = size = 0
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def _ingest_pass(wl, ctx, warm: bool, res: dict) -> dict:
    res["attempted"] += 1
    res["failed"] += wl.check_wire_shape()
    if warm:
        run = wl.stream(wl.warm_files, 0)
        res["attempted"] += wl.events_per_file * run["n_files"]
        res["failed"] += wl.check(run)
    with RssSampler([os.getpid(), jvm_pid()]) as rss:
        with ctx.tracer.span("ingest.pass"):
            run = wl.stream(wl.n_open, wl.n_backlogs)
    res["rss_peak_mb"] = rss.peak_mb
    res["rss_peak_by_pid"] = rss.peak_by_pid
    s = wl.samples(run)
    res.update(latencies=s["latencies"], rows_per_s=s["rows_per_s"], run=run)
    res["attempted"] += wl.events_per_file * run["n_files"]
    res["failed"] += wl.check(run)
    files, size = sink_stats(run["raw"])
    res["sink_files"].append(files)
    res["sink_bytes"].append(size)
    return res


def run_pass(wl, ctx, seconds: float, warm: bool = True, max_iters: int = 0,
             ref_jobs: int | None = None) -> dict:
    """One measured pass of ``wl`` for ``seconds`` (at least one timed
    operation; at most ``max_iters`` when set). A warm-up operation runs
    first when ``warm``; it is checked and counted but not timed.

    Every iteration, the warm-up included, must issue as many Spark jobs
    as the first one (or ``ref_jobs``, an earlier pass's first count): an
    iteration served by state an earlier one left behind (a stale
    ``plan_memo`` entry, say) issues fewer, and counts as failed."""
    res = {"attempted": 0, "failed": 0, "latencies": [], "iter_s": [], "jobs": [],
           "rows_per_s": [], "sink_files": [], "sink_bytes": []}
    if wl.name == "ingest":
        return _ingest_pass(wl, ctx, warm, res)
    spark = ctx.spark
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    passes = os.path.join(ctx.work, "out")
    k = 0

    def one(timed: bool) -> None:
        nonlocal k
        hygiene(spark)
        out_dir = os.path.join(passes, str(k))
        k += 1
        j0 = dag.numTotalJobs()
        t0 = time.perf_counter()
        with ctx.tracer.span(f"{wl.name}.iteration"):
            out = wl.iterate(out_dir)
        dt = time.perf_counter() - t0
        jobs = dag.numTotalJobs() - j0
        res["attempted"] += 1
        res["failed"] += wl.check(out)
        res["jobs"].append(jobs)
        res["failed"] += jobs != (res["jobs"][0] if ref_jobs is None else ref_jobs)
        if timed:
            res["iter_s"].append(dt)
            files, size = sink_stats(out_dir)
            res["sink_files"].append(files)
            res["sink_bytes"].append(size)
            if wl.name == "fold":
                b = out["batches"]
                res["latencies"].extend(x["committed"] - x["triggered"] for x in b)
                res["rows_per_s"].append(wl.rows / (b[-1]["committed"] - b[0]["triggered"]))
            else:
                res["latencies"].append(dt)
                res["rows_per_s"].append(wl.rows / dt)
        shutil.rmtree(out_dir, ignore_errors=True)

    if warm:
        one(False)
    with RssSampler([os.getpid(), jvm_pid()]) as rss:
        end = time.time() + seconds
        while True:
            one(True)
            if time.time() >= end or len(res["iter_s"]) == max_iters:
                break
    res["rss_peak_mb"] = rss.peak_mb
    res["rss_peak_by_pid"] = rss.peak_by_pid
    return res


def end_to_end(res: dict, setup: dict) -> dict:
    return {
        "setup_s": {"value": setup["setup_s"], "unit": "s"},
        "latency_p50_s": {"value": quantile(res["latencies"], 0.5), "unit": "s"},
        "rows_per_s": {"value": statistics.median(res["rows_per_s"]), "unit": "rows/s"},
        "rss_peak_mb": {"value": res["rss_peak_mb"], "unit": "MiB"},
    }
