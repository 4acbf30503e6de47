"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from ``--seed`` under ``.bench_work/`` in
the repository root, starts one engine session at ``local[$(nproc)]``
(``$SPARK_GRAFT_CPUS`` overrides), runs the workload for ``--seconds``,
checks every output, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones in ``BENCHMARK.json``; with ``--trace 1``
the run measures an untraced pass, then a traced pass (spans plus Spark's
job/stage/task/shuffle counts per span), then one single-thread
``local[1]`` pass, and the metrics are the per-layer ones. ``--record
PATH`` also writes the full record (host stamp, calibration kernels,
every metric, the spans) as JSON; ``compare.py`` compares two records.
Every file the run writes stays under ``.bench_work/`` and is removed at
exit. The benchmark runs in a child process; this one, the child
subreaper, waits until every process below it has ended (the driver JVM
and its Python workers included) before it exits.

Workloads (``workloads.py``): ``ingest``, ``serve``, ``curate`` and
``fold``, each a pipeline of the engine's public functions over inputs
``gen.write_all`` writes from the seed.

End-to-end metrics:

- ``setup_s``: the run's one cold session set-up: importing the engine,
  ``get_spark`` (which launches the JVM) and a first trivial action.
  Input generation is excluded and recorded as ``input_gen_s``.
- ``latency_p50_s``: ingest, from the time a wire file was due at the
  open-loop generator until the micro-batch holding it committed (one
  sample per file; every event of a file shares it); fold, from
  micro-batch trigger to commit; serve and curate, one full pipeline
  iteration. The record carries the sample count, and ``latency_p90_s``
  where there are at least 100 samples (ingest).
- ``rows_per_s``: ingest, events per second draining a dropped backlog;
  fold, documents per second over a drain; serve and curate, input rows
  over the iteration time.
- ``rss_peak_mb``: peak summed resident memory of the driver Python
  process, the driver JVM and its Python workers during the timed region.

Failed checks count in ``failed``; ``failed / attempted`` is the record's
``failed_frac``.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: driver heap, well below the RAM of a 15 GiB host (the engine's local
#: default is 24g); local mode runs the executors inside the driver JVM
DRIVER_MEM = "2g"
#: ``prctl`` option: orphans below this process re-parent to it, not to init
PR_SET_CHILD_SUBREAPER = 36
#: how long processes left behind by the benchmark may take to end on
#: their own before they are killed
REAP_GRACE_S = 30.0


def _parse(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description="perfbench: seeded engine workloads")
    ap.add_argument("--workload", required=True, choices=["ingest", "serve", "curate", "fold"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", help="write the full JSON record here")
    ap.add_argument("--child", action="store_true", help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def _environment(work: str) -> None:
    """Point every temporary directory the run uses inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # spark-submit's launcher JVM would write perf counters under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Python workers unpickle engine functions: they import from the root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def _children() -> list[int]:
    """Pids whose parent is this process."""
    me, kids = os.getpid(), []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == me:
            kids.append(int(name))
    return kids


def _reap(grace_s: float) -> None:
    """Wait until this process has no children left, killing those still
    running after ``grace_s``. As child subreaper it inherits every orphan
    below it, so no children means no descendants."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() >= deadline:
            for kid in _children():
                try:
                    os.kill(kid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.02)


def _work_dir(args: argparse.Namespace, pid: int) -> str:
    return os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{pid}")


def _remove_work(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:
        pass


def _supervise(args: argparse.Namespace, argv: list[str]) -> int:
    """Run the benchmark in a child process, then wait for everything it
    started. The child stops the driver JVM and waits for it, but on a
    path that skips that (an error, a kill) the JVM ends only some time
    after the child has exited, and PySpark's worker daemon moves to a
    process group of its own: neither waiting for the child nor for its
    process group would see them end."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    child = subprocess.Popen([sys.executable, os.path.abspath(__file__), *argv, "--child"])
    try:
        code = child.wait()
        return code if code >= 0 else 128 - code
    finally:
        if child.poll() is None:
            child.terminate()
        _reap(REAP_GRACE_S)
        # a child that did not get to its own clean-up leaves its files
        _remove_work(_work_dir(args, child.pid))


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else list(argv)
    args = _parse(argv)
    if not args.child:
        return _supervise(args, argv)
    work = _work_dir(args, os.getpid())
    _environment(work)
    sys.path.insert(0, ROOT)
    from perfbench import host

    stamp = host.stamp(work)
    try:
        return _run(args, work, stamp)
    finally:
        _remove_work(work)


def _run(args, work: str, stamp: dict) -> int:
    from perfbench import harness, host
    from perfbench.workloads import WORKLOADS

    ticks = host.cpu_ticks()
    ctx = harness.Ctx(args.seed, args.seconds, work)
    conf = harness.session_conf(work, bool(args.trace))
    ctx.spark, setup = harness.setup_session(conf)
    try:
        wl = WORKLOADS[args.workload](ctx)
        wl.prepare()
        res = harness.run_pass(wl, ctx, args.seconds)
        lat = res["latencies"]
        record = {"host": stamp, "workload": args.workload, "seed": args.seed,
                  "seconds": args.seconds, "setup": setup,
                  "input_gen_s": ctx.input_gen_s, "input_digest": ctx.input_digest,
                  "latency_samples": len(lat),
                  "iteration_s": res["iter_s"], "iteration_jobs": res["jobs"],
                  "stream_progress": res["run"]["progress"] if "run" in res else [],
                  "rss_peak_by_pid": res["rss_peak_by_pid"],
                  "end_to_end": harness.end_to_end(res, setup),
                  "attempted": res["attempted"], "failed": res["failed"]}
        if args.trace:
            from perfbench import layers

            metrics, extra = layers.traced(wl, ctx, res, setup, conf)
            record["attempted"] += extra.pop("attempted")
            record["failed"] += extra.pop("failed")
            record.update(extra, per_layer=metrics)
        else:
            metrics = record["end_to_end"]
        record["failed_frac"] = record["failed"] / record["attempted"]
        if len(lat) >= harness.P90_MIN_SAMPLES:
            record["latency_p90_s"] = harness.quantile(lat, 0.9)
        record["host"]["steal_share"] = host.steal_share(ticks, host.cpu_ticks())
    finally:
        harness.stop_engine(ctx.spark)
    if args.record:
        with open(args.record, "w") as fh:
            json.dump(record, fh, indent=1, sort_keys=True, default=str)
    _summary(record)
    print(json.dumps({
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": metrics,
    }))
    return 0


def _summary(record: dict) -> None:
    """One ``name value unit`` line per end-to-end figure: the ones
    ``BENCHMARK.json`` lists, then p90 where there are enough samples, the
    sample count and ``failed_frac``."""
    rows = {k: (m["value"], m["unit"]) for k, m in record["end_to_end"].items()}
    if "latency_p90_s" in record:
        rows["latency_p90_s"] = (record["latency_p90_s"], "s")
    rows["latency_samples"] = (record["latency_samples"], "count")
    rows["failed_frac"] = (record["failed_frac"], "ratio")
    for name, (value, unit) in rows.items():
        print(f"{name} {value:.6g} {unit}")


if __name__ == "__main__":
    sys.exit(main())
