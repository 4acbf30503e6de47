"""The traced run: per-layer metrics from spans and Spark's status store.

After the untraced pass, ``traced`` runs the same workload again with
spans on, reads jobs, stages and storage from the status store once the
pass is over, and folds them into the per-layer metrics listed in
``BENCHMARK.json``. Time metrics are per operation (one pipeline
iteration, one fold drain, or the whole ingest stream); a layer the
workload does not exercise reports 0. It ends with one single-thread
``local[1]`` pass, recorded as a baseline.
"""

from __future__ import annotations

import os
import statistics
import time

from perfbench import harness, reference
from perfbench.trace import Tracer, attribute_jobs, collect_status, subtree_jobs, union_length

DEDUP = ("exact_duplicates", "shingle", "minhash_signatures", "minhash_lsh_pairs",
         "connected_components")
CURATION = ("select_keepers", "split_assign", "pack_sequences")
STREAM_PHASES = {
    "stream.latest_offset_ms": "latestOffset",
    "stream.query_planning_ms": "queryPlanning",
    "stream.add_batch_ms": "addBatch",
    "stream.wal_commit_ms": "walCommit",
    "stream.commit_offsets_ms": "commitOffsets",
}

#: every per-layer metric, in the order BENCHMARK.json lists them
PER_LAYER = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.driver_gap_s": "s",
    "spark.executor_run_ms": "ms", "spark.executor_cpu_ms": "ms", "spark.jvm_gc_ms": "ms",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "cache.persisted_frames": "count", "cache.storage_mb": "MiB",
    "session.get_spark_s": "s",
    "io.read_table.s": "s", "io.read_table.calls": "count",
    "io.write_partitioned.s": "s", "io.sink.files": "count", "io.sink.bytes": "bytes",
    "io.to_pandas.s": "s",
    **{k: "ms" for k in STREAM_PHASES},
    "stream.batches": "count", "stream.rows_per_batch": "rows",
    "io.sink.hour_partitions_per_batch": "count",
    "operators.text.enrich_text.executor_run_ms": "ms",
    "operators.model_artifact.linear_model_backend.s": "s",
    "pipeline.topic_aggregates.s": "s", "pipeline.topic_aggregates.shuffle_bytes": "bytes",
    **{f"operators.dedup.{f}.{m}": u for f in DEDUP for m, u in (("s", "s"), ("jobs", "count"))},
    **{f"operators.curation.{f}.{m}": u for f in CURATION for m, u in (("s", "s"), ("jobs", "count"))},
    "operators.dedup.minhash_lsh_pairs.pairs": "count",
    "curate.action_s": "s",
    "fold.build_s": "s", "fold.jobs_per_batch": "count",
    "stream.add_batch_p90_ms": "ms", "stream.add_batch_slope_ms": "ms",
    "streaming.side_state.live_rows": "rows", "streaming.side_state.files": "count",
    "streaming.side_state.bytes": "bytes", "streaming.side_state.compactions": "count",
    "bench.generator_late_s": "s", "bench.tracing_overhead_s": "s",
    "bench.input_gen_s": "s", "bench.local1_rows_per_s": "rows/s",
}


def slope(ys: list[float]) -> float:
    """Least-squares slope of ``ys`` over their index."""
    n = len(ys)
    if n < 2:
        return 0.0
    mx = (n - 1) / 2
    my = sum(ys) / n
    return sum((i - mx) * (y - my) for i, y in enumerate(ys)) / sum((i - mx) ** 2 for i in range(n))


class _FoldProgress:
    """Collects trigger progress of the fold's streams. The fold runs on a
    cloned session whose listener bus is its own, so a listener is added
    to each clone as the engine creates it."""

    def __init__(self):
        self.batches: list[dict] = []
        self._orig = None

    def __enter__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        from twitter_kafka_etl_spark.streaming import queries

        sink = self.batches

        class Capture(StreamingQueryListener):
            def onQueryStarted(self, e):
                pass

            def onQueryProgress(self, e):
                p = e.progress
                sink.append({"batchId": p.batchId, "durationMs": dict(p.durationMs),
                             "numInputRows": p.numInputRows})

            def onQueryIdle(self, e):
                pass

            def onQueryTerminated(self, e):
                pass

        self._orig = orig = queries._pinned_session

        def pinned(spark, n):
            s = orig(spark, n)
            s.streams.addListener(Capture())
            return s

        queries._pinned_session = pinned
        return self

    def __exit__(self, *exc):
        from twitter_kafka_etl_spark.streaming import queries

        queries._pinned_session = self._orig
        time.sleep(0.5)  # the listener bus delivers asynchronously


def _per_op(total: float, n_ops: int) -> float:
    return total / n_ops if n_ops else 0.0


def traced(wl, ctx, untraced: dict, setup: dict, conf: dict) -> tuple[dict, dict]:
    """Traced pass (one operation, which must issue the untraced pass's job
    count), per-layer metrics, then the ``local[1]`` pass. Returns
    (metrics, extra record fields)."""
    sc = ctx.spark.sparkContext
    tracer = Tracer(True, f"traced-{os.getpid()}", sc)
    ctx.tracer = tracer
    ref = untraced["jobs"][0] if untraced["jobs"] else None
    try:
        if wl.name == "fold":
            with _FoldProgress() as fp:
                res = harness.run_pass(wl, ctx, 0, warm=False, max_iters=1, ref_jobs=ref)
            progress = fp.batches
        else:
            res = harness.run_pass(wl, ctx, 0, warm=False, max_iters=1, ref_jobs=ref)
            progress = res["run"]["progress"] if wl.name == "ingest" else []
    finally:
        ctx.tracer = Tracer(False, "off")
    progress = [p for p in progress if p["numInputRows"] > 0]  # idle triggers
    status = collect_status(sc)
    m = {k: 0.0 for k in PER_LAYER}
    spans = tracer.spans
    direct = attribute_jobs(tracer, status["jobs"])
    tops = [s for s in spans if s["name"] in (f"{wl.name}.iteration", "ingest.pass")]
    n_ops = len(tops)
    jobs = [j for s in tops for j in subtree_jobs(tracer, direct, s["id"])]
    for key in ("stages", "tasks", "executor_run_ms", "executor_cpu_ms", "jvm_gc_ms",
                "shuffle_read_bytes", "shuffle_write_bytes"):
        m[f"spark.{key}"] = _per_op(sum(j[key] for j in jobs), n_ops)
    m["spark.jobs"] = _per_op(len(jobs), n_ops)
    gaps = []
    for s in tops:
        busy = [(max(j["submitted"], s["start"]), min(j["completed"] or s["end"], s["end"]))
                for j in subtree_jobs(tracer, direct, s["id"]) if j["submitted"]]
        gaps.append((s["end"] - s["start"]) - union_length([b for b in busy if b[1] > b[0]]))
    m["spark.driver_gap_s"] = _per_op(sum(gaps), n_ops)
    m["cache.persisted_frames"] = status["persisted_frames"]
    m["cache.storage_mb"] = status["storage_mb"]
    m["session.get_spark_s"] = setup["get_spark_s"]

    def dur(name: str) -> float:
        return _per_op(sum(s["end"] - s["start"] for s in spans if s["name"] == name), n_ops)

    def calls(name: str) -> list[dict]:
        return [s for s in spans if s["name"] == name]

    def jobs_of(name: str) -> list[dict]:
        return [j for s in calls(name) for j in subtree_jobs(tracer, direct, s["id"])]

    m["io.read_table.s"] = dur("io.read_table")
    m["io.read_table.calls"] = _per_op(len(calls("io.read_table")), n_ops)
    m["io.write_partitioned.s"] = dur("io.write_partitioned")
    m["io.to_pandas.s"] = dur("io.to_pandas")
    m["io.sink.files"] = statistics.median(res["sink_files"]) if res["sink_files"] else 0
    m["io.sink.bytes"] = statistics.median(res["sink_bytes"]) if res["sink_bytes"] else 0
    for key, phase in STREAM_PHASES.items():
        m[key] = harness.quantile([p["durationMs"].get(phase, 0) for p in progress], 0.5)
    m["stream.batches"] = _per_op(len(progress), n_ops)
    m["stream.rows_per_batch"] = harness.quantile([p["numInputRows"] for p in progress], 0.5)
    add = [p["durationMs"].get("addBatch", 0) for p in progress]
    m["stream.add_batch_p90_ms"] = harness.quantile(add, 0.9)
    if wl.name == "ingest":
        parts = reference.sink_hour_partitions(res["run"]["raw"])
        m["io.sink.hour_partitions_per_batch"] = harness.quantile(list(parts.values()), 0.5)
        m["bench.generator_late_s"] = untraced["run"]["late_s"]
    if wl.name == "serve":
        # the first sink write is the first action that runs the classifiers
        firsts = [next(c for c in spans if c["parent"] == s["id"]
                       and c["name"] == "io.write_partitioned") for s in tops]
        first_jobs = [j for s in firsts for j in subtree_jobs(tracer, direct, s["id"])]
        m["operators.text.enrich_text.executor_run_ms"] = _per_op(
            sum(j["executor_run_ms"] for j in first_jobs), n_ops)
        m["pipeline.topic_aggregates.shuffle_bytes"] = _per_op(
            sum(j["shuffle_write_bytes"] for j in first_jobs), n_ops)
    m["operators.model_artifact.linear_model_backend.s"] = dur(
        "operators.model_artifact.linear_model_backend")
    m["pipeline.topic_aggregates.s"] = dur("pipeline.topic_aggregates")
    for group, fns in (("dedup", DEDUP), ("curation", CURATION)):
        for f in fns:
            name = f"operators.{group}.{f}"
            m[f"{name}.s"] = dur(name)
            m[f"{name}.jobs"] = _per_op(len(jobs_of(name)), n_ops)
    m["curate.action_s"] = dur("curate.action")
    if wl.name == "fold":
        m["fold.build_s"] = dur("fold.build")
        m["fold.jobs_per_batch"] = _per_op(m["spark.jobs"], wl.batches)
        # one least-squares slope per drain, over batch index; their mean
        drains, cur = [], []
        for p in progress:
            if p["batchId"] == 0 and cur:
                drains.append(cur)
                cur = []
            cur.append(p["durationMs"].get("addBatch", 0))
        if cur:
            drains.append(cur)
        m["stream.add_batch_slope_ms"] = statistics.mean(slope(d) for d in drains) if drains else 0
        for key, value in wl.side.items():
            m[f"streaming.side_state.{key}"] = value
    m.update(wl.layer_metrics())
    m["bench.tracing_overhead_s"] = (harness.quantile(res["latencies"], 0.5)
                                     - harness.quantile(untraced["latencies"], 0.5))
    m["bench.input_gen_s"] = ctx.input_gen_s

    # single-thread baseline: a fresh local[1] session in the same JVM;
    # ingest's is one backlog drain, which is all its rows_per_s needs
    ctx.spark.stop()
    os.environ["SPARK_GRAFT_CPUS"] = "1"
    ctx.spark = harness.start_session(conf, master="local[1]")
    if wl.name == "ingest":
        wl.n_open, wl.n_backlogs = 0, 1
    one = harness.run_pass(wl, ctx, 0, warm=False, max_iters=1)
    m["bench.local1_rows_per_s"] = statistics.median(one["rows_per_s"])

    metrics = {k: {"value": float(v), "unit": PER_LAYER[k]} for k, v in m.items()
               if k in PER_LAYER}
    selfs = tracer.self_times()
    extra = {
        "attempted": res["attempted"] + one["attempted"],
        "failed": res["failed"] + one["failed"],
        "spans": [{**s, "self_s": selfs[s["id"]]} for s in spans],
        "traced_jobs": len(status["jobs"]),
    }
    return metrics, extra
