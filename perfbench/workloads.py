"""The four workloads, driven through the engine's public functions.

Each workload has ``prepare`` (untimed: inputs, references, artifacts)
and either ``iterate`` (serve, curate, fold: one full pipeline pass per
call, repeated for the run's seconds) or ``stream`` (ingest: one open-loop
phase and a series of backlog drains). Every engine call sits in a
``tracer.span``; with tracing off the spans cost nothing. Outputs are
checked against references built outside Spark (``reference.py``); each
check that fails counts one failed operation.
"""

from __future__ import annotations

import json
import os
import threading
import time

from perfbench import gen, harness, reference


class Workload:
    name = ""
    #: rows one operation processes, for ``rows_per_s``
    rows = 0

    def __init__(self, ctx):
        self.ctx = ctx

    def span(self, name: str):
        return self.ctx.tracer.span(name)

    def input_counts(self) -> dict:
        """What ``gen.write_all`` writes for this workload."""
        return {}

    def write_inputs(self) -> None:
        c = self.ctx
        t0 = time.perf_counter()
        c.input_digest = gen.write_all(c.seed, c.inputs, **self.input_counts())
        c.input_gen_s += time.perf_counter() - t0

    def layer_metrics(self) -> dict:
        return {}


class Serve(Workload):
    """Stages 3-5 of ``examples/end_to_end.py``: enrich documents with two
    learned-weight classifiers, join them to events, aggregate per topic,
    land the result in two parquet sinks, unpivot and hand off to pandas.
    """

    name = "serve"
    n_events = 50_000
    n_docs = 1_000

    def input_counts(self) -> dict:
        return {"n_docs": self.n_docs, "n_events": self.n_events}

    def prepare(self) -> None:
        from twitter_kafka_etl_spark.operators.model_artifact import (
            save_artifact,
            train_linear_classifier,
        )
        from twitter_kafka_etl_spark.pipeline import EMOTIONS, SENTIMENTS

        c = self.ctx
        self.write_inputs()
        self.rows = self.n_events
        model_dir = os.path.join(c.work, "models")
        os.makedirs(model_dir, exist_ok=True)
        self.artifacts = []
        self.emotions = list(EMOTIONS)
        # three short texts of each label's generator words per label
        for name, labels in (("sentiment", SENTIMENTS), ("emotion", EMOTIONS)):
            texts = [" ".join(gen.LABEL_WORDS[l][i:i + 3]) for l in labels for i in range(3)]
            ys = [l for l in labels for _ in range(3)]
            path = os.path.join(model_dir, f"{name}.npz")
            save_artifact(train_linear_classifier(texts * 10, ys * 10), path)
            self.artifacts.append(path)
        self.expected = reference.topic_counts(c.inputs)

    def iterate(self, out_dir: str) -> dict:
        from pyspark.sql import functions as F

        from twitter_kafka_etl_spark.io import read_table, to_pandas, write_partitioned
        from twitter_kafka_etl_spark.operators import relational as R
        from twitter_kafka_etl_spark.operators.model_artifact import linear_model_backend
        from twitter_kafka_etl_spark.operators.text import enrich_text
        from twitter_kafka_etl_spark.pipeline import EMOTIONS, topic_aggregates

        c, span = self.ctx, self.span
        with span("io.read_table"):
            events = read_table(c.spark, c.inputs, "events")
        with span("io.read_table"):
            raw_docs = read_table(c.spark, c.inputs, "documents")
        with span("operators.model_artifact.linear_model_backend"):
            sent = linear_model_backend(self.artifacts[0])
            emo = linear_model_backend(self.artifacts[1])
        with span("operators.text.enrich_text"):
            docs = enrich_text(raw_docs, sentiment_backend=sent, emotion_backend=emo)
        with span("serve.count_docs"):
            n_docs = docs.count()
        enriched = (
            events.withColumn("doc_id", F.pmod("event_id", F.lit(n_docs)))
            .join(F.broadcast(docs.select("doc_id", "sentiment", "emotion")), "doc_id")
            .withColumnRenamed("event_type", "topic")
        )
        with span("pipeline.topic_aggregates"):
            serving = topic_aggregates(enriched)
        sinks = [os.path.join(out_dir, "serving_a"), os.path.join(out_dir, "serving_b")]
        for path in sinks:
            with span("io.write_partitioned"):
                write_partitioned(serving, path, [])
        with span("operators.relational.unpivot_long"):
            long = R.unpivot_long(
                serving.select("topic_agg", *EMOTIONS), ["topic_agg"], EMOTIONS,
                "emotion", "counts",
            )
        with span("io.to_pandas"):
            pdf = to_pandas(long)
        return {"sinks": sinks, "pdf": pdf}

    def check(self, out: dict) -> int:
        return reference.check_serve(self.expected, out["sinks"], out["pdf"], self.emotions)


class Curate(Workload):
    """The curation decision: quality filter, exact and near-duplicate
    detection, cluster keepers, split assignment and sequence packing,
    ending in one partitioned sink."""

    name = "curate"
    n_docs = 1_000

    def input_counts(self) -> dict:
        return {"n_docs": self.n_docs}

    def prepare(self) -> None:
        c = self.ctx
        self.write_inputs()
        self.rows = self.n_docs
        with open(os.path.join(c.inputs, "truth.json")) as fh:
            truth = json.load(fh)
        self.exact_drops = set(truth["exact_drops"])
        self.low_quality = set(truth["low_quality"])
        self.digests: set[str] = set()
        self.pairs = 0

    def iterate(self, out_dir: str) -> dict:
        from pyspark.sql import functions as F

        from twitter_kafka_etl_spark.io import read_table, write_partitioned
        from twitter_kafka_etl_spark.operators import curation as C
        from twitter_kafka_etl_spark.operators import dedup as D
        from twitter_kafka_etl_spark.operators.text import quality_features

        c, span = self.ctx, self.span
        with span("io.read_table"):
            docs = read_table(c.spark, c.inputs, "documents", rebalance=True)
        with span("operators.text.quality_features"):
            scored = quality_features(docs).filter(F.col("quality_score") >= gen.QUALITY_MIN)
        with span("operators.dedup.exact_duplicates"):
            exact = D.exact_duplicates(scored)
        uniq = scored.join(
            exact.select(F.col("keeper_id").alias("doc_id")), "doc_id", "left_semi"
        )
        with span("operators.dedup.shingle"):
            sh = D.shingle(uniq)
        with span("operators.dedup.minhash_signatures"):
            sigs = D.minhash_signatures(sh)
        with span("operators.dedup.minhash_lsh_pairs"):
            pairs = D.minhash_lsh_pairs(sigs)
        with span("operators.dedup.connected_components"):
            comps = D.connected_components(pairs, nodes=uniq.select("doc_id"))
        with span("operators.curation.select_keepers"):
            keep = C.select_keepers(scored, comps).filter(F.col("keep"))
        kept = scored.join(keep.select("doc_id"), "doc_id", "left_semi")
        with span("operators.curation.split_assign"):
            split = C.split_assign(kept.select("doc_id", "source", "n_tokens"), "doc_id")
        with span("operators.curation.pack_sequences"):
            packed = C.pack_sequences(split, "n_tokens", 2048, ["split"], ["doc_id"])
        sink = os.path.join(out_dir, "curated")
        with span("curate.action"), span("io.write_partitioned"):
            write_partitioned(packed, sink, ["split"])
        return {"sink": sink, "scored": scored, "exact": exact, "pairs": pairs}

    def check(self, out: dict) -> int:
        fails = 0
        with self.span("curate.check"):
            scored_ids = {r[0] for r in out["scored"].select("doc_id").collect()}
            keepers = {r[0] for r in out["exact"].select("keeper_id").collect()}
            if self.ctx.tracer.enabled:
                self.pairs = out["pairs"].count()
        if scored_ids != set(range(self.n_docs)) - self.low_quality:
            fails += 1
        if scored_ids - keepers != self.exact_drops:
            fails += 1
        digest, ok = reference.curated_digest(out["sink"], scored_ids - self.exact_drops)
        fails += not ok
        self.digests.add(digest)
        if len(self.digests) > 1:
            fails += 1
        return fails

    def layer_metrics(self) -> dict:
        return {"operators.dedup.minhash_lsh_pairs.pairs": self.pairs}


class Fold(Workload):
    """The registered ``qs17_stream_neardup_ingest`` fold over
    ``batches`` id-range micro-batches, drained with availableNow."""

    name = "fold"
    n_docs = 800
    batches = 4
    #: side-table compaction fires once per drain at this setting
    compact_every = 2

    def input_counts(self) -> dict:
        return {"n_docs": self.n_docs}

    def prepare(self) -> None:
        c = self.ctx
        self.write_inputs()
        self.rows = self.n_docs
        os.environ["SPARK_GRAFT_STREAM_BATCHES"] = str(self.batches)
        os.environ["SPARK_GRAFT_SIDE_COMPACT_EVERY"] = str(self.compact_every)
        self.expected = reference.qs17_kept(c.inputs, self.batches)
        self.side: dict = {}

    def iterate(self, out_dir: str) -> dict:
        from twitter_kafka_etl_spark.plans import REGISTRY

        c, span = self.ctx, self.span
        # the engine stages the stream input once per input path and
        # reuses it; a fresh path per iteration makes every iteration,
        # the warm-up included, stage it (one job before the first
        # trigger) and so do the same work
        src = os.path.join(out_dir, "inputs")
        link = os.path.join(src, "documents.parquet")
        os.makedirs(src)
        os.link(os.path.join(c.inputs, "documents.parquet"), link)
        with span("fold.build"):
            df = REGISTRY["qs17_stream_neardup_ingest"].build(c.spark, src)
        # read by now; left in place, it would count as a sink file
        os.remove(link)
        with span("fold.collect"):
            rows = {(r[0], r[1]) for r in df.collect()}
        work = _work_dir_of(df.inputFiles())
        return {"rows": rows, "work": work, "batches": reference.checkpoint_batches(
            os.path.join(work, "ckpt"))}

    def check(self, out: dict) -> int:
        self.side = reference.side_tables(out["work"], self.n_docs, self.batches)
        return int(out["rows"] != self.expected) + int(len(out["batches"]) != self.batches)


def _work_dir_of(files: list[str]) -> str:
    path = files[0].replace("file://", "", 1)
    while os.path.basename(path) != "corpus":
        parent = os.path.dirname(path)
        if parent == path:
            raise RuntimeError(f"no side table above {files[0]}")
        path = parent
    return os.path.dirname(path)


class Ingest(Workload):
    """The raw layer: Kafka-wire JSON files arrive on an open-loop schedule;
    a stream with the default trigger parses them, derives date and hour,
    and appends date/hour-partitioned parquet. Then fixed backlogs of
    files are dropped at once and their drains timed."""

    name = "ingest"
    events_per_file = 50
    #: open-loop arrival rate in files per second. A batch's time grows with
    #: the files it holds and the files a batch holds grow with the batch
    #: time, so near the sustainable rate latency swings with host speed;
    #: this rate is about a third of what the backlog drains sustain.
    rate = 10.0
    #: open-loop files at least: every file is one latency sample
    min_open = harness.P90_MIN_SAMPLES
    backlog_files = 60
    n_backlogs = 2
    #: files of the untimed warm-up stream, on the open-loop schedule: the
    #: driver's per-batch work (listing, planning, commits) takes about ten
    #: batches to reach its steady speed
    warm_files = 30

    def __init__(self, ctx):
        super().__init__(ctx)
        self.n_open = max(self.min_open, int(self.rate * ctx.seconds))

    def input_counts(self) -> dict:
        return {"n_files": self.n_open + self.n_backlogs * self.backlog_files,
                "events_per_file": self.events_per_file}

    def prepare(self) -> None:
        c = self.ctx
        self.write_inputs()
        wire = os.path.join(c.inputs, "wire")
        self.files = []
        for name in sorted(os.listdir(wire)):
            with open(os.path.join(wire, name), "rb") as fh:
                self.files.append(fh.read())
        self.rows = self.events_per_file * self.backlog_files
        self.passes = 0

    def check_wire_shape(self) -> int:
        """The generator's wire lines equal what ``kafka_shaped`` with
        ``construct_key`` makes from the same rows."""
        from pyspark.sql import functions as F

        from twitter_kafka_etl_spark.functions.scalar import construct_key
        from twitter_kafka_etl_spark.streaming.windows import kafka_shaped

        lines = [json.loads(x) for x in self.files[0].splitlines()[:50]]
        rows = [json.loads(x["value"]) for x in lines]
        df = self.ctx.spark.createDataFrame(rows).select(
            "event_id", "ts", "user_id", "event_type", "value", "props")
        with self.span("functions.scalar.construct_key"):
            key = construct_key("event_type", "event_id")
        with self.span("streaming.windows.kafka_shaped"):
            wire = kafka_shaped(df, key, F.col("event_type"))
        got = [(r.key, r.topic, json.loads(r.value)) for r in wire.collect()]
        want = [(x["key"], x["topic"], json.loads(x["value"])) for x in lines]
        return int(got != want)

    def stream(self, n_open: int, n_backlogs: int) -> dict:
        """One stream over fresh directories: ``n_open`` files on the
        open-loop schedule, then ``n_backlogs`` backlog drains."""
        from pyspark.sql.types import StringType, StructField, StructType

        from twitter_kafka_etl_spark.functions.scalar import derive_date_hour, parse_json_col
        from twitter_kafka_etl_spark.io import write_stream_partitioned

        c = self.ctx
        base = os.path.join(c.work, f"ingest-{self.passes}")
        self.passes += 1
        run = {"in": os.path.join(base, "in"), "stage": os.path.join(base, "stage"),
               "raw": os.path.join(base, "raw"), "ckpt": os.path.join(base, "ckpt"),
               "due": {}, "drains": [], "late_s": 0.0, "n_files": 0}
        for d in (run["in"], run["stage"]):
            os.makedirs(d)
        wire_schema = StructType([StructField(n, StringType()) for n in ("key", "value", "topic")])
        event_ddl = ("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
                     "value DOUBLE, props STRING")
        src = c.spark.readStream.schema(wire_schema).json(run["in"])
        with self.span("functions.scalar.parse_json_col"):
            parsed = src.select(parse_json_col("value", event_ddl).alias("e")).select("e.*")
        with self.span("functions.scalar.derive_date_hour"):
            dated = derive_date_hour(parsed, "ts")
        with self.span("io.write_stream_partitioned"):
            q = write_stream_partitioned(dated, run["raw"], run["ckpt"], ["date", "hour"],
                                         available_now=False)
        try:
            if n_open:
                with self.span("ingest.open_loop"):
                    self._open_loop(run, n_open)
                    self._wait_committed(q, run)
            for _ in range(n_backlogs):
                with self.span("ingest.backlog_drain"):
                    ks = range(run["n_files"], run["n_files"] + self.backlog_files)
                    staged = [self._stage(run, k) for k in ks]
                    # renames only: one listing sees the whole backlog
                    t0 = time.time()
                    names = [self._publish(run, name) for name in staged]
                    self._wait_committed(q, run)
                    run["drains"].append({"t0": t0, "names": names})
        finally:
            q.stop()
        run["progress"] = [json.loads(p.json) for p in q.recentProgress]
        return run

    def _stage(self, run: dict, k: int) -> str:
        """Write file ``k`` beside the stream's input directory."""
        name = f"part-{k:05d}.json"
        with open(os.path.join(run["stage"], name), "wb") as fh:
            fh.write(self.files[k])
        return name

    def _publish(self, run: dict, name: str) -> str:
        """Move a staged file into the input directory, atomically."""
        os.rename(os.path.join(run["stage"], name), os.path.join(run["in"], name))
        run["n_files"] += 1
        return name

    def _open_loop(self, run: dict, n_open: int) -> None:
        """Writes file k at t0 + k / rate from a separate thread, whatever
        the stream is doing; records how late each write ran."""
        t0 = time.time() + 0.2
        late = []

        def deliver() -> None:
            for k in range(n_open):
                due = t0 + k / self.rate
                staged = self._stage(run, k)
                pause = due - time.time()
                if pause > 0:
                    time.sleep(pause)
                name = self._publish(run, staged)
                late.append(time.time() - due)
                run["due"][name] = due

        t = threading.Thread(target=deliver, name="perfbench-generator")
        t.start()
        t.join(timeout=n_open / self.rate + 60)
        if t.is_alive():
            raise RuntimeError("open-loop generator did not finish")
        run["late_s"] = max(late)

    def _wait_committed(self, q, run: dict, timeout_s: float = 120) -> None:
        """Until the checkpoint's file log holds every delivered file."""
        end = time.time() + timeout_s
        while time.time() < end:
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            batches = reference.checkpoint_batches(run["ckpt"])
            if sum(len(b["files"]) for b in batches) >= run["n_files"]:
                return
            time.sleep(0.02)
        raise RuntimeError("ingest stream did not commit its input in time")

    def samples(self, run: dict) -> dict:
        """Per-file latency (commit time minus due time; every event of a
        file shares it) and the drain throughput of each backlog."""
        batches = reference.checkpoint_batches(run["ckpt"])
        commit_of = {}
        for b in batches:
            for f in b["files"]:
                commit_of[os.path.basename(f)] = b["committed"]
        return {
            "latencies": [commit_of[n] - due for n, due in run["due"].items()],
            "rows_per_s": [
                self.events_per_file * len(d["names"])
                / (max(commit_of[n] for n in d["names"]) - d["t0"])
                for d in run["drains"]
            ],
        }

    def check(self, run: dict) -> int:
        """Events lost or duplicated, per (date, hour)."""
        want = reference.wire_hour_counts(run["in"])
        got = reference.raw_hour_counts(run["raw"])
        truth = gen.hour_counts(self.files[:run["n_files"]])
        diff = sum(abs(got.get(k, 0) - v) for k, v in want.items())
        diff += sum(v for k, v in got.items() if k not in want)
        return diff + int(want != truth)


WORKLOADS = {w.name: w for w in (Ingest, Serve, Curate, Fold)}

