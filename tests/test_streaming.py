"""Streaming invariants the DuckDB oracle can't check (SURVEY.md §5.2)."""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from twitter_kafka_etl_spark.io import read_table
from twitter_kafka_etl_spark.plans import REGISTRY
from twitter_kafka_etl_spark.streaming.stateful import running_user_totals


def test_arrival_batches_validated_and_announced(monkeypatch, capsys):
    """$SPARK_GRAFT_STREAM_BATCHES repoints six registered queries at
    a non-oracle arrival schedule, so a leaked probe-shell value must
    be loud (stderr) and n<1 must fail here, not as a downstream
    ZeroDivisionError (r11 advice)."""
    import pytest

    from twitter_kafka_etl_spark.streaming.queries import _arrival_batches

    monkeypatch.delenv("SPARK_GRAFT_STREAM_BATCHES", raising=False)
    assert _arrival_batches() == 4
    assert "SPARK_GRAFT_STREAM_BATCHES" not in capsys.readouterr().err
    monkeypatch.setenv("SPARK_GRAFT_STREAM_BATCHES", "100")
    assert _arrival_batches() == 100
    assert "non-oracle arrival schedule" in capsys.readouterr().err
    for bad in ("0", "-3"):
        monkeypatch.setenv("SPARK_GRAFT_STREAM_BATCHES", bad)
        with pytest.raises(ValueError, match="need >= 1"):
            _arrival_batches()


def test_probe_densify_requires_provenance_marker(tmp_path):
    """_densify rewrites key/text columns in place — it must refuse any
    directory lacking the .make_sf_scale marker the staging script
    writes, so it can never mutate a dataset it didn't build
    (r11 advice)."""
    import sys

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    scripts = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scripts",
    )
    sys.path.insert(0, scripts)
    try:
        from probe_stream_state import _densify
    finally:
        sys.path.remove(scripts)
    t = pa.table({"doc_id": [1, 1_000_000_001], "text": ["a", "a"]})
    pq.write_table(t, str(tmp_path / "documents.parquet"))
    with pytest.raises(SystemExit, match="provenance"):
        _densify(str(tmp_path))
    # untouched: ids still carry the 1e9 shift
    assert pq.read_table(str(tmp_path / "documents.parquet"))[
        "doc_id"
    ].to_pylist() == [1, 1_000_000_001]


def test_ingest_non_contiguous_id_schedule_matches_oracle(spark, sf_dir):
    """The ingest queries stage arrival by doc_id RANGE buckets; the
    driver corpora have dense contiguous ids, so the committed checks
    never exercise a sparse key space (r11 verdict idle item). Derive a
    corpus with doc_id -> 7*id + 13 (order-preserving, gapped): range
    buckets now cut at points unaligned with row counts, batches are
    uneven, and the first bucket starts nowhere near 0. Both the exact
    (qs12) and near-dup (qs17) ingests must still match their oracles
    bit-for-bit on the derived corpus — the oracle SQL derives its
    width from the same MAX(doc_id), so semantics (not staging luck)
    are what's compared."""
    import tempfile

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from twitter_kafka_etl_spark.plans import REGISTRY
    from twitter_kafka_etl_spark.plans.oracle import compare, duckdb_connection

    # stable derived dir (not pytest tmp): _staged_input caches by path.
    # Cache keyed on the SOURCE corpus identity and written via
    # tmp+atomic-replace (the _write_journal pattern): an exists()-only
    # guard would serve a truncated file forever after an interrupted
    # first write, and stale data after a regenerated source corpus
    # (r12 review).
    gap_dir = os.path.join(
        tempfile.gettempdir(), f"tkes_gapids_{os.path.basename(sf_dir)}"
    )
    os.makedirs(gap_dir, exist_ok=True)
    src_path = os.path.join(sf_dir, "documents.parquet")
    st = os.stat(src_path)
    key = f"{os.path.abspath(src_path)}|{st.st_mtime_ns}:{st.st_size}"
    marker = os.path.join(gap_dir, ".staged")
    out_path = os.path.join(gap_dir, "documents.parquet")
    try:
        with open(marker) as fh:
            cached = fh.read() == key and os.path.exists(out_path)
    except OSError:
        cached = False
    if not cached:
        src = pq.read_table(src_path)
        ids = src["doc_id"].combine_chunks()
        gapped = pc.add(pc.multiply(ids, pa.scalar(7, ids.type)),
                        pa.scalar(13, ids.type))
        pq.write_table(
            src.set_column(
                src.schema.get_field_index("doc_id"),
                src.schema.field("doc_id"),
                gapped,
            ),
            out_path + ".tmp",
        )
        os.replace(out_path + ".tmp", out_path)
        with open(marker, "w") as fh:  # marker LAST
            fh.write(key)
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "embeddings"):
        link = os.path.join(gap_dir, f"{t}.parquet")
        if not os.path.exists(link):
            os.symlink(os.path.join(sf_dir, f"{t}.parquet"), link)
    con = duckdb_connection(gap_dir)
    try:
        for name in (
            "qs12_stream_incremental_dedup",
            "qs17_stream_neardup_ingest",
        ):
            got = REGISTRY[name].build(spark, gap_dir)
            ok, msg = compare(got, con, REGISTRY[name].oracle)
            assert ok, f"{name} on gapped ids: {msg}"
    finally:
        con.close()


INGEST_FOLDS = (
    "qs12_stream_incremental_dedup",
    "qs13_stream_drift_monitor",
    "qs14_stream_novelty",
    "qs15_stream_heavy_hitters",
    "qs16_stream_mixture_monitor",
    "qs17_stream_neardup_ingest",
)


@pytest.mark.parametrize("name", INGEST_FOLDS)
def test_ingest_fold_exactly_once_under_redelivery(
    name, spark, sf_dir, oracle_con, monkeypatch
):
    """foreachBatch delivery is at-least-once: a batch replayed after a
    crash between its side-table writes and the checkpoint commit
    reaches the fold again with the same batch id. Deliver EVERY
    micro-batch to the fold twice; the folds' per-batch overwrite
    partitions and own-batch exclusion must leave exactly-once table
    contents, so each result still hash-matches its oracle."""
    from twitter_kafka_etl_spark.plans.oracle import compare
    from twitter_kafka_etl_spark.streaming import sinks

    fanout = sinks.foreach_batch_fanout

    def twice(stream_df, fold_sinks, checkpoint, **kw):
        doubled = [sink for sink in fold_sinks for _ in range(2)]
        return fanout(stream_df, doubled, checkpoint, **kw)

    monkeypatch.setattr(sinks, "foreach_batch_fanout", twice)
    ok, msg = compare(
        REGISTRY[name].build(spark, sf_dir), oracle_con, REGISTRY[name].oracle
    )
    assert ok, f"{name} with every batch delivered twice: {msg}"


def test_staged_input_restages_on_regenerated_documents(spark, sf_dir, tmp_path):
    """The stream-input cache is keyed on the STAGED table's identity: a
    regenerated documents.parquet at the same path (events.parquet
    untouched) must restage, not serve the previous corpus's
    micro-batches. Checked through qs12, whose oracle reads the
    rewritten table: first half the corpus, then all of it."""
    import pyarrow.parquet as pq

    from twitter_kafka_etl_spark.plans.oracle import compare, duckdb_connection

    sf = tmp_path / f"sf_restage_{os.getpid()}"
    sf.mkdir()
    for name in os.listdir(sf_dir):
        if name.endswith(".parquet") and name != "documents.parquet":
            os.symlink(os.path.join(sf_dir, name), sf / name)
    full = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    spec = REGISTRY["qs12_stream_incremental_dedup"]
    root = os.path.join(tempfile.gettempdir(), f"tkes_stream_qs12_{sf.name}")
    try:
        for docs in (full.slice(0, full.num_rows // 2), full):
            pq.write_table(docs, sf / "documents.parquet")
            con = duckdb_connection(str(sf))
            try:
                ok, msg = compare(spec.build(spark, str(sf)), con, spec.oracle)
            finally:
                con.close()
            assert ok, f"{docs.num_rows} documents: {msg}"
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_staged_input_run_dir_removed_at_exit(tmp_path):
    """A process that builds a streaming query leaves no run dir
    behind: its ``run_<pid>`` sink + checkpoint dir is removed at exit,
    while the cached staged input stays for the next process."""
    import subprocess
    import sys

    code = (
        "import os\n"
        "from twitter_kafka_etl_spark.streaming.queries import _staged_input\n"
        "in_dir, run = _staged_input(os.environ['SF'], 'atexit', 'v1',"
        " lambda d: os.makedirs(os.path.join(d, '__f=0')))\n"
        "print(in_dir)\n"
        "print(run)\n"
    )
    env = dict(os.environ, TMPDIR=str(tmp_path), SF=str(tmp_path / "sf_x"))
    out = subprocess.run(
        [sys.executable, "-c", code], env=env, check=True,
        capture_output=True, text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ).stdout.split()
    in_dir, run = out[-2:]
    assert os.path.basename(run).startswith("run_")
    assert run.startswith(str(tmp_path))
    assert not os.path.exists(run)
    assert os.path.isdir(in_dir)


def test_qs1_kafka_shape_roundtrip(spark, sf_dir):
    out = REGISTRY["qs1_stream_kafka_shape"].build(spark, sf_dir)
    rows = out.collect()
    n_in = read_table(spark, sf_dir, "events").count()
    assert len(rows) == n_in
    r = rows[0]
    # oracle surface: the JSON payload parsed back to typed columns
    assert set(out.columns) == {
        "key", "topic", "event_id", "user_id", "event_type",
        "value", "props", "ts",
    }
    # key = first-2-upper(topic) + event_id (twitter_producer.py:33 shape)
    assert r.key == r.topic[:2].upper() + str(r.event_id)
    assert r.event_type == r.topic
    # lossless round-trip: event time survives JSON encode/decode at µs
    want_ts = {
        (x.event_id, x.ts)
        for x in read_table(spark, sf_dir, "events")
        .select("event_id", "ts").collect()
    }
    got_ts = {(x.event_id, x.ts) for x in rows}
    assert got_ts == want_ts


def test_qs2_window_counts_partition_sum(spark, sf_dir):
    out = REGISTRY["qs2_stream_hourly_partitioned"].build(spark, sf_dir)
    total = out.agg(F.sum("counts")).first()[0]
    assert total == read_table(spark, sf_dir, "events").count()
    # hour-aligned tumbling windows
    misaligned = out.filter(
        (F.minute("window_start") != 0) | (F.second("window_start") != 0)
    ).count()
    assert misaligned == 0


def test_qs3_late_row_dropped(spark, sf_dir):
    out = REGISTRY["qs3_stream_watermark_late_drop"].build(spark, sf_dir)
    # the planted 'late' event arrived 6h behind the watermark: dropped
    assert out.filter(F.col("event_type") == "late").count() == 0
    assert out.count() > 0
    # every emitted window is closed (sliding 2h): end <= max event time
    mx = out.agg(F.max("window_end")).first()[0]
    assert mx is not None


def test_session_window_batch(spark, sf_dir):
    from twitter_kafka_etl_spark.streaming.windows import session_counts

    ev = read_table(spark, sf_dir, "events").limit(500)
    sess = session_counts(ev, gap="30 minutes", keys=("user_id",))
    rows = sess.collect()
    assert rows
    # sessions per user don't overlap
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append((r.session_start, r.session_end))
    for spans in by_user.values():
        spans.sort()
        for (s1, e1), (s2, _e2) in zip(spans, spans[1:]):
            assert e1 <= s2


def test_qs4_dedup_within_watermark(spark, sf_dir):
    """Replayed rows (same event_id) in a later micro-batch are dropped;
    every surviving event_id is unique."""
    out = REGISTRY["qs4_stream_dedup_watermark"].build(spark, sf_dir)
    day = read_table(spark, sf_dir, "events").filter(
        F.to_date("ts") == F.lit("2024-01-02")
    )
    assert out.count() == day.count()  # replays removed, nothing else
    assert out.select("event_id").distinct().count() == out.count()


def test_qs5_multi_sink_consistency(spark, sf_dir):
    """Both sinks receive every micro-batch: raw row count equals the
    input, and the per-batch agg sink's counts sum to the same total."""
    from twitter_kafka_etl_spark.streaming.queries import qs5

    out = REGISTRY["qs5_stream_multi_sink"].build(spark, sf_dir)
    n_in = read_table(spark, sf_dir, "events").count()
    assert out.count() == n_in
    agg = spark.read.parquet(qs5.last_agg_dir)
    assert agg.agg(F.sum("counts")).first()[0] == n_in
    assert agg.select("batch_id").distinct().count() > 1  # true multi-batch


def test_q28_session_window_matches_oracle_shape(spark, sf_dir):
    """Batch session windows: counts sum to the input size and sessions
    per user don't overlap (complements the DuckDB hash check)."""
    out = REGISTRY["q28_session_window"].build(spark, sf_dir)
    assert out.agg(F.sum("counts")).first()[0] == read_table(
        spark, sf_dir, "events"
    ).count()


def test_stateful_running_totals(spark, sf_dir):
    """applyInPandasWithState carries state across micro-batches."""
    root = os.path.join(tempfile.gettempdir(), "tkes_stateful")
    shutil.rmtree(root, ignore_errors=True)
    ev = read_table(spark, sf_dir, "events").select("user_id", "value", "ts")
    # two files → two micro-batches
    ev.filter(F.dayofmonth("ts") <= 15).coalesce(1).write.parquet(f"{root}/in/f00")
    ev.filter(F.dayofmonth("ts") > 15).coalesce(1).write.parquet(f"{root}/in/f01")
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{root}/in/*")
    )
    q = (
        running_user_totals(stream)
        .writeStream.format("parquet")
        .option("checkpointLocation", f"{root}/ckpt")
        .option("path", f"{root}/out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.read.parquet(f"{root}/out")
    # last emission per user equals the batch ground truth
    final = (
        out.groupBy("user_id").agg(F.max("total_events").alias("total_events"))
    )
    truth = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    joined = final.join(truth, "user_id")
    mismatch = joined.filter(F.col("total_events") != F.col("cnt")).count()
    assert mismatch == 0


def test_checkpoint_resume_exactly_once(spark, sf_dir):
    """T2/T3 — restarting a stream against the same checkpoint picks up
    only NEW files: every input row lands in the sink exactly once
    across the two runs (the reference relies on this, consumer.scala:76,
    but never verifies it)."""
    import os
    import shutil
    import tempfile

    root = os.path.join(tempfile.gettempdir(), "tkes_resume")
    shutil.rmtree(root, ignore_errors=True)
    ev = read_table(spark, sf_dir, "events").select("event_id", "ts", "user_id")

    def add_file(i: int, frac_lo: int, frac_hi: int) -> None:
        (
            ev.filter(F.pmod("event_id", F.lit(4)).between(frac_lo, frac_hi))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(root, "in", f"f{i:02d}"))
        )

    def run_stream() -> None:
        q = (
            spark.readStream.schema(ev.schema)
            .parquet(os.path.join(root, "in", "*"))
            .writeStream.format("parquet")
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .option("path", os.path.join(root, "out"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    add_file(0, 0, 0)
    add_file(1, 1, 1)
    run_stream()
    n_first = spark.read.parquet(os.path.join(root, "out")).count()
    assert n_first == ev.filter(F.pmod("event_id", F.lit(4)) <= 1).count()

    # second run: two new files; the old ones must NOT be reprocessed
    add_file(2, 2, 2)
    add_file(3, 3, 3)
    run_stream()
    out = spark.read.parquet(os.path.join(root, "out"))
    assert out.count() == ev.count()
    assert out.select("event_id").distinct().count() == ev.count()


def test_complete_mode_memory_sink(spark, sf_dir):
    """T1 — processingTime trigger + complete output mode + memory sink:
    the whole aggregate table is re-emitted per batch and matches the
    batch ground truth after processAllAvailable."""
    import os
    import shutil
    import tempfile

    root = os.path.join(tempfile.gettempdir(), "tkes_complete")
    shutil.rmtree(root, ignore_errors=True)
    ev = read_table(spark, sf_dir, "events").select("event_id", "ts", "event_type")
    ev.coalesce(1).write.parquet(os.path.join(root, "in", "f00"))
    stream = (
        spark.readStream.schema(ev.schema)
        .parquet(os.path.join(root, "in", "*"))
    )
    agg = stream.groupBy("event_type").agg(F.count(F.lit(1)).alias("counts"))
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("tkes_complete_out")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r.event_type: r.counts
            for r in spark.sql("SELECT * FROM tkes_complete_out").collect()
        }
    finally:
        q.stop()
    truth = {
        r.event_type: r.cnt
        for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    assert got == truth


def test_rate_source_drives_streaming_plan(spark):
    """QS harness alternative: the rate source drives the same
    Kafka-shape plan with zero files — proof the plans are
    source-agnostic (swap in read_kafka_stream unchanged)."""
    from twitter_kafka_etl_spark.io import rate_stream
    from twitter_kafka_etl_spark.streaming.windows import kafka_shaped

    shaped = kafka_shaped(
        rate_stream(spark, rows_per_second=500),
        key_col=F.col("value") % 10,
        topic_col=F.lit("rate"),
    )
    q = (
        shaped.writeStream.format("memory")
        .queryName("tkes_rate_out")
        .outputMode("append")
        .start()
    )
    try:
        import time

        deadline = time.time() + 20
        n = 0
        while time.time() < deadline:
            n = spark.sql("SELECT count(*) c FROM tkes_rate_out").first().c
            if n > 0:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    assert n > 0
    row = spark.sql("SELECT * FROM tkes_rate_out LIMIT 1").first()
    assert set(["key", "value", "topic"]) == set(row.asDict().keys())


def test_stateful_ttl_evicts_idle_user_state(spark):
    """Event-time TTL bounds the state store: a user idle past the TTL
    (by watermark time) is evicted, so its state restarts when it
    reappears — the property that keeps qs6 viable on an unbounded key
    space (NoTimeout would grow state forever)."""
    import datetime

    from twitter_kafka_etl_spark.streaming.queries import _order_files

    root = os.path.join(tempfile.gettempdir(), "tkes_stateful_ttl")
    shutil.rmtree(root, ignore_errors=True)

    def ts(s):
        return datetime.datetime.fromisoformat(s)

    batches = [
        # user 1: three events, then idle for > TTL
        [(1, 1.0, ts("2024-01-01 10:00:00")),
         (1, 2.0, ts("2024-01-01 11:00:00")),
         (1, 3.0, ts("2024-01-01 12:00:00"))],
        # user 2 advances event time 2 months
        [(2, 5.0, ts("2024-03-01 00:00:00"))],
        # user 2 again: watermark (2024-03-01 - 1h) now exceeds user 1's
        # timeout (last seen + 7 days) and user 1 has no data in this
        # batch -> its state times out and is removed
        [(2, 6.0, ts("2024-03-05 00:00:00"))],
        # user 1 reappears: fresh state
        [(1, 9.0, ts("2024-03-10 00:00:00"))],
    ]
    schema = "user_id bigint, value double, ts timestamp"
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{root}/in/f{i:02d}"
        )
    _order_files(f"{root}/in")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{root}/in/*")
    )
    q = (
        running_user_totals(stream, watermark="1 hour", ttl="7 days")
        .writeStream.format("parquet")
        .option("checkpointLocation", f"{root}/ckpt")
        .option("path", f"{root}/out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.read.parquet(f"{root}/out").collect()
    by_user = {}
    for r in out:
        by_user.setdefault(r.user_id, []).append(r)
    u1 = sorted(by_user[1], key=lambda r: r.last_ts)
    # pre-idle snapshot carried 3 events; post-eviction restart carries 1
    assert [r.total_events for r in u1] == [3, 1]
    assert u1[-1].total_value == 9.0
    # user 2 was never idle past TTL: totals accumulate across batches
    u2 = sorted(by_user[2], key=lambda r: r.last_ts)
    assert [r.total_events for r in u2] == [1, 2]
    assert u2[-1].total_value == 11.0


def test_stateful_ttl_below_watermark_rejected(spark):
    """A TTL shorter than the watermark delay could place timeout
    timestamps at/below the watermark — rejected at construction."""
    import pytest

    schema = "user_id bigint, value double, ts timestamp"
    stream = (
        spark.readStream.schema(schema)
        .parquet("/tmp/tkes_never_started/*")  # construction only
    )
    with pytest.raises(ValueError, match="ttl"):
        running_user_totals(stream, watermark="2 days", ttl="1 day")


def test_external_sink_generic_adapter(spark, sf_dir):
    """The S6 adapter delivers micro-batches to any named DataSource
    with idempotence stamping — exercised with the parquet format
    standing in for a document store (same writer surface)."""
    from twitter_kafka_etl_spark.streaming.sinks import (
        external_sink,
        foreach_batch_fanout,
    )

    root = os.path.join(tempfile.gettempdir(), "tkes_ext_sink")
    shutil.rmtree(root, ignore_errors=True)
    ev = read_table(spark, sf_dir, "events").select("event_id", "event_type")
    ev.filter("event_id % 2 = 0").coalesce(1).write.parquet(f"{root}/in/f00")
    ev.filter("event_id % 2 = 1").coalesce(1).write.parquet(f"{root}/in/f01")
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{root}/in/*")
    )
    sink = external_sink(
        "parquet", {"path": f"{root}/out"}, idempotent_key="_batch_id"
    )
    q = foreach_batch_fanout(stream, [sink], checkpoint=f"{root}/ckpt")
    q.awaitTermination()
    got = spark.read.parquet(f"{root}/out")
    assert got.count() == ev.count()
    assert got.select("_batch_id").distinct().count() == 2  # per-batch stamp


def test_state_partitions_scale_with_volume(spark):
    from twitter_kafka_etl_spark.session import default_parallelism
    from twitter_kafka_etl_spark.streaming.queries import _state_partitions

    small = spark.range(100)
    assert _state_partitions(small) == 8
    assert _state_partitions(small, big_rows=50) == default_parallelism()


def test_qs8_interval_join_matches_batch(spark):
    """The streaming interval join emits exactly the batch join's pairs —
    cross-batch matches come out of the join buffers, not luck."""
    from twitter_kafka_etl_spark.io import read_table_time_range
    from twitter_kafka_etl_spark.plans import REGISTRY

    # sf0.001's single staged day has zero click->purchase pairs within
    # 2h — the equality would pass vacuously; sf0.01 has real matches
    sf_dir = "/root/testdata/sf0.01"

    got = sorted(
        (r.user_id, r.click_id, r.purchase_id)
        for r in REGISTRY["qs8_stream_interval_join"].build(spark, sf_dir).collect()
    )
    ev = read_table_time_range(
        spark, sf_dir, "events", "2024-01-02 00:00:00", "2024-01-03 00:00:00"
    )
    c = ev.filter("event_type = 'click'").selectExpr(
        "user_id", "event_id AS click_id", "ts AS click_ts"
    )
    p = ev.filter("event_type = 'purchase'").selectExpr(
        "user_id AS u2", "event_id AS purchase_id", "ts AS purchase_ts"
    )
    want = sorted(
        (r.user_id, r.click_id, r.purchase_id)
        for r in c.join(
            p,
            (c.user_id == p.u2)
            & (p.purchase_ts >= c.click_ts)
            & (p.purchase_ts <= c.click_ts + F.expr("INTERVAL 2 HOURS")),
        ).collect()
    )
    assert got == want and len(got) > 0


def test_qs9_stream_static_enrich_matches_batch(spark, sf_dir):
    from twitter_kafka_etl_spark.io import read_table, read_table_time_range
    from twitter_kafka_etl_spark.plans import REGISTRY

    got = {
        (r.event_id, r.c_mktsegment)
        for r in REGISTRY["qs9_stream_static_enrich"].build(spark, sf_dir).collect()
    }
    ev = read_table_time_range(
        spark, sf_dir, "events", "2024-01-02 00:00:00", "2024-01-03 00:00:00"
    ).select("event_id", "user_id")
    dim = read_table(spark, sf_dir, "customer").selectExpr(
        "c_custkey AS user_id", "c_mktsegment"
    )
    want = {
        (r.event_id, r.c_mktsegment)
        for r in ev.join(dim, "user_id", "left").collect()
    }
    assert got == want and len(got) > 0


def test_qs13_stream_psi_equals_batch_psi(spark, sf_dir):
    """The accumulated micro-batch counts must fold into EXACTLY the
    batch psi_drift rows — the stream/batch equivalence the monitor's
    accumulate-then-PSI decomposition claims."""
    from twitter_kafka_etl_spark.io import read_table
    from twitter_kafka_etl_spark.operators import curation as C
    from twitter_kafka_etl_spark.plans import REGISTRY

    streamed = {
        r.bucket: (r.n_base, r.n_cand, r.psi_term)
        for r in REGISTRY["qs13_stream_drift_monitor"]
        .build(spark, sf_dir)
        .collect()
    }
    docs = read_table(spark, sf_dir, "documents")
    cohort = F.when(
        F.expr("CAST(substring(source, 4) AS INT)") < 10, "base"
    ).otherwise("cand")
    batch = {
        r.bucket: (r.n_base, r.n_cand, r.psi_term)
        for r in C.psi_drift(docs, cohort).collect()
    }
    assert streamed == batch and len(streamed) == 16


def test_qs14_novelty_monotone_and_matches_first_occurrence(spark, sf_dir):
    from twitter_kafka_etl_spark.io import read_table
    from twitter_kafka_etl_spark.operators import dedup as D
    from twitter_kafka_etl_spark.plans import REGISTRY

    rows = sorted(
        REGISTRY["qs14_stream_novelty"].build(spark, sf_dir).collect(),
        key=lambda r: r.batch,
    )
    assert [r.batch for r in rows] == [0, 1, 2, 3]
    # batch 0 has no history: everything it carries is novel
    assert rows[0].n_novel == rows[0].n_sh
    # the accumulated novel counts must total the corpus's distinct
    # shingle-hash count (every hash is novel exactly once)
    docs = read_table(spark, sf_dir, "documents")
    total = (
        D.shingle(docs)
        .select(D.token_hash60(F.col("shingle")).alias("h"))
        .distinct()
        .count()
    )
    assert sum(r.n_novel for r in rows) == total


def test_qs15_merged_sketch_equals_whole_build_and_exact_output(spark, sf_dir):
    """The accumulated per-batch count-min cells must merge into
    EXACTLY the whole-corpus sketch (cell-wise additivity is the
    streaming-state claim), and the confirmed output must equal the
    plain groupBy+HAVING."""
    from twitter_kafka_etl_spark.io import read_table
    from twitter_kafka_etl_spark.operators import sketches as K
    from twitter_kafka_etl_spark.plans import REGISTRY
    from twitter_kafka_etl_spark.plans.extensions import _HH_T

    got = {
        (r.user_id, r.counts)
        for r in REGISTRY["qs15_stream_heavy_hitters"]
        .build(spark, sf_dir)
        .collect()
    }
    ev = read_table(spark, sf_dir, "events")
    want = {
        (r.user_id, r.counts)
        for r in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("counts"))
        .filter(F.col("counts") >= _HH_T)
        .collect()
    }
    assert got == want and len(got) > 0
    # cell-level identity: the monitor's summed cells == one-shot build
    import glob
    import tempfile

    sf_name = os.path.basename(os.path.normpath(sf_dir))
    cells_dirs = glob.glob(
        os.path.join(
            tempfile.gettempdir(),
            f"tkes_stream_qs15_{sf_name}",
            f"run_{os.getpid()}",
            "cells",
        )
    )
    assert cells_dirs
    merged = {
        (r.depth, r.cell, r.counts)
        for r in spark.read.parquet(cells_dirs[0])
        .groupBy("depth", "cell")
        .agg(F.sum("counts").alias("counts"))
        .collect()
    }
    whole = {
        (r.depth, r.cell, r.counts)
        for r in K.count_min_build(
            ev.select("user_id"), "user_id"
        ).collect()
    }
    assert merged == whole


def test_qs16_stream_mixture_matches_batch_and_final_horizon(spark, sf_dir):
    """The final batch horizon's cumulative weights must equal the
    whole-corpus x86 mixture exactly (the streaming fold sees every
    doc once), per-horizon weights must sum to 1, and horizons must be
    the 4 id-range buckets with monotonically growing token totals."""
    from twitter_kafka_etl_spark.io import read_table
    from twitter_kafka_etl_spark.operators import curation as C
    from twitter_kafka_etl_spark.plans import REGISTRY

    rows = REGISTRY["qs16_stream_mixture_monitor"].build(spark, sf_dir).collect()
    batches = sorted({r.batch for r in rows})
    assert batches == [0, 1, 2, 3]
    for b in batches:
        assert abs(sum(r.temp_weight for r in rows if r.batch == b) - 1.0) < 1e-4
    tok_by_batch = [
        sum(r.cum_tokens for r in rows if r.batch == b) for b in batches
    ]
    assert tok_by_batch == sorted(tok_by_batch) and tok_by_batch[0] > 0
    final = {
        r.source: (r.cum_docs, r.cum_tokens, r.temp_weight, r.boost)
        for r in rows
        if r.batch == batches[-1]
    }
    docs = read_table(spark, sf_dir, "documents")
    batch = {
        r.source: (r.n_docs, r.n_tokens, r.temp_weight, r.boost)
        for r in C.mixture_temperature(docs).collect()
    }
    assert final == batch


def test_qs17_stream_equals_batch_recursion(spark, sf_dir):
    """The streamed kept set must equal a batch replay of the
    kept-history recursion: batch 0 keeps all its first-occurrence
    docs, batch i keeps exactly the first-occurrence docs sharing no
    fingerprint and no MinHash band bucket with any EARLIER-KEPT doc —
    the stream/batch equivalence the accumulated index claims."""
    from pyspark.sql import Window

    from twitter_kafka_etl_spark.io import read_table
    from twitter_kafka_etl_spark.operators import dedup as D
    from twitter_kafka_etl_spark.plans import REGISTRY

    streamed = {
        (r.doc_id, r.batch)
        for r in REGISTRY["qs17_stream_neardup_ingest"]
        .build(spark, sf_dir)
        .collect()
    }

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    width = (docs.agg(F.max("doc_id")).first()[0] or 0) // 4 + 1
    lab = docs.select(
        "doc_id",
        "text",
        (F.col("doc_id") / width).cast("bigint").alias("bk"),
        F.md5("text").alias("fp"),
    )
    w = Window.partitionBy("bk", "fp").orderBy("doc_id")
    cand = (
        lab.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .collect()
    )
    bands = {}
    for r in D.band_rows(
        D.minhash_signatures(D.shingle(docs))
    ).collect():
        bands.setdefault(r.doc_id, set()).add((r.band, r.sig))

    kept, kept_fps, kept_bands = set(), set(), set()
    for i in range(4):
        batch = [r for r in cand if r.bk == i]
        level = {
            (r.doc_id, r.bk)
            for r in batch
            if r.fp not in kept_fps
            and not (bands.get(r.doc_id, set()) & kept_bands)
        }
        kept |= level
        kept_fps |= {r.fp for r in batch if (r.doc_id, r.bk) in level}
        for r in batch:
            if (r.doc_id, r.bk) in level:
                kept_bands |= bands.get(r.doc_id, set())
    assert streamed == kept
    # the history gate actually fires: some candidate was rejected
    assert len(streamed) < len(cand)


def test_qs17_window_dedup_runs_once_per_batch(spark, sf_dir, tmp_path, monkeypatch):
    """r14 regression guard: the fold's window dedup must execute
    exactly once per micro-batch — in the novel checkpoint — and the
    kept set must build from that checkpoint, not re-run the window.
    Before the fix, the kept plan contained the full window subtree
    (exchange + sorts) a second time, shuffling every batch twice.
    Asserted on the steady-state plan taps: the novel plan carries the
    one hash exchange and window; the kept plan carries neither."""
    from twitter_kafka_etl_spark.plans import REGISTRY

    monkeypatch.setenv("SPARK_GRAFT_PLAN_TAP", str(tmp_path))
    out = REGISTRY["qs17_stream_neardup_ingest"].build(spark, sf_dir)
    out.collect()
    novel = (tmp_path / "qs17_novel.txt").read_text()
    kept = (tmp_path / "qs17_kept.txt").read_text()
    assert novel.count("Arguments: hashpartitioning") == 1
    assert "Window" in novel
    assert "Arguments: hashpartitioning" not in kept
    assert "Window" not in kept
    # the kept plan starts from the pinned (checkpointed) novel frame
    assert "Scan ExistingRDD" in kept
