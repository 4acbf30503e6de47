"""Streaming query set QS1-QS9 (SURVEY.md §2.12).

DuckDB has no streaming, but every query here ends in a deterministic
batch readback of its checkpointed sink — so each registers a batch-SQL
oracle over that FINAL table (watermark semantics, where they shape the
emitted set, are reproduced in SQL: append mode emits a window only
once the ms-floored watermark passes its end). The pytest suite
additionally asserts the engine-internal invariants (cross-batch state
merging, late-row drops, per-batch sink contents) that a final-table
hash can't see.

Determinism strategy: inputs are staged as time-ordered files and
consumed with ``maxFilesPerTrigger=1`` + ``availableNow`` — each file is
one micro-batch, so watermark advancement (batch N's watermark = max
event time of batch N-1 minus the delay) is a pure function of the
staged data. Results are read back from the checkpointed sink.

Scale notes: these run identically against Kafka sources — swap the file
source for io.read_kafka_stream; the plans don't change. State stores
stay bounded via watermarks (T5), unlike the reference which has no
late-data story at all (consumer.scala:105-122 sleeps an hour and
re-reads a directory).
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from twitter_kafka_etl_spark.functions.scalar import construct_key, derive_date_hour
from twitter_kafka_etl_spark.io import read_table, read_table_time_range
from twitter_kafka_etl_spark.plans.catalog import _register
from twitter_kafka_etl_spark.streaming import windows as W


def _arrival_batches() -> int:
    """Micro-batches the id-range arrival schedule stages (default 4 —
    the committed oracles assume it: qs17's recursion is unrolled to 4
    CTE levels and qs14/qs16/qs17's SQL width is MAX(id)//4+1).
    ``$SPARK_GRAFT_STREAM_BATCHES`` overrides for long-horizon state
    probes (``scripts/probe_stream_state.py`` drives the REGISTERED
    qs12/qs14/qs15/qs17 builders at ~100 batches on a 50× corpus).
    Every id-range ingest fold follows n (all stage through
    ``_stage_id_range``): qs12/qs13/qs15 outputs are
    arrival-schedule-independent; qs14/qs16/qs17 derive their batch
    labels from the same n so outputs stay internally consistent, but
    only n=4 matches the oracle SQL.

    A non-default value is VALIDATED and ANNOUNCED (r11 advice): the
    env var silently repoints six registered queries at a non-oracle
    arrival schedule, so a probe shell's leftover leaking into a bench
    or verification run would otherwise time/hash different plans with
    no trace. Verification fails loudly either way; the stderr line is
    for the bench log, where nothing else would notice. n < 1 raises
    here (n=0 previously surfaced as a ZeroDivisionError downstream).
    """
    n = int(os.environ.get("SPARK_GRAFT_STREAM_BATCHES", "4"))
    if n < 1:
        raise ValueError(
            f"$SPARK_GRAFT_STREAM_BATCHES={n}: need >= 1 micro-batch"
        )
    if n != 4:
        import sys as _sys

        print(
            f"[tkes] SPARK_GRAFT_STREAM_BATCHES={n}: non-oracle arrival "
            "schedule (committed oracles assume 4)",
            file=_sys.stderr,
        )
    return n


def _order_files(in_dir: str) -> None:
    """Force deterministic micro-batch order: FileStreamSource picks files
    by modification time, so staged batches get strictly increasing
    mtimes in directory-name order. Numeric-aware sort: ``__f=10`` must
    arrive after ``__f=9``, not between ``__f=1`` and ``__f=2`` (only
    reachable when a probe stages >10 batches — the default 4 sorted
    identically either way)."""
    import re as _re

    def natkey(name: str):
        return [
            int(t) if t.isdigit() else t for t in _re.split(r"(\d+)", name)
        ]

    base = 1_700_000_000
    for i, d in enumerate(sorted(os.listdir(in_dir), key=natkey)):
        for root_, _dirs, files in os.walk(os.path.join(in_dir, d)):
            for f in files:
                os.utime(os.path.join(root_, f), (base + i * 60, base + i * 60))


def _staged_input(
    sf_dir: str, tag: str, version: str, writer, table: str = "events"
) -> tuple[str, str]:
    """Cache the staged stream input per (sf_dir, tag, version, source
    ``table``) and hand back a FRESH work dir for this run's sink +
    checkpoint.

    The staged files are a pure function of the source tables, so
    re-writing them on every build (as rmtree-then-write did) charged
    the bench input-production cost it would never pay against a real
    topic, on every timed run. ``writer(in_dir)`` runs only when the
    marker is absent or its key changed; the marker is written LAST so
    a crashed partial stage restages. Roots are keyed by the sf name,
    so test (sf0.001) and bench (sf0.1) processes never share a dir;
    concurrent same-sf first-time staging is the one remaining race —
    same as the old behavior on every call.

    The run dir (sink out + checkpoint) is per-PID and wiped per call:
    streaming state/offsets must start fresh for availableNow
    determinism, and that part costs one empty mkdir, not a data write.
    """
    sf_name = os.path.basename(os.path.normpath(sf_dir))
    root = os.path.join(tempfile.gettempdir(), f"tkes_stream_{tag}_{sf_name}")
    in_dir = os.path.join(root, "input")
    marker = os.path.join(root, ".staged")
    # key in the staged table's identity (mtime+size): a regenerated
    # source invalidates the cache even at the same path
    try:
        st = os.stat(os.path.join(sf_dir, f"{table}.parquet"))
        src_id = f"{st.st_mtime_ns}:{st.st_size}"
    except OSError:
        src_id = "missing"
    key = f"{os.path.abspath(sf_dir)}|{src_id}|{version}"
    try:
        with open(marker) as fh:
            cached = fh.read() == key
    except OSError:
        cached = False
    if not cached:
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root, exist_ok=True)
        writer(in_dir)
        _order_files(in_dir)
        with open(marker, "w") as fh:
            fh.write(key)
    _reap_stale_runs()
    run = os.path.join(root, f"run_{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(run, exist_ok=True)
    return in_dir, run


#: a harness run (sink + checkpoint) lives minutes; anything this old
#: is abandoned. Age-based, NOT pid-liveness-based: on a Spark-heavy
#: box the pid space wraps within minutes (hundreds of JVM threads
#: share it, and kill(pid, 0) also matches non-leader tids), so a
#: liveness probe can both delete a live recycled-pid run and skip a
#: stale dir forever. mtime cannot be recycled.
_RUN_DIR_TTL_S = 3 * 3600


def _last_activity(path: str, max_stats: int = 512) -> float:
    """Most recent mtime within the run dir, scanned two levels deep —
    a LIVE streaming run refreshes these every micro-batch without any
    explicit heartbeat (new files land in ``ckpt/offsets``/``commits``
    and the sink's ``_spark_metadata``/partition dirs, bumping their
    parent dir mtimes), so this measures *idleness* where the top-level
    mtime alone measured *age*: the run dir itself is touched only at
    creation, which let the round-5 reaper delete a legitimately
    long-lived concurrent run (large sf, loaded box, paused debugger)
    mid-flight. Stat count is capped — abandoned dirs are small, and a
    live one hits a recent mtime long before the cap."""
    try:
        best = os.path.getmtime(path)
    except OSError:
        return 0.0
    stats = 0
    queue = [(path, 0)]
    while queue and stats < max_stats:
        d, depth = queue.pop()
        try:
            entries = list(os.scandir(d))
        except OSError:
            continue
        for e in entries:
            stats += 1
            if stats > max_stats:
                break
            try:
                best = max(best, e.stat(follow_symlinks=False).st_mtime)
                if depth < 1 and e.is_dir(follow_symlinks=False):
                    queue.append((e.path, depth + 1))
            except OSError:
                continue
    return best


def _reap_stale_runs() -> None:
    """Remove abandoned ``run_*`` dirs across ALL ``tkes_stream_*``
    staging roots — each leaves tens of MB of sink + checkpoint behind,
    and sweeping only the root being staged would let every retired
    query tag / scale factor accumulate forever. Staleness is judged on
    the dir tree's most recent activity (see ``_last_activity``), not
    the run dir's creation mtime, so a long-lived concurrent run that
    is still committing micro-batches is never reaped; a dir whose
    newest write is hours old is abandoned by any harness's standard.
    Own-PID dirs are skipped outright."""
    import time

    now = time.time()
    tmp = tempfile.gettempdir()
    own = f"run_{os.getpid()}"
    try:
        roots = [d for d in os.listdir(tmp) if d.startswith("tkes_stream_")]
    except OSError:
        return
    for r in roots:
        rp = os.path.join(tmp, r)
        try:
            runs = os.listdir(rp)
        except OSError:
            continue
        for d in runs:
            if not d.startswith("run_") or d == own:
                continue
            p = os.path.join(rp, d)
            try:
                if now - _last_activity(p) > _RUN_DIR_TTL_S:
                    shutil.rmtree(p, ignore_errors=True)
            except OSError:
                continue


def _write_batches(df: DataFrame, bucket, in_dir: str) -> None:
    """Write ``df`` as one micro-batch file per value of the int column
    expression ``bucket``. Single pass: hive-partition by the bucket;
    the data files exclude ``__f``, so each ``__f=N`` dir is one
    schema-exact micro-batch file."""
    (
        df.withColumn("__f", bucket)
        .coalesce(1)
        .write.mode("overwrite")
        .partitionBy("__f")
        .parquet(in_dir)
    )


def _stage(spark: SparkSession, sf_dir: str, tag: str, n_files: int = 4) -> tuple[str, str]:
    """Stage events as ``n_files`` time-ordered parquet files (cached —
    see _staged_input) + a fresh work dir. Returns (input_dir, work_dir)."""

    def write(in_dir: str) -> None:
        # deterministic time-ordered split with no global sort: bucket by
        # day-of-month range, so each micro-batch covers a contiguous
        # slice of event time (keeps the partitioned sink writing ~1/n of
        # the hive dirs per batch instead of all of them every batch)
        bucket = F.least(
            F.lit(n_files - 1),
            ((F.dayofmonth("ts") - 1) * n_files / 31).cast("int"),
        )
        _write_batches(read_table(spark, sf_dir, "events"), bucket, in_dir)

    return _staged_input(sf_dir, tag, f"nf{n_files}", write)


def _pinned_session(spark: SparkSession, shuffle_partitions: int) -> SparkSession:
    """An ISOLATED session (shared SparkContext/executors, own SQLConf)
    with the stream's shuffle/state width pinned at creation.

    Stateful streaming queries take their state-store partition count
    from ``spark.sql.shuffle.partitions`` at first checkpoint — no
    ``repartition()`` can express it — so the width must come from a
    session conf. Pinning it on a per-query clone (instead of the old
    set/restore on the caller's session) means a concurrent query in
    the caller's session never observes a mutated width; at production
    scale this knob comes from the cluster/job config.

    ``cloneSession()`` carries over runtime-set confs (session
    timezone, legacy parquet flags, …); it is ``private[sql]`` in
    Scala, which is public in bytecode, so py4j can call it. If that
    ever changes, fall back to ``newSession()`` (inherits builder-time
    confs only) plus an explicit carry of the semantics-bearing keys.
    """
    try:
        s = SparkSession(spark.sparkContext, spark._jsparkSession.cloneSession())
    except Exception:
        s = spark.newSession()
        for k in (
            "spark.sql.session.timeZone",
            "spark.sql.legacy.parquet.nanosAsLong",
        ):
            try:
                s.conf.set(k, spark.conf.get(k))
            except Exception:
                pass
    s.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    s._tkes_pinned = True  # type: ignore[attr-defined]
    return s


def _read_stream(
    spark: SparkSession,
    in_dir: str,
    template: DataFrame,
    shuffle_partitions: int = 8,
) -> DataFrame:
    """File-source stream over the staged input, built on a pinned-width
    clone session (see _pinned_session). The harness batches are small,
    so the default width is low (per-state-store-partition-per-batch
    overhead dominates); volume-bound queries pass ``_state_partitions``.
    Pass an already-pinned session to share one clone across two streams
    that later join (qs8 — a stream-stream join must not mix sessions)."""
    s = (
        spark
        if getattr(spark, "_tkes_pinned", False)
        else _pinned_session(spark, shuffle_partitions)
    )
    return (
        s.readStream.schema(template.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(in_dir, "*"))
    )


def _tap_dir() -> str | None:
    """Plan-capture seam: when $SPARK_GRAFT_PLAN_TAP names a directory,
    the streaming builders dump their STEADY-STATE micro-batch physical
    plans there (one file per tag, overwritten per batch so the last —
    steady-state — batch survives). The interesting plan of a streaming
    query is the per-trigger incremental plan, which the registered
    result frame (a batch readback of the sink) never shows;
    scripts/dump_plans.py uses this seam for the PLANS.md streaming
    sections (r11 verdict task 5). No-op unless the env var is set."""
    return os.environ.get("SPARK_GRAFT_PLAN_TAP") or None


def _tap_plan(tag: str, text: str) -> None:
    d = _tap_dir()
    if d:
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, f"{tag}.txt"), "w") as fh:
            fh.write(text)


def _tap_frame(df: DataFrame, tag: str) -> None:
    """Tap a foreachBatch INNER frame (call before localCheckpoint —
    after it the plan collapses to a scan of the checkpoint RDD)."""
    if _tap_dir():
        jvm = df.sparkSession._jvm
        _tap_plan(
            tag,
            jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            ),
        )


def _run_to_sink(stream_df: DataFrame, work: str, partition_by=None) -> str:
    out = os.path.join(work, "out")
    writer = (
        stream_df.writeStream.format("parquet")
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .option("path", out)
        .outputMode("append")
        .trigger(availableNow=True)
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    # width comes from the stream's own pinned session (_read_stream);
    # nothing here touches the caller's session conf
    q = writer.start()
    q.awaitTermination()
    if _tap_dir():
        import re as _re

        # run dir = <...>/tkes_stream_<tag>_<sf>/run_<pid>
        m = _re.search(r"tkes_stream_([a-z0-9]+)_", work)
        _tap_plan(
            f"{m.group(1) if m else 'stream'}_sink",
            q._jsq.explainInternal(False),
        )
    return out


def _concurrent_actions(*thunks) -> None:
    """Run independent Spark ACTIONS from driver threads so one job's
    tasks back-fill the executors the other's tail frees (guide §2.6 —
    actions are only sequential because driver code calls them
    sequentially). Used by the ingest folds for their per-batch sink
    writes: independent, idempotent per-partition overwrites of
    DIFFERENT side tables, all reading already-checkpointed frames, so
    neither ordering nor replay semantics change — a crash mid-batch
    leaves any subset of the partitions written, exactly the states the
    replay-overwrite contract already recovers from. Exceptions
    re-raise in the caller: a failed write must still fail the batch.

    ``InheritableThread`` (not a bare thread): under PySpark's pinned
    thread mode each Python thread gets its own JVM thread, and the
    inheritable wrapper carries the streaming batch's job group /
    description into the children and cleans the JVM thread up on
    exit."""
    from pyspark import InheritableThread

    errs: list[BaseException] = []

    def _run(t) -> None:
        try:
            t()
        except BaseException as e:  # noqa: BLE001 — re-raised below
            errs.append(e)

    threads = [InheritableThread(target=_run, args=(t,)) for t in thunks]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errs:
        raise errs[0]


def _max_doc_id(sf_dir: str, table: str, col: str, df: DataFrame) -> int:
    """``MAX(col)`` for the arrival-schedule width — from the parquet
    footers' column statistics when they cover every row group
    (driver-side, no job; see io.parquet_footer_max), falling back to
    the one-job Spark aggregate over ``df`` otherwise."""
    from twitter_kafka_etl_spark.io import parquet_footer_max

    v = parquet_footer_max(os.path.join(sf_dir, f"{table}.parquet"), col)
    if v is None:
        v = df.agg(F.max(col)).first()[0]
    return v or 0


def _stage_id_range(
    sf_dir: str, tag: str, table: str, df: DataFrame, col: str
) -> tuple[str, str, int]:
    """Stage ``df`` (read from ``table``) as the id-range arrival
    schedule of the ingest folds (qs12–qs17): ``_arrival_batches()``
    equal ``col`` ranges, batch ``k`` holding ``col // width == k``, so
    batches arrive in id order (the oracles' first-occurrence tie-break
    assumes it). Returns ``(in_dir, work, width)``; the folds that label
    rows by batch derive the label from the data with the same width,
    which makes the label restart- and replay-proof.

    The width comes from the table's footers (``_max_doc_id``), so a
    cached stage costs no job; the stage itself is cached on ``table``'s
    identity (see _staged_input)."""
    n = _arrival_batches()
    width = _max_doc_id(sf_dir, table, col, df) // n + 1

    def write(in_dir: str) -> None:
        _write_batches(df, F.floor(F.col(col) / width).cast("int"), in_dir)

    in_dir, work = _staged_input(sf_dir, tag, f"idrange{n}", write, table)
    return in_dir, work, width


def _run_fold(
    spark: SparkSession, in_dir: str, template: DataFrame, work: str, *sinks
) -> None:
    """Drain the staged input through ``foreach_batch_fanout`` into
    ``sinks`` (callables of (batch_df, batch_id)), checkpointed under
    ``work``; returns once the availableNow run has terminated."""
    from twitter_kafka_etl_spark.streaming.sinks import foreach_batch_fanout

    stream = _read_stream(spark, in_dir, template)
    foreach_batch_fanout(
        stream, list(sinks), checkpoint=os.path.join(work, "ckpt")
    ).awaitTermination()


def _restore_bloom_sidefile(bloom_file: str):
    """Load a novelty gate's durable bloom bitmap from its parquet
    side-file: ``(m, words)`` with ``words`` a dense int64 array, or
    ``(0, None)`` when no usable side-file exists. The restart seam of
    ``_BloomGate`` — written before every index append, so the restored
    bitmap is always a superset of the landed index's keys (extra bits
    are absorbed by the exact confirm; missing bits would break 'bloom
    miss = definitely novel')."""
    import numpy as np
    import pandas as pd

    from twitter_kafka_etl_spark.operators import sketches as K

    if not os.path.exists(bloom_file):
        return 0, None
    prev = pd.read_parquet(bloom_file)
    if not len(prev):
        return 0, None
    m = int(prev["m"].iloc[0])
    words = np.zeros(m // K.BLOOM_WORD, dtype=np.int64)
    words[prev["word"].to_numpy()] = prev["bits"].to_numpy()
    return m, words


class _BloomGate:
    """Novelty gate of the exact ingest folds (qs12: document
    fingerprints, qs14: shingle hashes): ``novel`` drops the rows of a
    batch whose ``key`` the accumulated ``index`` side table already
    holds, with the bloom pre-probe (x33's engine-portable sketch)
    switched on by a crossover rule IN CODE.

    While the index is broadcast-sized, each batch's plain anti-join
    against it is optimal — the probe's extra exchanges would only add
    fixed per-micro-batch cost (measured +3.5 s over 4 harness batches
    on qs12). Once the index outgrows ``$<crossover_env>`` rows (default
    10M ≈ the ~160 MB broadcast ceiling at 16 B/key; the tests force 0
    to exercise the bloom path end to end), the bitmap is bootstrapped
    ONCE from the index it replaces and then carried across batches
    driver-side as a dense word vector (≤ m/32 int64 words, KB–MB of
    driver state forever) with a durable parquet side-file for restart.
    Later batches consult the always-tiny bitmap first: bloom misses are
    DEFINITE non-members and skip the index entirely; only hits — true
    repeats plus the one-sided false positives — go through the exact
    anti-join confirm, so the kept rows and counts stay exact in both
    modes. This caps the per-batch index-scan cost that otherwise grows
    linearly with history.

    The side-file restore never fires in the registered harness
    (``_staged_input`` hands every run a freshly wiped work dir); it is
    the restart hook for the production pattern the folds model, where
    an ingest job resumes its own long-lived work dir."""

    def __init__(
        self, index: str, key: str, bloom_file: str, crossover_env: str
    ) -> None:
        self.index, self.key, self.bloom_file = index, key, bloom_file
        self.crossover = int(os.environ.get(crossover_env, "10000000"))
        self.m, self.words = _restore_bloom_sidefile(bloom_file)

    def _set_words(self):
        """The bitmap's non-zero words as a (word, bits) pandas frame —
        the probe's sketch rows and the side-file's content."""
        import numpy as np
        import pandas as pd

        nz = np.flatnonzero(self.words)
        return pd.DataFrame({"word": nz.astype("int32"), "bits": self.words[nz]})

    def _or_in(self, keys: DataFrame) -> None:
        """OR the bloom bits of ``keys`` into the driver-held bitmap."""
        from twitter_kafka_etl_spark.operators import sketches as K

        bits = K.bloom_build(keys, self.key, m=self.m).toPandas()
        self.words[bits["word"].to_numpy()] |= bits["bits"].to_numpy()

    def novel(self, frame: DataFrame, batch_id: int, tag: str) -> DataFrame:
        """``frame``'s rows whose key is not in the index (the own
        batch's partition excluded — replay-idempotent), pinned by
        ``localCheckpoint``. Past the crossover the bitmap is rolled
        forward and its side-file rewritten before this returns, i.e.
        before the caller's index append. ``tag`` names the plan tap."""
        import numpy as np

        from twitter_kafka_etl_spark.operators import sketches as K
        from twitter_kafka_etl_spark.streaming.side_state import (
            live_rows,
            read_side,
        )

        s, k = frame.sparkSession, self.key

        def seen() -> DataFrame:
            return read_side(s, self.index, exclude=batch_id).select(k)

        has_index = os.path.exists(self.index)
        # once the bitmap exists it is authoritative: recounting the
        # growing index's footers every micro-batch would reintroduce
        # the per-batch linear-in-history cost the bloom exists to cap,
        # so the footer walk runs only pre-crossover, and its one
        # result feeds both the decision and the bootstrap sizing
        if self.words is None and has_index:
            n_index = live_rows(self.index)
            if n_index > self.crossover:
                # crossover bootstrap: ~64 bits per current key = 4x
                # growth headroom at <1% FP before a rebuild (in
                # production m comes from capacity planning); one index
                # scan, paid once, never again
                m = max(K.BLOOM_M, 64 * n_index)
                self.m = m + (-m) % K.BLOOM_WORD
                self.words = np.zeros(self.m // K.BLOOM_WORD, dtype=np.int64)
                self._or_in(seen())
        if self.words is not None:
            sketch = s.createDataFrame(self._set_words(), "word int, bits long")
            hits = K.bloom_probe(sketch, frame.select(k), k, m=self.m)
            flagged = (
                frame.join(hits, k, "left")
                .withColumn("__candidate", F.coalesce("bloom_hit", F.lit(False)))
                .drop("bloom_hit")
            )
            # confirm step: ONLY bloom-hit candidates consult the index.
            # Split-then-union rather than a conditional left join — a
            # `(key-match AND left-only-flag)` join condition cannot
            # prune the index side, so it scanned AND shuffled the whole
            # index against every batch row. With the split, the
            # anti-join's stream side is the (tiny, FP-rate-bounded)
            # candidate set: AQE broadcasts it and the index scan never
            # shuffles; definite non-members bypass the index read.
            cand = flagged.filter(F.col("__candidate")).drop("__candidate")
            miss = flagged.filter(~F.col("__candidate")).drop("__candidate")
            frame = miss.unionByName(cand.join(seen(), k, "left_anti"))
        elif has_index:
            frame = frame.join(seen(), k, "left_anti")
        # localCheckpoint, NOT persist: the novel set feeds the index
        # append, whose plan would re-list the index — a cache can't pin
        # a file source (the refreshed listing changes the plan, missing
        # the cache), so a re-run anti-joins the batch against its own
        # just-written keys and keeps nothing. The checkpoint cuts
        # lineage, freezing the rows before any write.
        _tap_frame(frame, tag)
        frame = frame.localCheckpoint(eager=True)
        if self.words is not None:
            # roll forward, then rewrite the durable side-file driver-
            # side — BEFORE the index append: the bitmap's one-sided
            # error must stay "bit set but key absent" (a false positive
            # the exact confirm absorbs), never "key in the index but
            # bit clear" (a false miss would re-admit an indexed key
            # after restart). A crash between the two commits leaves
            # extra bits, and a replayed batch re-ORs idempotently.
            self._or_in(frame.select(k))
            self._set_words().assign(m=np.int64(self.m)).to_parquet(
                self.bloom_file
            )
        return frame


def _state_partitions(df: DataFrame, big_rows: int = 500_000) -> int:
    """State-store parallelism sized to the staged volume: small harness
    inputs keep 8 partitions (per-partition-per-batch overhead dominates),
    large ones use the full core count (the stateful pandas stage is
    CPU-bound — 8 vs 32 partitions measured 15.3 s vs 9.1 s on the sf1
    events stream). The probe is one count() job at plan-build time —
    column-pruned to nothing on a plain parquet read, but a real scan
    when the caller passes a filtered frame; either way it is one cheap
    pass paid once per query, not per micro-batch."""
    from twitter_kafka_etl_spark.session import default_parallelism

    return default_parallelism() if df.count() >= big_rows else 8


# ---------------------------------------------------------------------------
# QS1 — S1/S2/T1-T3: file-source stream → keyed Kafka-shaped sink
# ---------------------------------------------------------------------------
#: microsecond timestamp format so the JSON payload round-trips event
#: times losslessly (to_json's default keeps milliseconds only and the
#: synthetic events carry full µs precision)
_QS1_TS_FMT = {"timestampFormat": "yyyy-MM-dd HH:mm:ss.SSSSSS"}


@_register(
    "qs1_stream_kafka_shape",
    "streaming ingest → Kafka wire shape (key,value,topic): the producer's "
    "keyed fan-out (twitter_producer.py:30-33) + checkpointed sink (T2); "
    "oracle form: the sink's payload parsed back out — key construction, "
    "topic fan-out and the lossless JSON round-trip of every field are "
    "all batch-checkable even though the transport is a stream",
    """
    SELECT concat(upper(substr(event_type, 1, 2)),
                  CAST(event_id AS VARCHAR)) AS key,
           event_type AS topic,
           event_id, user_id, event_type, value, props, ts
    FROM events
    """,
    tags=("streaming",),
)
def qs1(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    in_dir, work = _stage(spark, sf_dir, "qs1")
    stream = _read_stream(spark, in_dir, ev)
    shaped = W.kafka_shaped(
        stream,
        key_col=construct_key("event_type", "event_id"),
        topic_col=F.col("event_type"),
        json_options=_QS1_TS_FMT,
    )
    out = _run_to_sink(shaped, work)
    wire = spark.read.parquet(out).select("key", "value", "topic")
    # oracle surface: decode the payload back to typed columns — the
    # driver canonicalizer compares scalars, and a raw JSON string would
    # pin the comparison to Java vs DuckDB double-formatting instead of
    # the values themselves
    return wire.select(
        "key",
        "topic",
        F.from_json("value", ev.schema, _QS1_TS_FMT).alias("p"),
    ).select(
        "key", "topic", "p.event_id", "p.user_id", "p.event_type",
        "p.value", "p.props", "p.ts",
    )


# ---------------------------------------------------------------------------
# QS2 — S4/T4/T7: stream → raw partitioned layer → tumbling-window counts
# ---------------------------------------------------------------------------
@_register(
    "qs2_stream_hourly_partitioned",
    "stream events → hour-partitioned parquet raw layer (S4, "
    "consumer.scala:73-82) → batch 1-h tumbling window counts (T4/T7 "
    "two-phase hand-off, minus the wall-clock path math); oracle form: "
    "epoch-aligned tumbling counts ≡ date_trunc('hour') GROUP BY, and "
    "the partitioned sink round-trip must lose no rows",
    """
    SELECT date_trunc('hour', ts) AS window_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
           event_type,
           COUNT(*) AS counts
    FROM events
    GROUP BY 1, 2, 3
    """,
    tags=("streaming",),
)
def qs2(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    # ONE staged micro-batch: the dominant cost of this query is the
    # hive-sink listing/commit over ~740 date×hour dirs, paid once per
    # batch — and the cross-batch checkpoint advance this used to
    # duplicate is already exercised by QS1's 4-batch ingest (and
    # asserted in tests). One batch = one commit spanning all dirs.
    in_dir, work = _stage(spark, sf_dir, "qs2", n_files=1)
    # repartition by (date, hour) at an EXPLICIT width: each hive dir is
    # still written by exactly one task (one file per dir per batch — a
    # (date,hour) key hashes to one partition), but the ~740 dirs spread
    # over the full core count instead of the 3 tasks AQE coalesced the
    # old keyless-width date exchange down to (profiled: the write stage
    # was 3 tasks × ~240 dirs ≈ 3.1 s of serial file creation; the cost
    # here is per-FILE metadata, which AQE's size-based coalescing
    # cannot see). An explicit numPartitions makes the exchange
    # REPARTITION_BY_NUM, which AQE leaves alone. This is the
    # write.distribution-mode=hash pattern (guide §6) with width from
    # the engine's parallelism config, not a literal.
    from twitter_kafka_etl_spark.session import default_parallelism

    stream = derive_date_hour(_read_stream(spark, in_dir, ev), "ts").repartition(
        max(8, default_parallelism() // 4), F.col("date"), F.col("hour")
    )
    out = _run_to_sink(stream, work, partition_by=["date", "hour"])
    raw = spark.read.parquet(out)
    return W.tumbling_counts(raw, "ts", "1 hour", keys=("event_type",))


# ---------------------------------------------------------------------------
# QS3 — T5/T8: watermarked sliding windows with late-row drop
# ---------------------------------------------------------------------------
@_register(
    "qs3_stream_watermark_late_drop",
    "watermarked sliding-window streaming agg: a planted late event "
    "arriving after the watermark passed is dropped deterministically "
    "(T5 — the reference loses late data racily instead); oracle form: "
    "2h/1h sliding counts over the day slice, restricted to windows the "
    "final watermark finalized — the planted advance row (23:59) pins "
    "the watermark at 22:59, and the planted late row is dropped, so "
    "neither appears in any emitted window",
    """
    WITH e AS (
      SELECT event_type, ts FROM events
      WHERE ts >= TIMESTAMP '2024-01-02 00:00:00'
        AND ts <  TIMESTAMP '2024-01-03 00:00:00'
    ), w AS (
      SELECT event_type,
             unnest([date_trunc('hour', ts) - INTERVAL 1 HOUR,
                     date_trunc('hour', ts)]) AS window_start
      FROM e
    )
    SELECT window_start,
           window_start + INTERVAL 2 HOUR AS window_end,
           event_type,
           COUNT(*) AS counts
    FROM w
    GROUP BY 1, 2, 3
    -- final watermark = max event time (>= the planted 23:59:00
    -- advance row, < midnight) - 1h, i.e. somewhere in [22:59, 23:00);
    -- window ends are on the hour, so every cutoff in that interval
    -- emits exactly the windows ending <= 22:00 — the constant below is
    -- scale-factor-independent
    HAVING window_start + INTERVAL 2 HOUR
             <= TIMESTAMP '2024-01-02 22:59:00'
    """,
    tags=("streaming",),
)
def qs3(spark: SparkSession, sf_dir: str) -> DataFrame:
    # range form pushes into the parquet scan (a filter on the rebuilt
    # nanos timestamp cannot push — see io.read_table_time_range)
    ev = read_table_time_range(
        spark, sf_dir, "events", "2024-01-02 00:00:00", "2024-01-03 00:00:00"
    )

    def _one(ts: str, event_type: str, path: str) -> None:
        """One-row planted batch, written driver-side with pyarrow —
        a whole Spark job per one-row file is pure overhead."""
        import datetime

        import pyarrow as pa
        import pyarrow.parquet as pq

        t = pa.table({
            "event_id": pa.array([999_999_999], pa.int64()),
            "ts": pa.array(
                [datetime.datetime.fromisoformat(ts)], pa.timestamp("us", tz="UTC")
            ),
            "user_id": pa.array([0], pa.int64()),
            "event_type": pa.array([event_type], pa.string()),
            "value": pa.array([1.0], pa.float64()),
            "props": pa.array(["{}"], pa.string()),
        })
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(t, path)

    def write(in_dir: str) -> None:
        # batch 0: the day's events; batch 1: a head-of-stream event so
        # the day's watermark is in force; batch 2: one event 20h behind
        # the watermark — must be dropped, not aggregated. (The watermark
        # derived from batch N's data only filters from batch N+2, hence
        # the intermediate batch.)
        ev.coalesce(1).write.mode("overwrite").parquet(os.path.join(in_dir, "f00"))
        _one("2024-01-02 23:59:00", "advance", os.path.join(in_dir, "f01", "part-0.parquet"))
        _one("2024-01-02 03:00:00", "late", os.path.join(in_dir, "f02", "part-0.parquet"))

    in_dir, root = _staged_input(sf_dir, "qs3", "day+advance2359+late0300", write)
    stream = _read_stream(spark, in_dir, ev)
    agg = W.sliding_counts(
        stream, "ts", "2 hours", "1 hour", keys=("event_type",), watermark="1 hour"
    )
    out = _run_to_sink(agg, root)
    return spark.read.parquet(out).select(
        "window_start", "window_end", "event_type", "counts"
    )


# ---------------------------------------------------------------------------
# QS4 — D1 streaming variant: dropDuplicatesWithinWatermark
# ---------------------------------------------------------------------------
@_register(
    "qs4_stream_dedup_watermark",
    "streaming keyed dedup with bounded state: batch 2 replays a subset "
    "of batch 1's rows (same event_id/ts); dropDuplicatesWithinWatermark "
    "emits each key once and evicts state at the watermark (D1 streaming "
    "variant, wrangling.py:24 at unbounded-stream scale); oracle form: "
    "first-arrival-per-key over a replayed stream ≡ the day slice "
    "itself (event_id is unique there, so every replay is a duplicate "
    "within the 2-day watermark and must be dropped)",
    """
    SELECT event_id, user_id, event_type FROM events
    WHERE ts >= TIMESTAMP '2024-01-02 00:00:00'
      AND ts <  TIMESTAMP '2024-01-03 00:00:00'
    """,
    tags=("streaming", "dedup"),
)
def qs4(spark: SparkSession, sf_dir: str) -> DataFrame:
    # range form pushes into the parquet scan (a filter on the rebuilt
    # nanos timestamp cannot push — see io.read_table_time_range)
    ev = read_table_time_range(
        spark, sf_dir, "events", "2024-01-02 00:00:00", "2024-01-03 00:00:00"
    )

    def write(in_dir: str) -> None:
        replay = ev.filter(F.pmod("user_id", F.lit(7)) == 0)
        ev.coalesce(1).write.mode("overwrite").parquet(os.path.join(in_dir, "f00"))
        replay.coalesce(1).write.mode("overwrite").parquet(os.path.join(in_dir, "f01"))

    in_dir, root = _staged_input(sf_dir, "qs4", "day+replay-mod7", write)
    stream = _read_stream(spark, in_dir, ev)
    deduped = W.dedup_within_watermark(
        stream, keys=("event_id",), ts_col="ts", delay="2 days"
    )
    out = _run_to_sink(deduped, root)
    return spark.read.parquet(out).select("event_id", "user_id", "event_type")


# ---------------------------------------------------------------------------
# QS5 — S6/T7: foreachBatch fan-out to multiple sinks
# ---------------------------------------------------------------------------
@_register(
    "qs5_stream_multi_sink",
    "foreachBatch delivers each micro-batch to two sinks from one scan "
    "(raw rows + per-type batch counts) — the reference's MongoDB+parquet "
    "dual write (consumer.scala:176-187) with the second sink actually "
    "firing; oracle form: the primary sink must hold every input row "
    "exactly once (per-batch appends ∪ = the table) — true for a drain "
    "with no replay: append sinks are at-least-once, so a batch replayed "
    "after a crash between its write and the checkpoint commit lands "
    "twice (the ingest folds qs12-qs17 get exactly-once table contents "
    "from per-batch overwrite partitions instead); the per-batch agg "
    "sink is asserted in tests",
    """
    SELECT event_id, user_id, event_type FROM events
    """,
    tags=("streaming", "sink"),
)
def qs5(spark: SparkSession, sf_dir: str) -> DataFrame:
    from twitter_kafka_etl_spark.streaming.sinks import parquet_append_sink

    ev = read_table(spark, sf_dir, "events")
    in_dir, work = _stage(spark, sf_dir, "qs5")
    raw_out = os.path.join(work, "raw")
    agg_out = os.path.join(work, "agg")

    def agg_sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("counts"))
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(agg_out)
        )

    _run_fold(spark, in_dir, ev, work, parquet_append_sink(raw_out), agg_sink)
    # primary sink read-back; the per-batch agg sink is asserted in tests
    # the secondary sink's location for tests (the run dir is per-PID
    # since the staging-cache refactor, so no fixed path to hardcode)
    qs5.last_agg_dir = agg_out
    return spark.read.parquet(raw_out).select("event_id", "user_id", "event_type")


# ---------------------------------------------------------------------------
# QS6 — T8/§2.10: arbitrary stateful streaming (applyInPandasWithState)
# ---------------------------------------------------------------------------
@_register(
    "qs6_stream_stateful_totals",
    "running per-user (count, sum) carried across micro-batches in the "
    "state store via applyInPandasWithState — the engine's arbitrary-"
    "state surface (T8); oracle form: the final emission per user IS "
    "the batch ground truth (measured: incremental pandas accumulation "
    "vs batch SUM agree to 2e-12 while the synthetic values keep sums "
    "~0.5e-6 from any 6dp rounding boundary — orders of magnitude of "
    "margin for the canonicalized hash)",
    """
    SELECT user_id, COUNT(*) AS total_events,
           SUM(value) AS total_value
    FROM events GROUP BY user_id
    """,
    tags=("streaming", "stateful", "udf"),
)
def qs6(spark: SparkSession, sf_dir: str) -> DataFrame:
    from twitter_kafka_etl_spark.streaming.stateful import running_user_totals

    ev = read_table(spark, sf_dir, "events").select("user_id", "value", "ts")

    def write(in_dir: str) -> None:
        half = F.when(F.dayofmonth("ts") <= 15, F.lit(0)).otherwise(F.lit(1))
        _write_batches(ev, half, in_dir)

    in_dir, root = _staged_input(sf_dir, "qs6", "half-month-split", write)
    stream = _read_stream(
        spark, in_dir, ev, shuffle_partitions=_state_partitions(ev)
    )
    out = _run_to_sink(running_user_totals(stream), root)
    # last emission per user = snapshot with max last-seen event time
    # (NOT max(total_value), which would pick a mid-stream peak under
    # negative values, nor max(total_events), which would pick a
    # pre-eviction total after a TTL restart)
    got = spark.read.parquet(out)
    return (
        got.groupBy("user_id")
        .agg(F.max(F.struct("last_ts", "total_events", "total_value")).alias("s"))
        .select(
            "user_id",
            F.col("s.total_events").alias("total_events"),
            F.col("s.total_value").alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# QS7 — T8 streaming mode: watermarked session windows
# ---------------------------------------------------------------------------
@_register(
    "qs7_stream_session_windows",
    "watermarked per-user session windows on a stream (T8 streaming "
    "mode — q28 covers the batch form): sessions close after 30 min of "
    "event-time silence; state per open session is bounded by watermark "
    "+ gap, not stream length; oracle form: gaps-and-islands sessions "
    "(q28's SQL) restricted to those finalized below the final "
    "watermark = ms-floor(max event time) - 1h — append mode only emits "
    "sessions the watermark has passed, by design",
    """
    WITH e AS (
      SELECT user_id, ts FROM events
      WHERE ts >= TIMESTAMP '2024-01-02 00:00:00'
        AND ts <  TIMESTAMP '2024-01-03 00:00:00'
    ), marked AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), numbered AS (
      SELECT user_id, ts,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM marked
    ), sess AS (
      SELECT MIN(ts) AS session_start,
             MAX(ts) + INTERVAL 30 MINUTE AS session_end,
             user_id,
             COUNT(*) AS counts
      FROM numbered GROUP BY user_id, sess_id
    ), wm AS (
      -- Spark tracks event-time stats at millisecond resolution, so the
      -- final watermark is the ms-floored max event time minus the delay
      SELECT date_trunc('milliseconds', max(ts)) - INTERVAL 1 HOUR AS w
      FROM e
    )
    SELECT s.session_start, s.session_end, s.user_id, s.counts
    FROM sess s, wm
    WHERE s.session_end <= wm.w
    """,
    tags=("streaming",),
)
def qs7(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table_time_range(
        spark, sf_dir, "events", "2024-01-02 00:00:00", "2024-01-03 00:00:00"
    )

    def write(in_dir: str) -> None:
        # two micro-batches split mid-day: sessions spanning the boundary
        # must merge across batches in the state store
        noon = F.when(F.hour("ts") < 12, F.lit(0)).otherwise(F.lit(1))
        _write_batches(ev, noon, in_dir)

    in_dir, root = _staged_input(sf_dir, "qs7", "day-noon-split", write)
    stream = _read_stream(spark, in_dir, ev)
    agg = W.session_counts(
        stream, "ts", gap="30 minutes", keys=("user_id",), watermark="1 hour"
    )
    out = _run_to_sink(agg, root)
    return spark.read.parquet(out).select(
        "session_start", "session_end", "user_id", "counts"
    )


# ---------------------------------------------------------------------------
# QS8 — stream-stream interval join (click -> purchase attribution)
# ---------------------------------------------------------------------------
@_register(
    "qs8_stream_interval_join",
    "stream-stream inner interval join: purchases within 2h of the same "
    "user's click, both streams watermarked so the two join buffers "
    "evict at the watermark (bounded state on unbounded streams — a "
    "surface the reference's batch hand-off cannot express); oracle "
    "form: the batch interval join — state eviction only discards rows "
    "that can no longer match (click_ts + 2h < watermark), so the "
    "streamed result equals the batch join exactly",
    """
    WITH e AS (
      SELECT event_id, user_id, event_type, ts, value FROM events
      WHERE ts >= TIMESTAMP '2024-01-02 00:00:00'
        AND ts <  TIMESTAMP '2024-01-03 00:00:00'
    )
    SELECT c.user_id,
           c.event_id AS click_id,
           p.event_id AS purchase_id,
           c.ts AS click_ts,
           p.ts AS purchase_ts,
           p.value
    FROM (SELECT * FROM e WHERE event_type = 'click') c
    JOIN (SELECT * FROM e WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL 2 HOUR
    """,
    tags=("streaming",),
)
def qs8(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table_time_range(
        spark, sf_dir, "events", "2024-01-02 00:00:00", "2024-01-03 00:00:00"
    )

    def write(in_dir: str) -> None:
        # two micro-batches split mid-day: pairs straddling the boundary
        # are matched from buffered state, not within one batch
        noon = F.when(F.hour("ts") < 12, F.lit(0)).otherwise(F.lit(1))
        _write_batches(ev, noon, in_dir)

    in_dir, root = _staged_input(sf_dir, "qs8", "day-noon-split", write)
    # one staged input read as two independent streams, filtered to the
    # two event classes — exactly how a Kafka deployment would consume
    # two topics (or one topic twice). ONE pinned clone feeds both
    # streams: a stream-stream join must not mix sessions.
    pinned = _pinned_session(spark, 8)
    clicks = (
        _read_stream(pinned, in_dir, ev)
        .filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
    )
    purchases = (
        _read_stream(pinned, in_dir, ev)
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            "value",
        )
    )
    joined = W.interval_join(
        clicks,
        purchases,
        key="user_id",
        left_ts="click_ts",
        right_ts="purchase_ts",
        within="2 hours",
        watermark="1 hour",
    )
    out = _run_to_sink(joined, root)
    return spark.read.parquet(out).select(
        "user_id", "click_id", "purchase_id", "click_ts", "purchase_ts", "value"
    )


# ---------------------------------------------------------------------------
# QS9 — stream-static broadcast enrichment
# ---------------------------------------------------------------------------
@_register(
    "qs9_stream_static_enrich",
    "stream-static join: each micro-batch broadcast-joins the static "
    "customer dimension (no state store — the dim is re-resolved per "
    "batch, so slowly-changing dims pick up updates); the reference "
    "could only enrich after landing to batch storage; oracle form: "
    "the same left join expressed in batch SQL over the day slice",
    """
    SELECT e.event_id, e.user_id, e.event_type,
           c.c_mktsegment, c.c_nationkey
    FROM events e
    LEFT JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.ts >= TIMESTAMP '2024-01-02 00:00:00'
      AND e.ts <  TIMESTAMP '2024-01-03 00:00:00'
    """,
    tags=("streaming",),
)
def qs9(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table_time_range(
        spark, sf_dir, "events", "2024-01-02 00:00:00", "2024-01-03 00:00:00"
    ).select("event_id", "user_id", "event_type", "value")

    def write(in_dir: str) -> None:
        _write_batches(ev, F.pmod("event_id", F.lit(2)).cast("int"), in_dir)

    in_dir, root = _staged_input(sf_dir, "qs9", "parity-split", write)
    stream = _read_stream(spark, in_dir, ev)
    # the dim is built on the STREAM's pinned session so the
    # stream-static join never mixes sessions
    dim = (
        read_table(stream.sparkSession, sf_dir, "customer")
        .select(
            F.col("c_custkey").alias("user_id"),
            "c_mktsegment",
            "c_nationkey",
        )
    )
    # broadcast: the dim ships to every task once per batch instead of
    # shuffling the stream — a stream-side shuffle would also force
    # stateful join machinery this query doesn't need
    enriched = stream.join(F.broadcast(dim), "user_id", "left")
    out = _run_to_sink(enriched, root)
    return spark.read.parquet(out).select(
        "event_id", "user_id", "event_type", "c_mktsegment", "c_nationkey"
    )


# ---------------------------------------------------------------------------
# QS10 — CDC-style streaming upsert: foreachBatch MERGE into a snapshot
# ---------------------------------------------------------------------------
@_register(
    "qs10_stream_upsert",
    "streaming SCD1 upsert: each micro-batch's latest-row-per-user "
    "MERGEs into a versioned parquet snapshot via foreachBatch + "
    "relational.merge_upsert (q34's batch MERGE made continuous — the "
    "serving-table pattern the reference's Mongo sink implies but "
    "never materializes); batches cover increasing time ranges, so the "
    "final snapshot is exactly last-write-wins per key; oracle form: "
    "ROW_NUMBER latest-per-user over the whole table",
    """
    SELECT user_id, event_id, event_type, value FROM (
      SELECT user_id, event_id, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
    tags=("streaming", "merge"),
)
def qs10(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from twitter_kafka_etl_spark.operators.relational import merge_upsert

    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "value", "ts"
    )
    in_dir, work = _stage(spark, sf_dir, "qs10")
    snap_dirs: list[str] = []

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        # per-batch latest row per key (deterministic tie-break), then
        # MERGE into the previous snapshot version; versioned dirs make
        # the read-modify-write safe (never overwrite a file being read)
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        latest = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        if snap_dirs:
            base = batch_df.sparkSession.read.parquet(snap_dirs[-1])
            merged = merge_upsert(base, latest, ["user_id"])
        else:
            merged = latest
        _tap_frame(merged, "qs10_merged")
        out = os.path.join(work, f"snap_v{batch_id}")
        merged.write.mode("overwrite").parquet(out)
        snap_dirs.append(out)

    _run_fold(spark, in_dir, ev, work, upsert)
    return (
        spark.read.parquet(snap_dirs[-1])
        .select("user_id", "event_id", "event_type", "value")
    )


# ---------------------------------------------------------------------------
# QS11 — trending top-k: watermarked streaming counts → rank at serve time
# ---------------------------------------------------------------------------
@_register(
    "qs11_stream_trending",
    "the reference domain's signature query — trending topics: "
    "watermarked 1-h tumbling counts per event_type stream to the "
    "serving layer (append mode emits each window once, finalized by "
    "the watermark; a planted 23:59 advance row pins the final "
    "watermark at 22:59 so the finalized set is deterministic), then "
    "the serve-time rank takes the top-3 types per window — the "
    "standard split: continuous aggregation in the stream, ranking at "
    "query time; oracle form: date_trunc counts over finalized windows "
    "+ ROW_NUMBER <= 3",
    """
    WITH e AS (
      SELECT event_type, ts FROM events
      WHERE ts >= TIMESTAMP '2024-01-02 00:00:00'
        AND ts <  TIMESTAMP '2024-01-03 00:00:00'
    ),
    c AS (
      SELECT date_trunc('hour', ts) AS window_start, event_type,
             COUNT(*) AS counts
      FROM e GROUP BY 1, 2
    ),
    f AS (
      SELECT * FROM c
      -- final watermark = planted 23:59 advance - 1h = 22:59; hourly
      -- window ends <= that cutoff are exactly the finalized set
      WHERE window_start + INTERVAL 1 HOUR
              <= TIMESTAMP '2024-01-02 22:59:00'
    )
    SELECT window_start,
           window_start + INTERVAL 1 HOUR AS window_end,
           event_type, counts, CAST(rnk AS BIGINT) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY window_start
                                   ORDER BY counts DESC, event_type) AS rnk
      FROM f
    ) WHERE rnk <= 3
    """,
    tags=("streaming",),
)
def qs11(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = read_table_time_range(
        spark, sf_dir, "events", "2024-01-02 00:00:00", "2024-01-03 00:00:00"
    )

    def write(in_dir: str) -> None:
        # batch 0 = the day; batch 1 = a head-of-stream advance row so
        # the final watermark (23:59 - 1h) finalizes windows 00..21
        # deterministically (same plant as qs3, without the late row)
        import datetime

        import pyarrow as pa
        import pyarrow.parquet as pq

        ev.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(in_dir, "f00")
        )
        t = pa.table({
            "event_id": pa.array([999_999_999], pa.int64()),
            "ts": pa.array(
                [datetime.datetime.fromisoformat("2024-01-02 23:59:00")],
                pa.timestamp("us", tz="UTC"),
            ),
            "user_id": pa.array([0], pa.int64()),
            "event_type": pa.array(["advance"], pa.string()),
            "value": pa.array([1.0], pa.float64()),
            "props": pa.array(["{}"], pa.string()),
        })
        os.makedirs(os.path.join(in_dir, "f01"), exist_ok=True)
        pq.write_table(t, os.path.join(in_dir, "f01", "part-0.parquet"))

    in_dir, root = _staged_input(sf_dir, "qs11", "day+advance2359", write)
    stream = _read_stream(spark, in_dir, ev)
    agg = W.tumbling_counts(
        stream, "ts", "1 hour", keys=("event_type",), watermark="1 hour"
    )
    out = _run_to_sink(agg, root)
    served = spark.read.parquet(out)
    w = Window.partitionBy("window_start").orderBy(
        F.col("counts").desc(), F.col("event_type")
    )
    return (
        served.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 3)
        .select("window_start", "window_end", "event_type", "counts", "rank")
    )


# ---------------------------------------------------------------------------
# QS12 — incremental ingest dedup: each batch anti-joins the fp index
# ---------------------------------------------------------------------------
@_register(
    "qs12_stream_incremental_dedup",
    "incremental-ingest dedup against HISTORY: every arriving batch of "
    "documents is first deduped within itself (min doc_id per md5 "
    "fingerprint), then anti-joined against the accumulated fingerprint "
    "index before novel rows append to the corpus and their prints to "
    "the index — the production crawl-ingest pattern (qs4 dedups only "
    "within the stream's watermark; this dedups against everything "
    "ever ingested, with state = an 16-byte-per-doc parquet index, not "
    "a state store); batches arrive in doc_id order, so the kept set "
    "is exactly first-occurrence-per-fingerprint; oracle form: min "
    "doc_id per md5(text)",
    """
    SELECT doc_id, md5(text) AS fp FROM (
      SELECT doc_id, text,
             ROW_NUMBER() OVER (PARTITION BY md5(text)
                                ORDER BY doc_id) AS rn
      FROM documents
    ) WHERE rn = 1
    """,
    tags=("streaming", "dedup"),
)
def qs12(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    in_dir, work, _width = _stage_id_range(
        sf_dir, "qs12", "documents", docs, "doc_id"
    )
    corpus = os.path.join(work, "corpus")
    index = os.path.join(work, "index")
    gate = _BloomGate(
        index,
        "fp",
        os.path.join(work, "bloom.parquet"),
        "SPARK_GRAFT_QS12_BLOOM_CROSSOVER",
    )

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        from twitter_kafka_etl_spark.streaming.side_state import (
            batch_dir,
            maybe_compact,
            register_batch,
        )

        # Fold-start compaction of the INDEX only: the r11 100-batch
        # probe isolated the one growing per-batch cost term to the
        # listing/footer walk over the accumulating partition dirs
        # (+9-10 ms/batch at 100 dirs — SURVEY §6), and the index is
        # what every batch lists (the anti-join plus the pre-crossover
        # footer walk); every N committed deltas roll into a
        # checksum-gated snapshot partition, capping the live dir
        # count. The CORPUS is deliberately not folded inline — it is
        # a write-only landed layer (full document text, read only at
        # serve time), exactly the shape side_state.py's call
        # discipline routes to offline x55 maintenance. Never triggers
        # at the 4-batch oracle schedule; replay-safe by construction
        # (only __b < batch_id folds — see side_state.py).
        maybe_compact(batch_df.sparkSession, index, batch_id)
        # Replay safety (round-5 advice): the index and corpus writes
        # land OUTSIDE the streaming checkpoint transaction, so a crash
        # between the index append and the checkpoint commit replays
        # this batch against an index that already holds its own
        # fingerprints — a plain append would then anti-join everything
        # away and drop the rows from the corpus forever. Idempotence
        # instead of transactionality: each batch OVERWRITES its own
        # batch partition of both tables, and the novelty gate reads
        # the index EXCLUDING the own-batch partition (partition-pruned,
        # so the exclusion is free). A replayed batch recomputes the
        # same novel set from the same availableNow file slice and
        # rewrites the same two partitions — exactly-once table
        # contents under at-least-once batch delivery, the same
        # idempotent-sink contract Structured Streaming's own file sink
        # implements via its metadata log.
        w = Window.partitionBy("fp").orderBy("doc_id")
        novel = gate.novel(
            batch_df.withColumn("fp", F.md5("text"))
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn"),
            batch_id,
            "qs12_novel",
        )

        # index and corpus appends: independent idempotent overwrites
        # of different tables off the checkpointed novel set — submit
        # concurrently (guide §2.6). The gate's bloom side-file landed
        # strictly BEFORE both.
        def _w_index() -> None:
            novel.select("doc_id", "fp").write.mode("overwrite").parquet(
                batch_dir(index, batch_id)
            )
            # the partition becomes visible only on publish. The
            # corpus stays listing-visible — it is never compacted, so
            # it has no visibility hazard to defend.
            register_batch(index, batch_id)

        def _w_corpus() -> None:
            novel.select("doc_id", "text", "fp").write.mode(
                "overwrite"
            ).parquet(batch_dir(corpus, batch_id))

        _concurrent_actions(_w_index, _w_corpus)

    _run_fold(spark, in_dir, docs, work, ingest)
    return spark.read.parquet(corpus).select("doc_id", "fp")


# ---------------------------------------------------------------------------
# QS13 — streaming distribution-drift monitor (PSI vs a static baseline)
# ---------------------------------------------------------------------------
def _register_qs13() -> None:
    from twitter_kafka_etl_spark.plans.extensions import PSI_DRIFT_SQL

    @_register(
        "qs13_stream_drift_monitor",
        "streaming drift monitor: the src10-19 cohort arrives in "
        "micro-batches, each batch folds its fixed-width n_chars bucket "
        "counts into an accumulated monitor table (counts are "
        "associative, PSI is not — accumulate-then-PSI is the only "
        "correct decomposition), and the final PSI terms against the "
        "static src0-9 baseline equal the batch x79 computation exactly "
        "(stream/batch equivalence); oracle form: identical to x79",
        PSI_DRIFT_SQL,
        tags=("streaming", "curation"),
    )
    def qs13(spark: SparkSession, sf_dir: str) -> DataFrame:
        from twitter_kafka_etl_spark.operators import curation as C
        from twitter_kafka_etl_spark.streaming.side_state import batch_dir

        docs = read_table(spark, sf_dir, "documents").select(
            "doc_id", "source", "n_chars"
        )
        src_num = F.expr("CAST(substring(source, 4) AS INT)")
        cand = docs.filter(src_num >= 10)
        # bucket-count sums are order-independent, so the cohort may
        # stage on the table-wide id width
        in_dir, work, _width = _stage_id_range(
            sf_dir, "qs13", "documents", cand, "doc_id"
        )
        monitor = os.path.join(work, "monitor")
        bucket = F.least(
            (F.col("n_chars").cast("bigint") / F.lit(256)).cast("bigint"),
            F.lit(15),
        )

        def fold(batch_df: DataFrame, batch_id: int) -> None:
            # per-batch partial aggregate into the batch's own overwrite
            # partition: the monitor table holds one tiny row-group per
            # (batch, bucket) and the final merge is a 16-group sum. A
            # batch replayed after a crash before its checkpoint commit
            # rewrites its partition instead of counting twice. At
            # production scale this write goes to the metrics store;
            # nothing here grows with corpus size except by n_buckets x
            # n_batches.
            (
                batch_df.withColumn("bucket", bucket)
                .groupBy("bucket")
                .agg(F.count(F.lit(1)).alias("n"))
                .write.mode("overwrite")
                .parquet(batch_dir(monitor, batch_id))
            )

        _run_fold(spark, in_dir, cand, work, fold)
        n_cand = (
            spark.read.parquet(monitor)
            .groupBy("bucket")
            .agg(F.sum("n").cast("bigint").alias("n_cand"))
        )
        n_base = (
            docs.filter(src_num < 10)
            .withColumn("bucket", bucket)
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n_base"))
        )
        counts = n_base.join(n_cand, "bucket", "full")
        return C.psi_from_counts(counts)


_register_qs13()


# ---------------------------------------------------------------------------
# QS14 — streaming novelty monitor (shingle-level history, qs12's pattern
# one granularity deeper)
# ---------------------------------------------------------------------------
@_register(
    "qs14_stream_novelty",
    "streaming marginal-novelty monitor: each arriving batch's distinct "
    "shingle hashes are anti-joined against the accumulated shingle "
    "index (set-membership HISTORY at shingle granularity — qs12 keeps "
    "doc fingerprints, this keeps content hashes), novel hashes append "
    "to the index, and the per-batch (n_sh, n_novel) row is the "
    "diminishing-returns curve a crawl publishes as it runs; past a "
    "crossover index size a driver-held bloom bitmap pre-probes each "
    "batch (misses skip the index scan, hits get an exact anti-join "
    "confirm — qs12's pattern at shingle granularity, counts exact in "
    "both modes); batches arrive in doc_id order so novelty-by-batch "
    "equals the batch first-occurrence computation exactly; oracle "
    "form: min-batch per shingle hash over id-range buckets",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, len(t) - 1),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
      FROM toks
    ),
    shh AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) AS sh_h
      FROM sh
    ),
    w AS (SELECT MAX(doc_id) // 4 + 1 AS width FROM documents),
    b AS (
      SELECT s.sh_h, s.doc_id // w.width AS bk FROM shh s CROSS JOIN w
    ),
    dist AS (SELECT bk, COUNT(DISTINCT sh_h) AS n_sh FROM b GROUP BY bk),
    firstb AS (SELECT sh_h, MIN(bk) AS fb FROM b GROUP BY sh_h),
    nov AS (SELECT fb AS bk, COUNT(*) AS n_novel FROM firstb GROUP BY fb)
    SELECT CAST(d.bk AS BIGINT) AS batch, CAST(d.n_sh AS BIGINT) AS n_sh,
           CAST(COALESCE(nov.n_novel, 0) AS BIGINT) AS n_novel
    FROM dist d LEFT JOIN nov ON nov.bk = d.bk
    """,
    tags=("streaming", "dedup"),
)
def qs14(spark: SparkSession, sf_dir: str) -> DataFrame:
    from twitter_kafka_etl_spark.operators import dedup as D

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    in_dir, work, width = _stage_id_range(
        sf_dir, "qs14", "documents", docs, "doc_id"
    )
    index = os.path.join(work, "shindex")
    stats = os.path.join(work, "stats")
    # qs12's gate one granularity deeper (r6 verdict item 3): the
    # crossover is counted in shingle hashes
    gate = _BloomGate(
        index,
        "sh_h",
        os.path.join(work, "bloom.parquet"),
        "SPARK_GRAFT_QS14_BLOOM_CROSSOVER",
    )

    def monitor(batch_df: DataFrame, batch_id: int) -> None:
        from twitter_kafka_etl_spark.streaming.side_state import (
            batch_dir,
            maybe_compact,
            register_batch,
        )

        # fold-start compaction of the shingle INDEX only (see qs12's
        # ingest comment): every batch anti-joins against it and the
        # pre-crossover footer walk counts it, so its dir count lands
        # on every micro-batch plan; the STATS table (one row per
        # batch, read only at serve) is a write-only landed layer per
        # side_state.py's call discipline
        maybe_compact(batch_df.sparkSession, index, batch_id)
        # batch label from the DATA (the id-range bucket every row of
        # this file shares), not the engine's batch counter — restart-
        # and replay-proof
        sh = (
            D.shingle(batch_df)
            .select(
                (F.col("doc_id") / width).cast("bigint").alias("bk"),
                D.token_hash60(F.col("shingle")).alias("sh_h"),
            )
            .distinct()
        )
        # one tiny batch: the distinct set feeds the count, the
        # novelty gate AND the index append — localCheckpoint for the
        # same re-list reason as the gate's own checkpoint
        sh = sh.localCheckpoint(eager=True)
        # own-batch partition excluded from the novelty read + per-batch
        # overwrite partitions below: idempotent under replay, same
        # reasoning as qs12's ingest (round-5 advice — the appends land
        # outside the checkpoint transaction)
        novel = gate.novel(sh, batch_id, "qs14_novel")
        row = (
            sh.groupBy("bk")
            .agg(F.count(F.lit(1)).alias("n_sh"))
            .join(
                novel.groupBy("bk").agg(F.count(F.lit(1)).alias("__nv")),
                "bk",
                "left",
            )
            .select(
                F.col("bk").alias("batch"),
                F.col("n_sh").cast("bigint").alias("n_sh"),
                F.coalesce("__nv", F.lit(0)).cast("bigint").alias("n_novel"),
            )
        )

        # stats row and index append: independent idempotent overwrites
        # of different tables off the two checkpointed frames — submit
        # concurrently (guide §2.6). The gate's bloom side-file landed
        # strictly BEFORE the index append.
        def _w_stats() -> None:
            row.write.mode("overwrite").parquet(batch_dir(stats, batch_id))

        def _w_index() -> None:
            novel.select("sh_h").write.mode("overwrite").parquet(
                batch_dir(index, batch_id)
            )
            # visible only on publish; the stats table is never
            # compacted and stays listing-visible
            register_batch(index, batch_id)

        _concurrent_actions(_w_stats, _w_index)

    _run_fold(spark, in_dir, docs, work, monitor)
    return spark.read.parquet(stats).select("batch", "n_sh", "n_novel")


# ---------------------------------------------------------------------------
# QS15 — streaming heavy hitters: cross-batch count-min merge + exact confirm
# ---------------------------------------------------------------------------
def _register_qs15() -> None:
    from twitter_kafka_etl_spark.plans.extensions import _HH_T

    @_register(
        "qs15_stream_heavy_hitters",
        "streaming heavy hitters via cross-batch sketch state: each "
        "micro-batch folds its count-min sketch cells into an "
        "accumulated monitor table (CM is cell-wise additive, so the "
        "merged sketch IS the whole-corpus build — the approximate twin "
        "of qs12/qs14's exact index history, at O(width*depth) state "
        "per batch instead of per-key), and the serve-time pass "
        "estimates candidates from the merged sketch then exact-counts "
        "only them against the landed raw layer — CM never "
        "underestimates, so no true heavy hitter is pruned and the "
        "output is bitwise the full groupBy+HAVING the oracle runs",
        f"""
        SELECT user_id, COUNT(*) AS counts
        FROM events GROUP BY user_id HAVING COUNT(*) >= {_HH_T}
        """,
        tags=("streaming", "sketch"),
    )
    def qs15(spark: SparkSession, sf_dir: str) -> DataFrame:
        from twitter_kafka_etl_spark.operators import sketches as K
        from twitter_kafka_etl_spark.streaming.side_state import read_side

        ev = read_table(spark, sf_dir, "events").select("event_id", "user_id")
        in_dir, work, _width = _stage_id_range(
            sf_dir, "qs15", "events", ev, "event_id"
        )
        cells = os.path.join(work, "cells")
        raw = os.path.join(work, "raw")

        def fold(batch_df: DataFrame, batch_id: int) -> None:
            from twitter_kafka_etl_spark.streaming.side_state import (
                batch_dir,
                maybe_compact,
                register_batch,
            )

            s = batch_df.sparkSession
            # fold-start compaction of the CELLS table only, with a
            # cell-wise SUM merge — count-min additivity means the
            # snapshot IS the merged sketch, so the fold collapses
            # history back to <= width*depth rows (the gate invariant,
            # total count mass + distinct cell set, is exactly what
            # the merge preserves). The RAW table is deliberately NOT
            # compacted inline: it is a write-only landed layer —
            # nothing reads it until serve time, so the per-batch
            # listing growth the inline folds exist to cap never
            # touches it, and an inline rewrite of a linearly-growing
            # corpus is pure overhead (measured +21% on the r12
            # 100-batch probe before this split). Its small-file
            # maintenance is the offline x55 compaction job, like any
            # other landed table.
            maybe_compact(
                s,
                cells,
                batch_id,
                merge=lambda df: df.groupBy("depth", "cell").agg(
                    F.sum("counts").alias("counts")
                ),
                invariant=lambda df: df.agg(
                    F.sum("counts").cast("bigint").alias("mass"),
                    F.countDistinct("depth", "cell").alias("cells"),
                ),
            )
            # land the raw batch AND its sketch cells; the monitor table
            # grows by <= width*depth rows per batch, never per key.
            # Per-batch OVERWRITE partitions (r12): the previous plain
            # appends double-counted a replayed batch — this was the
            # one ingest fold still violating the idempotent-sink
            # contract qs12's round-5 fix established.
            batch_df.write.mode("overwrite").parquet(batch_dir(raw, batch_id))
            K.count_min_build(batch_df, "user_id").write.mode(
                "overwrite"
            ).parquet(batch_dir(cells, batch_id))
            # visible only on publish; raw stays listing-visible
            register_batch(cells, batch_id)

        _run_fold(spark, in_dir, ev, work, fold)
        # serve time: merge = cell-wise sum (CM additivity), then the
        # map-side candidate filter + exact confirm against the landed
        # raw layer (heavy_hitters_from_sketch: rows pre-filter against
        # the broadcast cell map, so only candidate-key rows shuffle —
        # no full-cardinality distinct, no NULL-dropping semi join)
        merged = (
            read_side(spark, cells)
            .groupBy("depth", "cell")
            .agg(F.sum("counts").alias("counts"))
        )
        landed = spark.read.parquet(raw)
        return K.heavy_hitters_from_sketch(landed, merged, "user_id", _HH_T)


_register_qs15()


# ---------------------------------------------------------------------------
# QS16 — streaming mixture monitor: cumulative temperature weights per batch
# ---------------------------------------------------------------------------
@_register(
    "qs16_stream_mixture_monitor",
    "streaming mixture-plan monitor: each micro-batch folds per-source "
    "doc/token partial counts into a batch-partitioned monitor table "
    "(replay-idempotent per-batch overwrite partitions, batch label "
    "from the data's id-range bucket); serve-time readback computes, "
    "for every batch horizon, the CUMULATIVE per-source temperature "
    "weights (share^0.7, the x86 rule via the shared single-site "
    "helper) — the live view of how the sampling plan converges as a "
    "crawl lands, so a curator sees source boosts stabilize instead of "
    "recomputing the mix from scratch per snapshot; oracle form: "
    "id-range buckets, cumulative sums over bk <= batch, identical "
    "quantized-pow normalization",
    """
    WITH w AS (SELECT MAX(doc_id) // 4 + 1 AS width FROM documents),
    per AS (
      SELECT doc_id // w.width AS bk, source,
             len(string_split(text, ' ')) AS n
      FROM documents CROSS JOIN w
    ),
    agg AS (
      SELECT bk, source, COUNT(*) AS nd, SUM(n) AS nt
      FROM per GROUP BY 1, 2
    ),
    sp AS (SELECT DISTINCT bk AS batch FROM agg),
    cum AS (
      SELECT sp.batch, source, SUM(nd) AS cum_docs, SUM(nt) AS cum_tokens
      FROM sp JOIN agg ON agg.bk <= sp.batch GROUP BY 1, 2
    ),
    tot AS (SELECT batch, SUM(cum_tokens) AS tot FROM cum GROUP BY batch),
    p AS (
      SELECT batch, source, cum_docs, cum_tokens,
             CAST(cum_tokens AS DOUBLE) / tot AS share,
             CAST(round(pow(CAST(cum_tokens AS DOUBLE) / tot, 0.7) * 1e12,
                        0) AS BIGINT) AS pwq
      FROM cum JOIN tot USING (batch)
    ),
    den AS (SELECT batch, SUM(pwq) AS den FROM p GROUP BY batch)
    SELECT CAST(batch AS BIGINT) AS batch, source,
           CAST(cum_docs AS BIGINT) AS cum_docs,
           CAST(cum_tokens AS BIGINT) AS cum_tokens,
           round(share, 6) AS raw_share,
           round(CAST(pwq AS DOUBLE) / den, 6) AS temp_weight,
           round(CAST(pwq AS DOUBLE) / den / share, 6) AS boost
    FROM p JOIN den USING (batch)
    """,
    tags=("streaming", "curation"),
)
def qs16(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark import StorageLevel

    from twitter_kafka_etl_spark.operators.curation import temperature_weights
    from twitter_kafka_etl_spark.operators.text import tokenize
    from twitter_kafka_etl_spark.streaming.side_state import batch_dir

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    in_dir, work, width = _stage_id_range(
        sf_dir, "qs16", "documents", docs, "doc_id"
    )
    stats = os.path.join(work, "stats")

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        # batch label from the DATA (the id-range bucket every row of
        # this file shares), not the engine's batch counter — restart-
        # and replay-proof, like qs14; the per-batch overwrite
        # partition makes a replayed batch rewrite, not double-count
        (
            batch_df.select(
                (F.col("doc_id") / width).cast("bigint").alias("bk"),
                F.col("source"),
                F.size(tokenize("text")).alias("__n"),
            )
            .groupBy("bk", "source")
            .agg(
                F.count(F.lit(1)).alias("nd"),
                F.sum("__n").alias("nt"),
            )
            .write.mode("overwrite")
            .parquet(batch_dir(stats, batch_id))
        )

    _run_fold(spark, in_dir, docs, work, fold)
    # serve-time cumulative view: batches × sources rows — bounded by
    # the horizon count, never the corpus. The bk<=batch spine join is
    # the oracle's cum CTE; the temperature math is the x86 single-site
    # helper, normalized within each batch horizon.
    agg = spark.read.parquet(stats).select("bk", "source", "nd", "nt")
    spine = agg.select(F.col("bk").alias("batch")).distinct()
    cum = (
        spine.join(agg, agg.bk <= spine.batch)
        .groupBy("batch", "source")
        .agg(
            F.sum("nd").alias("cum_docs"),
            F.sum("nt").alias("cum_tokens"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    return temperature_weights(
        cum, group_col="source", tokens_col="cum_tokens", by=("batch",)
    )


# ---------------------------------------------------------------------------
# QS17 — incremental NEAR-dup ingest: exact fp + MinHash band index vs
# accumulated KEPT history (qs12's pattern lifted from exact to near-dup)
# ---------------------------------------------------------------------------
def _register_qs17() -> None:
    from twitter_kafka_etl_spark.plans.extensions import (
        _BAND_BRANCHES,
        _SIG_CTE,
    )

    # The kept set is recursive across batches (a doc is kept iff it
    # misses every EARLIER-KEPT doc's fingerprint and band buckets) —
    # SQL-expressible because the harness arrival schedule is exactly 4
    # id-range batches, so the recursion unrolls to 4 CTE levels.
    levels = []
    prior = "k0"
    for i in (1, 2, 3):
        levels.append(f"""
    pr{i} AS (SELECT doc_id FROM {prior}),
    h{i} AS (
      SELECT DISTINCT a.doc_id FROM bb a
        JOIN bb p ON a.band = p.band AND a.sig = p.sig
        JOIN pr{i} ON p.doc_id = pr{i}.doc_id
      WHERE a.bk = {i}
      UNION
      SELECT a.doc_id FROM ddf a
        JOIN ddf p ON a.fp = p.fp
        JOIN pr{i} ON p.doc_id = pr{i}.doc_id
      WHERE a.bk = {i}
    ),
    k{i} AS (SELECT doc_id, bk FROM dd WHERE bk = {i}
             AND doc_id NOT IN (SELECT doc_id FROM h{i}))""")
        prior = f"(SELECT doc_id, NULL bk FROM pr{i} UNION ALL SELECT doc_id, NULL bk FROM k{i})"
    unrolled = ",".join(levels)

    @_register(
        "qs17_stream_neardup_ingest",
        "incremental NEAR-dup ingest: each arriving batch is deduped "
        "within itself (min doc_id per md5 fingerprint), then rejected "
        "if its fingerprint OR any of its 4 MinHash band buckets "
        "matches the accumulated index of EARLIER-KEPT documents; "
        "survivors append their fingerprint+bands to the index — "
        "qs12's crawl-ingest pattern lifted from exact to near-dup, "
        "with state = (16 B fp + 4 band keys) per KEPT doc, not a "
        "state store; sub-shingle docs carry no bands and pass only "
        "the exact gate (the x98 blind-spot cell, live); oracle form: "
        "the 4-batch recursion unrolled over id-range buckets",
        f"""
    WITH {_SIG_CTE},
    bands AS (
    {_BAND_BRANCHES}
    ),
    w AS (SELECT MAX(doc_id) // 4 + 1 AS width FROM documents),
    d0 AS (
      SELECT doc_id, md5(text) AS fp, doc_id // w.width AS bk,
             ROW_NUMBER() OVER (
               PARTITION BY doc_id // w.width, md5(text)
               ORDER BY doc_id) AS rn
      FROM documents CROSS JOIN w
    ),
    dd AS (SELECT doc_id, bk FROM d0 WHERE rn = 1),
    ddf AS (SELECT doc_id, bk, fp FROM d0 WHERE rn = 1),
    bb AS (SELECT b.doc_id, b.band, b.sig, dd.bk
           FROM bands b JOIN dd USING (doc_id)),
    k0 AS (SELECT doc_id, bk FROM dd WHERE bk = 0),
    {unrolled}
    SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(bk AS BIGINT) AS batch
    FROM (SELECT * FROM k0 UNION ALL SELECT * FROM k1
          UNION ALL SELECT * FROM k2 UNION ALL SELECT * FROM k3)
    """,
        tags=("streaming", "dedup"),
    )
    def qs17(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyspark.sql import Window

        from twitter_kafka_etl_spark.operators import dedup as D
        from twitter_kafka_etl_spark.streaming.side_state import read_side

        docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
        in_dir, work, width = _stage_id_range(
            sf_dir, "qs17", "documents", docs, "doc_id"
        )
        corpus = os.path.join(work, "corpus")
        bandidx = os.path.join(work, "bandidx")

        def ingest(batch_df: DataFrame, batch_id: int) -> None:
            from twitter_kafka_etl_spark.streaming.side_state import (
                batch_dir,
                maybe_compact,
                register_batch,
            )

            s = batch_df.sparkSession
            # fold-start side-state compaction of the kept corpus and
            # band index (see qs12's ingest comment): caps the
            # per-batch partition listing walk the r11 probe isolated
            maybe_compact(s, corpus, batch_id)
            maybe_compact(s, bandidx, batch_id)
            # within-batch exact dedup, batch label from the DATA
            fp = batch_df.select(
                "doc_id",
                (F.col("doc_id") / width).cast("bigint").alias("batch"),
                F.md5("text").alias("fp"),
                "text",
            )
            w_ = Window.partitionBy("fp").orderBy("doc_id")
            novel = (
                fp.withColumn("__rn", F.row_number().over(w_))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
            # pin the window dedup ONCE: novel feeds both the band build
            # and the kept-set joins, and without this checkpoint each
            # consumer's plan re-ran the full window subtree — the whole
            # batch exchanged and sorted twice per micro-batch (guide
            # §1.2/§2.4; at production batch sizes that is a duplicated
            # full-batch shuffle, the dominant per-trigger data movement)
            _tap_frame(novel, "qs17_novel")
            novel = novel.localCheckpoint(eager=True)
            # bands of this batch's candidates (tiny: 4 rows/doc) —
            # narrow from the pinned novel (no exchange), checkpointed so
            # the hit probe and the index append don't re-run the
            # shingle+minhash subtree
            bands = D.band_rows(
                D.minhash_signatures(D.shingle(novel.select("doc_id", "text")))
            ).localCheckpoint(eager=True)
            # hit = exact fp in earlier-KEPT corpus OR any band bucket
            # in earlier-KEPT band index (own-batch partitions excluded
            # → replay-idempotent, per the qs12 round-5 advice fix).
            # Two CHAINED anti-joins, not semi-joins→union→distinct→
            # anti: novel is unique per fp (the window dedup above), so
            # anti-joining away fp matches, then doc_ids with a band
            # hit, drops exactly the old hit set — minus the union's
            # distinct, a whole exchange+aggregate per micro-batch that
            # existed only to dedup the overlap the anti-join semantics
            # absorb for free (guide §2.4: remove shuffles outright).
            if os.path.exists(corpus):
                seen_fp = read_side(s, corpus, exclude=batch_id).select("fp")
                seen_bands = read_side(s, bandidx, exclude=batch_id).select(
                    "band", "sig"
                )
                band_hits = bands.join(
                    seen_bands, ["band", "sig"], "left_semi"
                ).select("doc_id")
                kept = novel.join(seen_fp, "fp", "left_anti").join(
                    band_hits, "doc_id", "left_anti"
                )
            else:
                kept = novel
            # pin before the two appends (the re-list footgun of
            # _BloomGate.novel: the first append extends the file source
            # the second plan would re-list). Project to the three columns the appends
            # read BEFORE pinning: text rides along only to feed the
            # band build (already done, off the novel checkpoint), so
            # materializing it here paid the batch's full text payload
            # into block storage for nothing.
            kept = kept.select("doc_id", "batch", "fp")
            _tap_frame(kept, "qs17_kept")
            kept = kept.localCheckpoint(eager=True)

            # the two side-table appends are independent idempotent
            # overwrites of different tables off checkpointed frames:
            # submit them concurrently (guide §2.6) — each thread
            # publishes its OWN table's manifest generation after its
            # write
            def _w_corpus() -> None:
                kept.select("doc_id", "batch", "fp").write.mode(
                    "overwrite"
                ).parquet(batch_dir(corpus, batch_id))
                register_batch(corpus, batch_id)

            def _w_bands() -> None:
                bands.join(
                    kept.select("doc_id"), "doc_id", "left_semi"
                ).write.mode("overwrite").parquet(batch_dir(bandidx, batch_id))
                register_batch(bandidx, batch_id)

            _concurrent_actions(_w_corpus, _w_bands)

        _run_fold(spark, in_dir, docs, work, ingest)
        return read_side(spark, corpus).select("doc_id", "batch")


_register_qs17()
