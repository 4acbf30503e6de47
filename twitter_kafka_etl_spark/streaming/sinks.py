"""Multi-sink streaming delivery (S6/S7 + T7, SURVEY §2.9/§2.11).

The reference lands the same aggregate in MongoDB *and* Parquet as two
separate batch writes (consumer.scala:176-187 — the second of which never
fires, missing ``.save()``). The engine's equivalent is a single
``foreachBatch`` stream: each micro-batch DataFrame is delivered to every
registered sink inside one hook.

Delivery is at-least-once: a sink's write lands outside the streaming
checkpoint transaction, so a batch replayed after a crash between the
write and the checkpoint commit is delivered again. A parquet append
sink then holds that batch twice — availableNow + checkpoint do not make
appends exactly-once. Exactly-once contents need an idempotent sink:
the ingest folds (queries.py qs12-qs17) overwrite one partition per
batch (``side_state.batch_dir``), so a replay rewrites instead of
adding; an external store gets the same from (batch_id, sink)
bookkeeping (``external_sink``'s ``idempotent_key``).

Scale note: ``foreachBatch`` re-executes the batch plan once per sink
unless persisted — so the hook persists the batch, fans out, then
unpersists. One scan, N sinks.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame


def foreach_batch_fanout(
    stream_df: DataFrame,
    sinks: Sequence[Callable[[DataFrame, int], None]],
    checkpoint: str,
    available_now: bool = True,
):
    """Run a stream delivering every micro-batch to all ``sinks``
    (callables of (batch_df, batch_id)). Returns the started query.

    The micro-batch is persisted once so N sinks don't trigger N
    recomputations of the batch plan (T7 hand-off, minus the
    reference's unreachable second write)."""

    def _deliver(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            for sink in sinks:
                sink(batch_df, batch_id)
        finally:
            batch_df.unpersist()

    writer = (
        stream_df.writeStream.foreachBatch(_deliver)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def parquet_append_sink(path: str) -> Callable[[DataFrame, int], None]:
    """A parquet-append sink factory for foreach_batch_fanout — the
    engine's test stand-in for the reference's MongoDB sink (S6,
    consumer.scala:176-181): any store with a Spark writer slots in the
    same way."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(path)

    return _sink


def external_sink(
    fmt: str,
    options: dict[str, str] | None = None,
    mode: str = "append",
    idempotent_key: str | None = None,
) -> Callable[[DataFrame, int], None]:
    """Generic document-store / external-system sink factory (S6) —
    the adapter the reference hardcodes to MongoDB
    (consumer.scala:176-181). Any DataSource with a Spark batch writer
    plugs in by name: ``external_sink("mongodb", {"connection.uri": …,
    "database": …, "collection": …})``, ``external_sink("jdbc", …)``,
    ``external_sink("delta", …)``.

    ``idempotent_key``: column name to stamp with the micro-batch id —
    replayed batches (restart between sink write and checkpoint commit)
    can then be deduplicated store-side (upsert on it, or MERGE), the
    standard exactly-once recipe for stores without transactional
    streaming commits.
    """
    from pyspark.sql import functions as F

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        out = batch_df
        if idempotent_key:
            out = out.withColumn(idempotent_key, F.lit(batch_id))
        out.write.format(fmt).options(**(options or {})).mode(mode).save()

    return _sink
