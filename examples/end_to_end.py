"""The reference pipeline, end to end, on this engine.

Maps stage-for-stage onto h-crawshaw/twitter-kafka-etl:

| Reference stage | Here |
|---|---|
| Producer: tweet JSON → keyed Kafka messages (twitter_producer.py:30-33,62-64) | stage 1: events → Kafka wire shape (key/value/topic) |
| Consumer ingest: Kafka → flatten → hourly partitioned raw parquet (consumer.scala:56-82) | stage 2: checkpointed stream → date/hour-partitioned parquet |
| Batch enrich: Spark-NLP sentiment+emotion (consumer.scala:85-155) | stage 3: Arrow pandas-UDF classifiers over documents' text backed by REAL learned-weight artifacts — two .npz checkpoints (hashed-BoW softmax, trained at pipeline setup) loaded once per worker and scored one matmul per Arrow batch; the plan is identical for a transformers checkpoint |
| Batch aggregate: positivity ⋈ emotion pivot → Mongo/parquet (consumer.scala:157-188) | stage 4: same aggregate as one conditional groupBy, dual parquet sinks that both actually save |
| Viz wrangling: pandas melt/dedup (streamviz/) | stage 5: unpivot → Arrow toPandas hand-off |

Run: ``python examples/end_to_end.py [sf_dir]`` (default sf0.001).

A real deployment swaps the file-source stream for io.read_kafka_stream
and the parquet "serving" sink for the store of choice — no other line
changes; that's the point of building on Structured Streaming.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from twitter_kafka_etl_spark.functions.scalar import construct_key, derive_date_hour
from twitter_kafka_etl_spark.io import read_table, to_pandas, write_partitioned
from twitter_kafka_etl_spark.operators import relational as R
from twitter_kafka_etl_spark.operators.model_artifact import (
    linear_model_backend,
    save_artifact,
    train_linear_classifier,
)
from twitter_kafka_etl_spark.operators.text import enrich_text
from twitter_kafka_etl_spark.pipeline import EMOTIONS, SENTIMENTS, topic_aggregates
from twitter_kafka_etl_spark.session import get_spark
from twitter_kafka_etl_spark.streaming.windows import kafka_shaped

#: tiny labeled bootstrap corpora for the two enrichment checkpoints —
#: stand-ins for the reference's PRETRAINED annotators (sentiment
#: consumer.scala:85,125-128; DistilBERT emotion consumer.scala:132-155).
#: A production deployment replaces train-at-setup with any real
#: training stack; the .npz artifact layout and the executor-side
#: load-once / matmul-per-Arrow-batch lifecycle are what this example
#: proves end-to-end.
_SENTIMENT_SEED = {
    "positive": ["great fantastic love it", "wonderful amazing happy day",
                 "best joy superb delight"],
    "negative": ["terrible awful hate it", "worst horrible broken day",
                 "sad bad angry failure"],
    "neutral": ["the report is due monday", "it rained for an hour",
                "the meeting moved rooms"],
}
_EMOTION_SEED = {
    "surprise": ["wow unexpected twist shock", "did not see that coming"],
    "fear": ["scared terrified of the dark", "afraid panic dread looming"],
    "joy": ["delighted cheerful bright smile", "laughing happy celebration"],
    "sadness": ["tears grief heavy heart", "lonely mourning quiet loss"],
    "anger": ["furious rage slammed the door", "outraged shouting unfair"],
    "love": ["adore cherish warm embrace", "devoted tender sweetheart"],
}


def train_enrichment_artifacts(model_dir: str) -> tuple[str, str]:
    """Train + persist the two .npz checkpoints the enrichment stage
    loads (sentiment over SENTIMENTS, emotion over EMOTIONS). Returns
    their paths. Milliseconds of driver work; the artifacts then ship
    to executors like any model snapshot (spark.files / shared store).
    """
    os.makedirs(model_dir, exist_ok=True)
    paths = []
    for name, seed, classes in (
        ("sentiment", _SENTIMENT_SEED, SENTIMENTS),
        ("emotion", _EMOTION_SEED, EMOTIONS),
    ):
        assert set(seed) == set(classes)
        texts = [t for label in classes for t in seed[label] * 10]
        labels = [label for label in classes for _ in seed[label] * 10]
        path = os.path.join(model_dir, f"{name}.npz")
        save_artifact(train_linear_classifier(texts, labels), path)
        paths.append(path)
    return paths[0], paths[1]


def main(sf_dir: str = "/root/testdata/sf0.001", work: str | None = None):
    spark = get_spark("tkes-end-to-end")
    work = work or os.path.join(tempfile.gettempdir(), "tkes_e2e")
    shutil.rmtree(work, ignore_errors=True)

    # stage 1 — producer shape: keyed, topic-routed wire records
    events = read_table(spark, sf_dir, "events")
    wire = kafka_shaped(
        events,
        key_col=construct_key("event_type", "event_id"),
        topic_col=F.col("event_type"),
    )
    wire_path = os.path.join(work, "wire")
    wire.write.parquet(wire_path)

    # stage 2 — streaming ingest of the wire records into the raw layer
    # (file source stands in for the broker; the plan is source-agnostic)
    stream = (
        spark.readStream.schema(wire.schema).parquet(wire_path)
        .withColumn("payload", F.from_json("value", events.schema.simpleString()))
        .select("payload.*")
    )
    raw_path = os.path.join(work, "raw")
    q = (
        derive_date_hour(stream, "ts")
        .coalesce(1)
        .writeStream.format("parquet")
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .option("path", raw_path)
        .outputMode("append")
        .partitionBy("date", "hour")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # stage 3 — enrichment: text classification over documents, joined to
    # the raw events by id bucket (the reference classifies each tweet's
    # text; the synthetic schema keeps text in `documents`). The
    # backends are LEARNED-WEIGHT artifacts loaded from disk — the
    # reference's pretrained-annotator stage (consumer.scala:125-155),
    # not the lexicon fallback.
    sent_art, emo_art = train_enrichment_artifacts(os.path.join(work, "models"))
    raw = spark.read.parquet(raw_path)
    docs = enrich_text(
        read_table(spark, sf_dir, "documents"),
        sentiment_backend=linear_model_backend(sent_art),
        emotion_backend=linear_model_backend(emo_art),
    )
    n_docs = docs.count()
    enriched = raw.withColumn("doc_id", F.pmod("event_id", F.lit(n_docs))).join(
        F.broadcast(docs.select("doc_id", "sentiment", "emotion")), "doc_id"
    ).withColumnRenamed("event_type", "topic")

    # stage 4 — the serving aggregate, landed in TWO sinks (the
    # reference's Mongo+parquet dual write, with both .save()s real)
    serving = topic_aggregates(enriched)
    write_partitioned(serving, os.path.join(work, "serving_a"), [])
    write_partitioned(serving, os.path.join(work, "serving_b"), [])

    # stage 5 — viz hand-off: wide → long → pandas
    long = R.unpivot_long(
        serving.select("topic_agg", *EMOTIONS), ["topic_agg"], EMOTIONS,
        "emotion", "counts",
    )
    pdf = to_pandas(long)
    print(f"raw rows: {raw.count()}  serving rows: {serving.count()}  "
          f"long rows: {len(pdf)}")
    return pdf


if __name__ == "__main__":
    main(*sys.argv[1:])
