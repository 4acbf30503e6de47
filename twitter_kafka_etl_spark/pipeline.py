"""Reference-shaped analytics pipeline (consumer.scala:157-188).

The reference's serving-layer computation: per-topic positivity rate +
counts (A1), per-(topic, emotion) counts pivoted wide (A2+A3), inner join
of the two branches (J1). Re-expressed as ONE conditional aggregate:

- the rate, the count and one ``count(when(emotion = e, 1))`` per label
  are computed in a single ``groupBy(topic)``, so the plan has one scan
  of the input, one evaluation of every upstream column (both classifier
  UDFs sit in one ArrowEvalPython node) and one shuffle, with no
  aggregate-side join. Two branches joined back would not share a scan:
  column pruning gives each branch only the column it aggregates, so the
  sentiment UDF lands in one branch and the emotion UDF in the other;
- the pivoted columns come from an explicit label list (no driver-side
  distinct scan — the reference's bare pivot at consumer.scala:170
  collects distinct emotions to the driver, unbounded at scale).

``enrich`` attaches sentiment/emotion labels. The reference uses Spark-NLP
pretrained models (consumer.scala:85,139); the engine's default backend is
a deterministic rule classifier with identical shape (text→label), and the
operators/text.py pandas-UDF backend is the pluggable real-model path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from twitter_kafka_etl_spark.functions.scalar import positivity_flag

SENTIMENTS = ["positive", "negative", "neutral"]
#: label set evidenced at streamviz/wrangling.py:26-27
EMOTIONS = ["surprise", "fear", "joy", "sadness", "anger", "love"]


def enrich_rule_based(df: DataFrame, value_col: str = "value", key_col: str = "event_id") -> DataFrame:
    """Deterministic stand-in for the NLP annotators (U1/U2): assigns
    sentiment by value terciles and emotion by key modulo — same output
    shape as consumer.scala:127-128,149-154."""
    sentiment = (
        F.when(F.col(value_col) > 10, "positive")
        .when(F.col(value_col) > 3, "neutral")
        .otherwise("negative")
    )
    emotion = F.element_at(
        F.array(*[F.lit(e) for e in EMOTIONS]),
        (F.col(key_col) % len(EMOTIONS) + 1).cast("int"),
    )
    return df.withColumn("sentiment", sentiment).withColumn("emotion", emotion)


def topic_aggregates(enriched: DataFrame, topic_col: str = "topic") -> DataFrame:
    """consumer.scala:158-174 — positivity branch ⋈ emotion-pivot branch,
    as one conditional aggregate with the same columns, order and dtypes:
    ``topic_agg, positivity_rate, counts, <topic_col>, *EMOTIONS``.

    The null-topic filter keeps the reference's inner-join semantics: a
    null topic is a group in each branch, and ``null = null`` drops it
    from the join. Each label column counts only its own label, as the
    explicit-list pivot with ``fill=0`` does; out-of-set and null
    emotions still count in ``counts``."""
    emotion = F.col("emotion")
    agg = (
        enriched.filter(F.col(topic_col).isNotNull())
        .groupBy(topic_col)
        .agg(
            F.round(F.avg(positivity_flag("sentiment")), 2).alias("positivity_rate"),
            F.count(F.lit(1)).alias("counts"),
            *[F.count(F.when(emotion == e, 1)).alias(e) for e in EMOTIONS],
        )
    )
    return agg.select(
        F.col(topic_col).alias("topic_agg"), "positivity_rate", "counts",
        topic_col, *EMOTIONS,
    )
