"""Physical-plan quality gates (SURVEY §4).

Correctness says what a query returns; these tests pin *how* Spark runs
it — the properties that decide whether the same plan survives a 100×
scale-up: predicate pushdown into the parquet scan, column pruning,
broadcast joins for small dimensions, map-side partial aggregation, and
no Python row-at-a-time UDFs in JVM-expressible paths.
"""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame

from twitter_kafka_etl_spark.io import read_table
from twitter_kafka_etl_spark.plans import REGISTRY


def plan_of(df: DataFrame, mode: str = "formatted") -> str:
    """The explain string PySpark's df.explain prints, as a value."""
    return df.sparkSession._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def test_q01_filter_pushed_to_scan(spark, sf_dir):
    """The date/hour predicate must reach the parquet reader — this is
    what replaces the reference's manual path math (consumer.scala:89-123)."""
    plan = plan_of(REGISTRY["q01_pruned_scan"].build(spark, sf_dir))
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    # the actual time-range bounds reach the reader (row-group skipping),
    # not just IsNotNull
    assert "GreaterThanOrEqual(ts" in pushed and "LessThan(ts" in pushed, pushed


def test_q05_column_pruning(spark, sf_dir):
    """A 4-column projection must not read documents/props payloads:
    ReadSchema excludes untouched columns."""
    plan = plan_of(REGISTRY["q05_filter_project"].build(spark, sf_dir))
    read_schema = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "props" not in read_schema


def test_q08_broadcast_join(spark, sf_dir):
    """customer is a dimension: the join must be a broadcast hash join,
    not a shuffled sort-merge join."""
    plan = plan_of(REGISTRY["q08_inner_join"].build(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q11_partial_aggregation(spark, sf_dir):
    """groupBy must partial-aggregate map-side: two HashAggregate nodes
    (partial + final) so only (group, partial) pairs shuffle."""
    plan = plan_of(REGISTRY["q11_conditional_rate"].build(spark, sf_dir))
    assert plan.count("HashAggregate") >= 2


def test_q12_whole_stage_codegen(spark, sf_dir):
    """The count-agg path stays inside whole-stage codegen spans.
    AQE finalizes the physical plan only on execution, so run it first."""
    df = REGISTRY["q12_two_key_count"].build(spark, sf_dir)
    df.collect()
    plan = plan_of(df, "simple")
    assert "isFinalPlan=true" in plan
    assert "*(" in plan  # codegen stage markers


@pytest.mark.parametrize(
    "name",
    [
        "q01_pruned_scan", "q07_pivot", "q11_conditional_rate",
        "q16_dedup_keys", "q24_asof_join", "q28_session_window",
        "q30_time_rollup", "q31_range_join", "q33_topk_per_group",
        "q36_posexplode_dims", "q37_percentiles",
        "x01_dedup_exact", "x02_dedup_minhash_signatures",
        "x03_dedup_minhash_lsh_pairs", "x04_dedup_simhash",
        "x05_dedup_simhash_pairs", "x06_dedup_ngram_jaccard",
        "x08_sim_topk_bruteforce", "x09_sim_ann_lsh", "x16_sim_ivf",
        "x10_text_langid", "x11_text_quality", "x12_text_tokens",
        "x13_text_fingerprint", "x18_text_winnowing",
        "x19_sketch_countmin", "x20_sketch_countmin_estimate",
        "x21_curation_sample", "x22_curation_split",
        "x23_curation_pack", "x24_curation_chunks",
        "x32_decontaminate", "x33_sketch_bloom",
        "x34_vocab_coverage", "x35_price_histogram",
        "x43_salted_join", "x44_pii_redaction", "x45_embedding_quantize",
        "x46_dedup_jaccard_estimate", "x47_embedding_project",
        "x48_sketch_ams_f2", "x49_length_buckets", "x50_dataset_mixture",
        "x51_snapshot_diff", "x52_heavy_hitters", "x53_duplicated_spans",
        "x54_quality_gate", "x55_compaction_roundtrip", "x56_span_removal",
        "x57_bm25_rank", "x58_hll_merge", "x59_lsh_eval",
        "x60_nearest_duplicate", "x61_hll_accuracy", "x62_k_anonymity",
        "x63_pair_graph_degree", "x64_session_sequences",
        "x65_split_leakage", "x66_semantic_dedup", "x67_prototype_prune",
        "x68_dsir_selection", "x69_langid_eval",
        "x70_unigram_nll", "x71_bpe_pair_stats",
        "x72_lsh_sensitivity_curve", "x73_edit_distance_verify",
        "x74_charset_profile", "x75_lsh_bucket_histogram",
        "x76_weighted_sample", "x77_containment_pairs",
        "x78_source_overlap", "x79_psi_drift", "x80_table_profile",
        "x81_shingle_novelty", "x82_robust_outliers", "x83_bigram_nll",
        "x84_dedup_threshold_curve", "x85_segment_dedup",
        "x86_mixture_temperature", "x87_source_divergence",
        "x88_pmi_bigrams", "x89_cluster_size_profile",
        "x90_winnow_matches", "x91_cross_source_leakage",
        "x92_embedding_profile", "x93_packing_stats",
        "x94_feature_correlation", "x95_source_stylometry",
        "x96_dup_growth_curve", "x97_embedding_separation",
        "x98_dedup_method_agreement", "x99_dedup_source_yield",
        "x100_quality_dedup_calibration", "x101_bootstrap_source_ci",
    ],
)
def test_no_python_udf_in_jvm_paths(spark, sf_dir, name):
    """JVM-expressible operators must not smuggle in Python row UDFs:
    the hot path stays codegen'd (SURVEY §4 'Python↔JVM data movement')."""
    plan = plan_of(REGISTRY[name].build(spark, sf_dir))
    assert "BatchEvalPython" not in plan  # row-at-a-time Python UDF
    assert "PythonUDF" not in plan


def test_no_cartesian_products_anywhere(spark, sf_dir):
    """No declared query may contain an unconstrained cross join — the
    one plan shape that can never survive a scale-up."""
    offenders = []
    for name, spec in REGISTRY.items():
        if "streaming" in spec.tags:
            continue  # streaming builds execute eagerly; covered by QS tests
        plan = plan_of(spec.build(spark, sf_dir), "simple")
        if "CartesianProduct" in plan:
            offenders.append(name)
    assert not offenders, f"cartesian products in: {offenders}"


def test_q02_partitioned_write_prunes_on_read(spark, sf_dir, tmp_path):
    """Reading one partition of a partitioned table must scan only that
    partition's files (partition pruning via directory layout)."""
    from twitter_kafka_etl_spark.io import write_partitioned

    ev = read_table(spark, sf_dir, "events")
    out = str(tmp_path / "part_events")
    write_partitioned(ev, out, ["event_type"], mode="overwrite")
    one = spark.read.parquet(out).filter("event_type = 'click'")
    plan = plan_of(one)
    # partition filters are listed separately from data filters
    assert "PartitionFilters: [" in plan
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "event_type" in pf


def test_q24_asof_single_shuffle(spark, sf_dir):
    """The as-of join is union+window: exactly one exchange on user_id,
    never a range-join/nested-loop explosion."""
    plan = plan_of(REGISTRY["q24_asof_join"].build(spark, sf_dir), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # one shuffle for the window partitioning (AQE may add a read stage)
    assert plan.count("Exchange hashpartitioning") <= 2


def test_salted_join_equals_plain_join(spark, sf_dir):
    """Salting redistributes rows, never changes the result."""
    from twitter_kafka_etl_spark.operators.relational import salted_join

    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    plain = orders.join(customer, "o_custkey").groupBy("c_mktsegment").count()
    salted = (
        salted_join(orders, customer, "o_custkey", salt=8)
        .groupBy("c_mktsegment").count()
    )
    assert sorted(plain.collect()) == sorted(salted.collect())


def test_salted_agg_equals_plain_agg(spark, sf_dir):
    from twitter_kafka_etl_spark.operators.relational import salted_agg
    from pyspark.sql import functions as F

    ev = read_table(spark, sf_dir, "events")
    plain = {
        r.event_type: (r.c, round(r.s, 6))
        for r in ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("c"),
             F.sum(F.col("value").cast("decimal(18,2)")).alias("s"))
        .collect()
    }
    salted = {
        r.event_type: (r.counts, round(r.total, 6))
        for r in salted_agg(
            ev.withColumn("value", F.col("value").cast("decimal(18,2)")),
            "event_type", "value", salt=16,
        ).collect()
    }
    assert plain == salted


def test_bucketed_join_needs_no_shuffle(spark, sf_dir, tmp_path):
    """Two tables bucketed on the join key: the sort-merge join reads
    co-located buckets directly — zero Exchange nodes in the plan."""
    from pyspark.sql import functions as F

    from twitter_kafka_etl_spark.io import write_bucketed

    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    write_bucketed(orders, "b_orders", "o_custkey", n_buckets=8,
                   sort_by="o_custkey")
    write_bucketed(customer, "b_customer", "o_custkey", n_buckets=8,
                   sort_by="o_custkey")
    try:
        # disable broadcast so the co-location (not a broadcast) is what
        # removes the shuffle
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("b_orders").join(spark.table("b_customer"), "o_custkey")
        plan = plan_of(joined, "simple")
        assert "Exchange" not in plan, plan
        assert joined.count() == read_table(spark, sf_dir, "orders").join(
            read_table(spark, sf_dir, "customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        ).count()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_cosine_pairs_lsh_path_is_bucketed_equi_join(spark, sf_dir):
    """The large-n path must be a bucket equi-join: no Python block
    matmul (FlatMapGroupsInPandas), no cross join — the plan shape that
    survives 100 TB."""
    from twitter_kafka_etl_spark.operators.similarity import cosine_pairs

    emb = read_table(spark, sf_dir, "embeddings")
    plan = plan_of(cosine_pairs(emb, threshold=0.35, use_lsh_prefilter=True))
    assert "FlatMapGroupsInPandas" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cosine_pairs_auto_switches_on_row_count(spark, sf_dir):
    """use_lsh_prefilter=None: small inputs keep the exact blocked
    matmul; inputs above lsh_auto_rows flip to the bucketed join."""
    from twitter_kafka_etl_spark.operators.similarity import cosine_pairs

    emb = read_table(spark, sf_dir, "embeddings")
    small = plan_of(cosine_pairs(emb, threshold=0.35))  # n << default cap
    assert "FlatMapGroupsInPandas" in small
    big = plan_of(cosine_pairs(emb, threshold=0.35, lsh_auto_rows=0))
    assert "FlatMapGroupsInPandas" not in big


def test_ivf_assign_shuffles_no_arrays(spark, sf_dir):
    """IVF assignment must aggregate map-side over array-free rows: the
    argmax is a max_by partial agg (two HashAggregate nodes), not a
    row_number window dragging n×C vector arrays through an exchange.
    Candidate generation is the narrow Arrow/BLAS mapInPandas stage —
    never a row-at-a-time Python UDF."""
    from twitter_kafka_etl_spark.operators.similarity import ivf_assign

    emb = read_table(spark, sf_dir, "embeddings")
    plan = plan_of(ivf_assign(emb))
    assert "MapInPandas" in plan  # vectorized candidate gen
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python
    assert "Window" not in plan
    # partial + final aggregate pair for the argmax (max_by over a
    # struct ordering lowers to SortAggregate, still map-side partial)
    assert "partial_max_by" in plan
    assert plan.count("SortAggregate") + plan.count("HashAggregate") >= 2


def test_q31_range_join_is_equi_join(spark, sf_dir):
    """The range join must be a bucket equi-join + filter — never a
    BroadcastNestedLoopJoin/CartesianProduct that can't scale."""
    plan = plan_of(REGISTRY["q31_range_join"].build(spark, sf_dir), "simple")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_x57_bm25_plan_shape(spark, sf_dir):
    """BM25 must broadcast the 1-row stats frame and take top-k via
    ordered-limit heaps — never a full-corpus sort or a shuffled join."""
    plan = plan_of(REGISTRY["x57_bm25_rank"].build(spark, sf_dir))
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    assert "TakeOrderedAndProject" in plan


@pytest.mark.parametrize(
    "query,tag",
    [
        ("qs12_stream_incremental_dedup", "qs12_novel"),
        ("qs14_stream_novelty", "qs14_novel"),
        ("qs17_stream_neardup_ingest", "qs17_kept"),
    ],
    ids=["qs12_novel", "qs14_novel", "qs17_kept"],
)
def test_stream_plan_tap_captures_inner_batch_plans(
    spark, sf_dir, tmp_path, monkeypatch, query, tag
):
    """The $SPARK_GRAFT_PLAN_TAP seam (PLANS.md streaming sections)
    must capture the foreachBatch INNER plan, and that plan must show
    the replay-idempotence exclusion as free partition pruning: the
    own-batch __b= partition is eliminated AT THE SCAN
    (PartitionFilters), never as a post-scan filter. Also pins the
    novelty anti-join as a hash equi-join — no nested-loop fallback —
    against the side table alone, with no driver-shipped sketch
    relation."""
    import os

    monkeypatch.setenv("SPARK_GRAFT_PLAN_TAP", str(tmp_path))
    REGISTRY[query].build(spark, sf_dir).count()
    tapped = os.path.join(str(tmp_path), f"{tag}.txt")
    assert os.path.exists(tapped)
    with open(tapped) as fh:
        plan = fh.read()
    # steady-state (last) batch: index partitions exist and own-batch
    # exclusion reached the scan's partition filters
    assert "PartitionFilters" in plan and "__b" in plan
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # every join input is a file scan: no LocalTableScan (a sketch
    # frame built on the driver) feeds the probe
    assert "LocalTableScan" not in plan


def test_serve_shape_is_one_pass(spark, sf_dir, tmp_path):
    """The serving aggregate over learned-weight enrichment runs as one
    pass: both classifier UDFs in ONE ArrowEvalPython node, one scan of
    events and one hash shuffle (the groupBy). A join of two per-topic
    aggregates would prune each branch to one UDF, with its own scans."""
    from pyspark.sql import functions as F

    from twitter_kafka_etl_spark.operators.model_artifact import (
        linear_model_backend,
        save_artifact,
        train_linear_classifier,
    )
    from twitter_kafka_etl_spark.operators.text import enrich_text
    from twitter_kafka_etl_spark.pipeline import EMOTIONS, SENTIMENTS, topic_aggregates

    backends = []
    for labels in (SENTIMENTS, EMOTIONS):
        art = str(tmp_path / f"{labels[0]}.npz")
        save_artifact(train_linear_classifier(labels * 3, labels * 3), art)
        backends.append(linear_model_backend(art))
    raw_docs = read_table(spark, sf_dir, "documents")
    docs = enrich_text(
        raw_docs, sentiment_backend=backends[0], emotion_backend=backends[1]
    )
    enriched = (
        read_table(spark, sf_dir, "events")
        .withColumn("doc_id", F.pmod("event_id", F.lit(raw_docs.count())))
        .join(F.broadcast(docs.select("doc_id", "sentiment", "emotion")), "doc_id")
        .withColumnRenamed("event_type", "topic")
    )
    serving = topic_aggregates(enriched)
    assert serving.collect()
    # after the action AQE prints the final plan, then the initial one
    plan = (
        serving._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    assert plan.count("ArrowEvalPython") == 1, plan
    arrow = next(l for l in plan.splitlines() if "ArrowEvalPython" in l)
    assert arrow.count("backend(text") == 2, arrow
    assert plan.count("events.parquet") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
