"""Property-based invariants (SURVEY §5.4).

Hypothesis generates small frames; each property must hold for *any*
input, not just the synthetic tables — the invariants are the algebra
the operators promise (round-trips, idempotence, partition-of-unity).
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from twitter_kafka_etl_spark.operators import relational as R

SETTINGS = dict(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

CATS = ["a", "b", "c"]

rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),          # group key
        st.sampled_from(CATS),                          # pivot category
        st.integers(min_value=-100, max_value=100),     # value
    ),
    min_size=1,
    max_size=30,
)


@given(data=rows)
@settings(**SETTINGS)
def test_pivot_unpivot_roundtrip(spark, data):
    """unpivot(pivot(df)) recovers per-(key, cat) sums, with absent
    combinations surfacing as the fill value 0."""
    df = spark.createDataFrame(data, ["k", "cat", "v"])
    wide = R.pivot_explicit(df, "k", "cat", CATS, F.sum("v"), fill=0)
    long = R.unpivot_long(wide, ["k"], CATS, "cat", "v")
    got = {(r.k, r.cat): r.v for r in long.collect()}
    truth = {}
    for k, cat, v in data:
        truth[(k, cat)] = truth.get((k, cat), 0) + v
    for (k, cat), v in truth.items():
        assert got[(k, cat)] == v
    # every (present key × declared cat) cell exists; absent ones are 0
    keys = {k for k, _, _ in data}
    assert set(got) == {(k, c) for k in keys for c in CATS}
    for cell, v in got.items():
        if cell not in truth:
            assert v == 0


@given(data=rows)
@settings(**SETTINGS)
def test_dedup_first_is_idempotent_and_minimal(spark, data):
    """dedup_first twice == once; exactly one row per key survives; the
    survivor is the order_by-minimal row."""
    df = spark.createDataFrame(data, ["k", "cat", "v"])
    once = R.dedup_first(df, ["k"], [F.col("v"), F.col("cat")])
    twice = R.dedup_first(once, ["k"], [F.col("v"), F.col("cat")])
    got = sorted(once.collect())
    assert got == sorted(twice.collect())
    assert len(got) == len({k for k, _, _ in data})
    for r in got:
        best = min((v, c) for k, c, v in data if k == r.k)
        assert (r.v, r.cat) == best


@given(data=rows)
@settings(**SETTINGS)
def test_share_of_total_sums_to_one(spark, data):
    """Within every partition, shares form a partition of unity
    (unless the partition total is 0, where the share is null/inf-free
    by construction only for non-zero totals — filtered here)."""
    df = spark.createDataFrame(data, ["k", "cat", "v"]).withColumn(
        "cnt", F.abs(F.col("v")) + 1  # strictly positive measure
    )
    shared = R.share_of_total(df, ["k"], "cnt")
    sums = (
        shared.groupBy("k").agg(F.sum("percent").alias("s")).collect()
    )
    for r in sums:
        assert abs(r.s - 1.0) < 1e-9


@given(data=rows)
@settings(**SETTINGS)
def test_union_except_cancels(spark, data):
    """exceptAll(unionAll(a, b), b) == a as multisets."""
    df = spark.createDataFrame(data, ["k", "cat", "v"])
    a = df.filter(F.col("v") >= 0)
    b = df.filter(F.col("v") < 50)
    back = R.except_all(R.union_all(a, b), b)
    assert sorted(back.collect()) == sorted(a.collect())


@given(data=rows)
@settings(**SETTINGS)
def test_exact_dedup_counts_partition_input(spark, data):
    """Exact dedup groups partition the input: dup counts sum to the
    row count and keepers are distinct."""
    from twitter_kafka_etl_spark.operators.dedup import exact_duplicates

    df = spark.createDataFrame(
        [(i, f"{k} {cat}") for i, (k, cat, _) in enumerate(data)],
        ["doc_id", "text"],
    )
    out = exact_duplicates(df).collect()
    assert sum(r.dup_cnt for r in out) == len(data)
    keepers = [r.keeper_id for r in out]
    assert len(keepers) == len(set(keepers))


asof_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),    # user key
        st.integers(min_value=0, max_value=50),   # ts (int seconds)
        st.booleans(),                            # is_left (query side)
        st.integers(min_value=-99, max_value=99), # value
    ),
    min_size=1,
    max_size=25,
)


@given(data=asof_rows)
@settings(**SETTINGS)
def test_asof_join_matches_naive(spark, data):
    """asof_join == brute-force 'latest right at-or-before left' on any
    input, including ts ties (right side wins ties; max event_id among
    tied rights)."""
    rows = [
        (i, k, ts, bool(left), float(v))
        for i, (k, ts, left, v) in enumerate(data)
    ]
    df = spark.createDataFrame(rows, ["event_id", "k", "ts", "is_left", "v"])
    left = df.filter(F.col("is_left")).select("event_id", "k", "ts")
    right = df.filter(~F.col("is_left")).select("event_id", "k", "ts", "v")
    got = {
        r.event_id: r.asof_v
        for r in R.asof_join(
            left, right, keys=["k"], left_ts="ts", right_ts="ts",
            right_values=["v"], tiebreak=["event_id"],
        ).select("event_id", "asof_v").collect()
    }
    rights = [r for r in rows if not r[3]]
    for (eid, k, ts, is_left, _v) in rows:
        if not is_left:
            continue
        cands = [r for r in rights if r[1] == k and r[2] <= ts]
        want = None
        if cands:
            want = max(cands, key=lambda r: (r[2], r[0]))[4]
        assert got[eid] == want, (eid, got[eid], want)


range_rows = st.lists(
    st.floats(min_value=0.0, max_value=499.0, allow_nan=False), min_size=1, max_size=40
)


@given(points=range_rows)
@settings(**SETTINGS)
def test_range_join_bucketed_matches_naive(spark, points):
    """Bucket-decomposed range join finds exactly the pairs a naive
    non-equi join finds, for any point set and non-aligned intervals."""
    pts = spark.createDataFrame(
        [(i, float(p)) for i, p in enumerate(points)], ["pid", "p"]
    )
    iv = spark.createDataFrame(
        [(0, 10.0, 130.0), (1, 125.0, 320.0), (2, 450.0, 499.5)],
        ["iid", "lo", "hi"],
    )
    got = {
        (r.pid, r.iid)
        for r in R.range_join_bucketed(pts, iv, "p", bucket_width=100.0).collect()
    }
    want = {
        (i, row[0])
        for i, p in enumerate(points)
        for row in [(0, 10.0, 130.0), (1, 125.0, 320.0), (2, 450.0, 499.5)]
        if row[1] <= p < row[2]
    }
    assert got == want


doc_words = st.lists(
    st.sampled_from([f"w{i}" for i in range(30)]), min_size=6, max_size=40
)


@given(words=doc_words)
@settings(**SETTINGS)
def test_minhash_signature_is_min_mergeable(spark, words):
    """The MinHash core identity: sig(A ∪ B) = elementwise
    min(sig(A), sig(B)) — this is exactly what makes signatures
    partial-aggregable map-side at 100 TB."""
    from twitter_kafka_etl_spark.operators.dedup import (
        minhash_signatures, shingle,
    )

    text = " ".join(words)
    half = len(words) // 2
    # overlapping halves so both have >= 3 tokens (shingle width)
    a = " ".join(words[: half + 2])
    b = " ".join(words[half - 2 :])
    df = spark.createDataFrame(
        [(0, text), (1, a), (2, b)], ["doc_id", "text"]
    )
    sigs = {
        r.doc_id: [r[f"mh{i}"] for i in range(16)]
        for r in minhash_signatures(shingle(df)).collect()
    }
    whole_shingles = {
        tuple(words[i : i + 3]) for i in range(len(words) - 2)
    }
    ab_shingles = {
        tuple(words[: half + 2][i : i + 3]) for i in range(len(words[: half + 2]) - 2)
    } | {
        tuple(words[half - 2 :][i : i + 3]) for i in range(len(words[half - 2 :]) - 2)
    }
    if whole_shingles == ab_shingles:  # halves cover the whole's shingles
        merged = [min(x, y) for x, y in zip(sigs[1], sigs[2])]
        assert merged == sigs[0]


@given(words=doc_words)
@settings(**SETTINGS)
def test_simhash_is_order_invariant(spark, words):
    """SimHash sums per-token bit votes: any permutation of the tokens
    yields the identical signature."""
    from twitter_kafka_etl_spark.operators.dedup import simhash

    df = spark.createDataFrame(
        [(0, " ".join(words)), (1, " ".join(reversed(words)))],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r.simhash for r in simhash(df).collect()}
    assert got[0] == got[1]


@given(words=doc_words)
@settings(**SETTINGS)
def test_winnowing_guarantee(spark, words):
    """Winnowing's defining guarantee (k=3, w=4): two documents sharing
    any substring of >= w+k-1 = 6 consecutive tokens share at least one
    fingerprint."""
    from twitter_kafka_etl_spark.operators.dedup import _gram_array, token_hash

    shared = words[:6]
    doc_a = " ".join(shared + [f"a{i}" for i in range(8)])
    doc_b = " ".join([f"b{i}" for i in range(8)] + shared)
    df = spark.createDataFrame([(0, doc_a), (1, doc_b)], ["doc_id", "text"])
    toked, grams = _gram_array(df, 3, "text")
    hs = toked.select(
        "doc_id",
        F.explode(
            F.transform(
                F.when(F.size("__toks") >= 3, grams).otherwise(
                    F.array().cast("array<string>")
                ),
                token_hash,
            )
        ).alias("h"),
    )
    # recompute full winnowed fingerprint sets per doc from the engine's
    # gram hashes (the registered query only exposes a summary)
    rows = hs.collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r.h)
    fps = {}
    for d, hl in by_doc.items():
        fps[d] = {
            min(hl[i : i + 4]) for i in range(len(hl) - 3)
        }
    assert fps[0] & fps[1], "shared 6-token run must share a fingerprint"


def test_cosine_pairs_lsh_subset_and_value_identical(spark, sf_dir):
    """The LSH path may miss bucket-disjoint pairs but can never invent
    a pair or change a score: its output is a subset of the exact path
    with bitwise-identical cos_sim (both re-score via the same fold)."""
    from twitter_kafka_etl_spark.io import read_table
    from twitter_kafka_etl_spark.operators.similarity import cosine_pairs

    emb = read_table(spark, sf_dir, "embeddings")
    exact = {
        (r.id_a, r.id_b): r.cos_sim
        for r in cosine_pairs(emb, 0.35, use_lsh_prefilter=False).collect()
    }
    lsh = {
        (r.id_a, r.id_b): r.cos_sim
        for r in cosine_pairs(emb, 0.35, use_lsh_prefilter=True).collect()
    }
    assert set(lsh) <= set(exact)
    for pair, sim in lsh.items():
        assert sim == exact[pair]


def test_cosine_pairs_lsh_recall_on_near_duplicates(spark):
    """Multi-table OR-construction recall: planted near-duplicate pairs
    (cos ~ 0.99) must be found at >= 90% by the 4-table default — the
    regime the prefilter is built for (near-dup dedup at threshold
    0.95). Deterministic: fixed numpy seed + seeded hyperplanes."""
    import numpy as np

    from twitter_kafka_etl_spark.operators.similarity import cosine_pairs

    rng = np.random.default_rng(7)
    base = rng.normal(size=(60, 64))
    noisy = base + rng.normal(scale=0.05, size=base.shape)
    rows = []
    for i in range(60):
        rows.append((2 * i, [float(x) for x in base[i]]))
        rows.append((2 * i + 1, [float(x) for x in noisy[i]]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    exact = {
        (r.id_a, r.id_b)
        for r in cosine_pairs(df, 0.95, use_lsh_prefilter=False).collect()
    }
    planted = {p for p in exact if p[1] == p[0] + 1 and p[0] % 2 == 0}
    assert len(planted) >= 40  # noise scale keeps most pairs above 0.95
    lsh = {
        (r.id_a, r.id_b)
        for r in cosine_pairs(df, 0.95, use_lsh_prefilter=True).collect()
    }
    assert len(lsh & planted) / len(planted) >= 0.9


def test_ngram_jaccard_df_cap_suppresses_hot_shingle(spark):
    """A stopword shingle planted in every document must not create a
    quadratic candidate set: with the cap below its df, pairs whose only
    overlap is the hot shingle vanish, while pairs sharing non-hot
    shingles keep their (now lower-bound) jaccard."""
    from twitter_kafka_etl_spark.operators.dedup import ngram_jaccard_pairs

    hot = "one of the"
    rows = [(i, f"{hot} u{i}a u{i}b u{i}c") for i in range(300)]
    # one genuine near-dup pair sharing 4 extra tokens -> 2 private shingles
    rows.append((1000, f"{hot} shared tok run here x1000"))
    rows.append((1001, f"{hot} shared tok run here y1001"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    capped = ngram_jaccard_pairs(df, threshold=0.01, df_cap=100).collect()
    got = {(r.doc_a, r.doc_b) for r in capped}
    # 300+ docs sharing only the hot shingle produce ZERO pairs...
    assert got == {(1000, 1001)}
    # ...while the uncapped run drowns in ~45k hot-shingle-only pairs
    uncapped = ngram_jaccard_pairs(df, threshold=0.01, df_cap=None)
    assert uncapped.count() > 40_000


def test_ngram_jaccard_cap_above_df_is_identity(spark, sf_dir):
    """A cap above every testdata document frequency changes nothing."""
    from twitter_kafka_etl_spark.io import read_table
    from twitter_kafka_etl_spark.operators.dedup import ngram_jaccard_pairs

    docs = read_table(spark, sf_dir, "documents")
    capped = {
        (r.doc_a, r.doc_b, round(r.jaccard, 9))
        for r in ngram_jaccard_pairs(docs).collect()
    }
    exact = {
        (r.doc_a, r.doc_b, round(r.jaccard, 9))
        for r in ngram_jaccard_pairs(docs, df_cap=None).collect()
    }
    assert capped == exact


def test_simhash_pairs_rejects_incomplete_banding(spark):
    """max_hamming > n_chunks - 1 breaks the pigeonhole guarantee and
    must raise, not silently lose pairs."""
    import pytest

    from twitter_kafka_etl_spark.operators.dedup import simhash_pairs

    df = spark.createDataFrame([(1, 5)], ["doc_id", "simhash"])
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_pairs(df, max_hamming=4, n_chunks=4)


def _recall(ann_ids, exact_ids):
    return len(set(ann_ids) & set(exact_ids)) / len(exact_ids)


def test_ann_recall_on_clustered_data(spark):
    """Recall floor for both ANN tiers in the regime they serve: planted
    clusters (true neighbors at cos ~0.99). Brute force is ground truth;
    single-probe LSH and nprobe=1 IVF must already recover >=8/9 here,
    since cluster members share buckets/cells with high probability."""
    import numpy as np

    from twitter_kafka_etl_spark.operators import similarity as S

    rng = np.random.default_rng(11)
    centers = rng.normal(size=(20, 64))
    rows = []
    vid = 0
    for c in range(20):
        for _ in range(10):
            v = centers[c] + rng.normal(scale=0.08, size=64)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    exact = [r.vec_id for r in S.topk_bruteforce(df, 0, k=9).collect()]
    lsh = [r.vec_id for r in S.topk_lsh(df, 0, k=9, probe_radius=1).collect()]
    ivf = [r.vec_id for r in S.topk_ivf(df, 0, k=9, nprobe=2, centroid_mod=10).collect()]
    assert _recall(lsh, exact) >= 8 / 9
    assert _recall(ivf, exact) >= 8 / 9


def test_ann_recall_monotone_in_probe_width(spark, sf_dir):
    """Widening the probe set can only help: the candidate set grows
    with probe_radius/nprobe, so recall@k vs brute force is
    nondecreasing — the property that makes them honest recall dials."""
    from twitter_kafka_etl_spark.io import read_table
    from twitter_kafka_etl_spark.operators import similarity as S

    emb = read_table(spark, sf_dir, "embeddings")
    exact = [r.vec_id for r in S.topk_bruteforce(emb, 0, k=10).collect()]
    lsh = [
        _recall([r.vec_id for r in S.topk_lsh(emb, 0, k=10, probe_radius=p).collect()], exact)
        for p in (0, 1, 2)
    ]
    assert lsh == sorted(lsh)
    ivf = [
        _recall([r.vec_id for r in S.topk_ivf(emb, 0, k=10, nprobe=n).collect()], exact)
        for n in (1, 2, 4)
    ]
    assert ivf == sorted(ivf)


def test_ngram_jaccard_collapse_exact_is_identity(spark, sf_dir):
    """The collapse-expand rewrite must be invisible: on a corpus where
    every text has 3 byte-identical copies plus near-dup variants, the
    collapsed and naive plans return identical (pair, jaccard) sets —
    including within-group 1.0 pairs and zero-shingle exclusions."""
    from twitter_kafka_etl_spark.io import read_table
    from twitter_kafka_etl_spark.operators.dedup import ngram_jaccard_pairs

    base = read_table(spark, sf_dir, "documents").limit(60)
    dup = base.selectExpr("doc_id + 100000 AS doc_id", "text")
    dup2 = base.selectExpr("doc_id + 200000 AS doc_id", "text")
    short = spark.createDataFrame(
        [(900001, "too short"), (900002, "too short")], ["doc_id", "text"]
    )  # zero 3-gram shingles: must NOT pair even though identical
    corpus = base.select("doc_id", "text").union(dup).union(dup2).union(short)
    naive = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in ngram_jaccard_pairs(corpus, collapse_exact=False).collect()
    }
    fast = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in ngram_jaccard_pairs(corpus, collapse_exact=True).collect()
    }
    assert fast == naive
    assert not any(a >= 900000 and b >= 900000 for a, b, _ in fast)
    assert len(fast) >= 3 * 60  # within-group 1.0 pairs are present


def test_simhash_pairs_collapse_exact_is_identity(spark, sf_dir):
    """Signature-collapse rewrite is invisible: on a corpus with 3
    copies of every text, collapsed and naive plans emit identical
    (pair, hamming) sets — within-group hamming 0 included."""
    from twitter_kafka_etl_spark.io import read_table
    from twitter_kafka_etl_spark.operators.dedup import simhash, simhash_pairs

    base = read_table(spark, sf_dir, "documents").limit(60)
    corpus = (
        base.select("doc_id", "text")
        .union(base.selectExpr("doc_id + 100000 AS doc_id", "text"))
        .union(base.selectExpr("doc_id + 200000 AS doc_id", "text"))
    )
    sigs = simhash(corpus)
    naive = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash_pairs(sigs, collapse_exact=False).collect()
    }
    fast = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash_pairs(sigs, collapse_exact=True).collect()
    }
    assert fast == naive
    assert len(fast) >= 3 * 60  # the within-group 0-hamming pairs exist


def test_minhash_lsh_collapse_exact_is_identity(spark, sf_dir):
    """Signature-collapse is invisible to minhash LSH: 3 copies of each
    text yield identical pair sets from collapsed and naive plans."""
    from twitter_kafka_etl_spark.io import read_table
    from twitter_kafka_etl_spark.operators.dedup import (
        minhash_lsh_pairs, minhash_signatures, shingle,
    )

    base = read_table(spark, sf_dir, "documents").limit(60)
    corpus = (
        base.select("doc_id", "text")
        .union(base.selectExpr("doc_id + 100000 AS doc_id", "text"))
        .union(base.selectExpr("doc_id + 200000 AS doc_id", "text"))
    )
    sigs = minhash_signatures(shingle(corpus))
    naive = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(sigs, collapse_exact=False).collect()
    }
    fast = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(sigs, collapse_exact=True).collect()
    }
    assert fast == naive
    assert len(fast) >= 3 * 60


def test_connected_components_raises_when_unconverged(spark):
    """A path longer than max_iter rounds must raise, never return
    silently-split components."""
    import pytest

    from twitter_kafka_etl_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 12)], ["doc_a", "doc_b"]
    )
    with pytest.raises(RuntimeError, match="converge"):
        connected_components(chain, max_iter=2)


texts = st.lists(
    st.text(alphabet="ab ", min_size=1, max_size=40).map(
        lambda s: " ".join(s.split()) or "a"
    ),
    min_size=1,
    max_size=20,
)


@given(data=texts)
@settings(**SETTINGS)
def test_length_buckets_partition_docs_and_bound_waste(spark, data):
    """Bucketing is a partition of the corpus: doc counts sum to the
    input; per-bucket 0 <= waste < bucket * n_docs; every effective
    token is accounted (total_tokens + waste = padded)."""
    from twitter_kafka_etl_spark.operators.curation import length_bucket_stats

    df = spark.createDataFrame([(t,) for t in data], ["text"])
    out = length_bucket_stats(df, boundaries=(4, 8, 16)).collect()
    assert sum(r.n_docs for r in out) == len(data)
    for r in out:
        assert 0 <= r.padding_waste < r.bucket * r.n_docs or (
            r.padding_waste == 0
        )
        assert r.total_tokens + r.padding_waste == r.padded_tokens


@given(
    ids=st.lists(st.integers(min_value=0, max_value=10**6), min_size=1,
                 max_size=30, unique=True),
    rate=st.integers(min_value=0, max_value=100),
)
@settings(**SETTINGS)
def test_mixture_sample_deterministic_and_monotone(spark, ids, rate):
    """Selection is a pure function of (salt, id) — same subset on
    re-run — and monotone in the rate: raising any source's rate only
    ADDS documents (the property that makes mixture ablations nested)."""
    from twitter_kafka_etl_spark.operators.curation import mixture_sample

    df = spark.createDataFrame([(i, "s") for i in ids], ["doc_id", "source"])
    take = lambda p: {
        r.doc_id
        for r in mixture_sample(df, "source", "doc_id", {"s": p}).collect()
    }
    got = take(rate)
    assert got == take(rate)  # deterministic under re-run
    if rate < 100:
        assert got <= take(min(100, rate + 10))  # monotone nesting


texts = st.lists(
    st.lists(
        st.sampled_from(["w%d" % i for i in range(8)]),
        min_size=1,
        max_size=40,
    ).map(" ".join),
    min_size=1,
    max_size=8,
)


@given(docs=texts)
@settings(**SETTINGS)
def test_duplicated_spans_invariants(spark, docs):
    """For ANY corpus: 0 <= n_dup_blocks <= n_blocks = floor(tokens/W),
    and dup_frac is their exact ratio."""
    from twitter_kafka_etl_spark.operators.text import duplicated_spans

    df = spark.createDataFrame(list(enumerate(docs)), ["doc_id", "text"])
    out = {r.doc_id: r for r in duplicated_spans(df, block_tokens=4).collect()}
    for i, t in enumerate(docs):
        r = out[i]
        assert r.n_blocks == len(t.split(" ")) // 4
        assert 0 <= r.n_dup_blocks <= r.n_blocks
        want = round(r.n_dup_blocks / r.n_blocks, 6) if r.n_blocks else 0.0
        assert r.dup_frac == want


@given(docs=texts)
@settings(**SETTINGS)
def test_span_removal_conserves_tokens(spark, docs):
    """Removal is exact: each doc's cleaned token count equals
    W * kept_blocks + tail, and a doc never gains tokens. Rerunning the
    rewrite on its own output removes nothing further (idempotence)."""
    from twitter_kafka_etl_spark.operators.text import remove_duplicated_spans

    W = 4
    df = spark.createDataFrame(list(enumerate(docs)), ["doc_id", "text"])
    out = {r.doc_id: r for r in remove_duplicated_spans(df, W).collect()}
    for i, t in enumerate(docs):
        r = out[i]
        n = len(t.split(" "))
        kept_blocks = r.n_blocks - r.n_removed
        tail = n - r.n_blocks * W
        cleaned_n = len(r.cleaned.split(" ")) if r.cleaned else 0
        assert cleaned_n == kept_blocks * W + tail
        assert cleaned_n <= n
    again = remove_duplicated_spans(
        spark.createDataFrame(
            [(i, out[i].cleaned) for i in range(len(docs)) if out[i].cleaned],
            ["doc_id", "text"],
        ),
        W,
    )
    assert all(r.n_removed == 0 for r in again.collect())


@given(docs=texts)
@settings(**SETTINGS)
def test_unigram_nll_is_nonnegative_and_zero_iff_one_token_corpus(spark, docs):
    """avg_neg_logp >= 0 always (probabilities <= 1), every doc is
    scored, token counts reconstruct the input, and a single-token
    vocabulary scores exactly 0 (p=1 -> ln 1 = 0)."""
    from twitter_kafka_etl_spark.operators.text import unigram_nll

    df = spark.createDataFrame(list(enumerate(docs)), ["doc_id", "text"])
    out = {r.doc_id: r for r in unigram_nll(df).collect()}
    assert set(out) == set(range(len(docs)))
    vocab = {t for d in docs for t in d.split(" ")}
    for i, t in enumerate(docs):
        assert out[i].n_tokens == len(t.split(" "))
        assert out[i].avg_neg_logp >= 0.0
        if len(vocab) == 1:
            assert out[i].avg_neg_logp == 0.0


@given(docs=texts)
@settings(**SETTINGS)
def test_bpe_pair_counts_match_brute_force(spark, docs):
    """The distributed pair count equals the per-token brute force:
    every token of length L >= 2 contributes exactly L-1 pairs."""
    from collections import Counter

    from twitter_kafka_etl_spark.operators.text import bpe_pair_stats

    df = spark.createDataFrame(list(enumerate(docs)), ["doc_id", "text"])
    got = {r.pair: r.cnt for r in bpe_pair_stats(df, top_k=10**6).collect()}
    want = Counter(
        tok[i : i + 2]
        for d in docs
        for tok in d.split(" ")
        if len(tok) >= 2
        for i in range(len(tok) - 1)
    )
    assert got == dict(want)


def test_containment_collapse_exact_is_identity(spark, sf_dir):
    """The collapse-expand rewrite must be invisible for containment
    exactly as for Jaccard: on a corpus with 3 byte-identical copies of
    every text plus zero-shingle rows, collapsed and naive plans return
    identical (pair, common, containment, jaccard) sets."""
    from twitter_kafka_etl_spark.io import read_table
    from twitter_kafka_etl_spark.operators.dedup import containment_pairs

    base = read_table(spark, sf_dir, "documents").limit(60)
    corpus = (
        base.select("doc_id", "text")
        .union(base.selectExpr("doc_id + 100000 AS doc_id", "text"))
        .union(base.selectExpr("doc_id + 200000 AS doc_id", "text"))
        .union(
            spark.createDataFrame(
                [(900001, "too short"), (900002, "too short")],
                ["doc_id", "text"],
            )
        )
    )
    key = lambda r: (r.doc_a, r.doc_b, r.common, r.containment, r.jaccard)
    naive = {
        key(r)
        for r in containment_pairs(corpus, collapse_exact=False).collect()
    }
    fast = {
        key(r)
        for r in containment_pairs(corpus, collapse_exact=True).collect()
    }
    assert fast == naive
    assert len(fast) >= 3 * 60  # within-group 1.0 pairs present


def test_pair_metrics_shared_shingles_compose_with_collapse(spark, sf_dir):
    """Passing a precomputed shingle table must not change results OR
    bypass the collapse (the r5 bypass ran the pair join on the
    duplicated corpus — d^2 the work; results stayed right, the plan
    went quadratic-in-duplication). Identity is asserted here; the
    plan-side guarantee is that the collapse branch consumes the shared
    table via the representative semi-join."""
    from twitter_kafka_etl_spark.io import read_table
    from twitter_kafka_etl_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
        shingle,
    )

    base = read_table(spark, sf_dir, "documents").limit(40)
    corpus = base.select("doc_id", "text").union(
        base.selectExpr("doc_id + 100000 AS doc_id", "text")
    )
    sh = shingle(corpus).persist()
    jac_solo = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in ngram_jaccard_pairs(corpus, collapse_exact=True).collect()
    }
    jac_shared = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in ngram_jaccard_pairs(
            corpus, collapse_exact=True, shingled=sh
        ).collect()
    }
    assert jac_shared == jac_solo
    con_solo = {
        (r.doc_a, r.doc_b, r.common, r.containment)
        for r in containment_pairs(corpus, collapse_exact=True).collect()
    }
    con_shared = {
        (r.doc_a, r.doc_b, r.common, r.containment)
        for r in containment_pairs(
            corpus, collapse_exact=True, shingled=sh
        ).collect()
    }
    assert con_shared == con_solo
    sh.unpersist()


def test_containment_bounds_jaccard(spark, sf_dir):
    """max-containment >= jaccard for EVERY candidate pair (|A∩B|/min
    dominates |A∩B|/|A∪B|), so a containment threshold can only widen
    the Jaccard screen, never narrow it."""
    from twitter_kafka_etl_spark.io import read_table
    from twitter_kafka_etl_spark.operators.dedup import containment_pairs

    docs = read_table(spark, sf_dir, "documents").limit(150)
    rows = containment_pairs(docs, threshold=0.0).collect()
    assert rows, "expected candidate pairs in the corpus"
    assert all(r.containment >= r.jaccard for r in rows)


def test_collapse_df_cap_uses_full_corpus_df(spark):
    """Round-5 advice (dedup.py:649): with collapse-exact active, the
    df_cap hot-shingle exclusion must be computed on FULL-CORPUS
    document frequency, not representative df. Construct the exact
    divergence corpus: a shingle whose corpus df (8) exceeds the cap
    (3) while its representative df (2) does not. The collapsed plan
    must be bitwise identical to the naive capped join — including
    within-group pairs, which score the post-cap intersection (1/3
    here), never a blanket 1.0."""
    from twitter_kafka_etl_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    t1 = "alpha beta gamma delta"   # shingles: {alpha beta gamma, beta gamma delta}
    t2 = "alpha beta gamma epsilon"  # shares "alpha beta gamma" with t1
    rows = [(i, t1) for i in range(1, 6)] + [(i, t2) for i in range(6, 9)]
    corpus = spark.createDataFrame(rows, ["doc_id", "text"])

    def run(op, **kw):
        return sorted(
            tuple(
                round(v, 9) if isinstance(v, float) else v for v in r
            )
            for r in op(
                corpus, n=3, threshold=0.2, df_cap=3, **kw
            ).collect()
        )

    jac_naive = run(ngram_jaccard_pairs, collapse_exact=False)
    jac_fast = run(ngram_jaccard_pairs, collapse_exact=True)
    assert jac_fast == jac_naive
    # the shared shingle is capped out: no cross-text pair survives,
    # and within-group pairs score 1/(2*2-1) = 1/3, not 1.0
    assert jac_naive, "expected within-group pairs"
    assert all(abs(j - 1 / 3) < 1e-9 for (_, _, j) in jac_naive)
    assert not any(a <= 5 < b for (a, b, _) in jac_naive)

    con_naive = run(containment_pairs, collapse_exact=False)
    con_fast = run(containment_pairs, collapse_exact=True)
    assert con_fast == con_naive
    # containment within-group = eff/nsh = 1/2 under the cap
    assert all(c == 1 and abs(cont - 0.5) < 1e-9
               for (_, _, c, cont, _) in con_naive)


def test_collapse_df_cap_all_hot_group_emits_no_pairs(spark):
    """A duplicate group whose every shingle is df-capped out shares
    nothing in the capped join — the naive plan materializes no pair
    for it, so the collapsed plan must not either (eff = 0 exclusion)."""
    from twitter_kafka_etl_spark.operators.dedup import ngram_jaccard_pairs

    t = "one two three four"
    corpus = spark.createDataFrame(
        [(i, t) for i in range(1, 10)], ["doc_id", "text"]
    )
    kw = dict(n=3, threshold=0.0, df_cap=3)
    naive = ngram_jaccard_pairs(corpus, collapse_exact=False, **kw).collect()
    fast = ngram_jaccard_pairs(corpus, collapse_exact=True, **kw).collect()
    assert naive == [] and fast == []


def test_winnow_match_collapse_is_identity(spark, sf_dir):
    """The fingerprint-collapse rewrite must be invisible: on a corpus
    with 3 byte-identical copies of every text, collapsed and naive
    winnow matchers return identical (pair, shared_fp) sets — within
    pairs carrying the group's full fp-set size."""
    from twitter_kafka_etl_spark.io import read_table
    from twitter_kafka_etl_spark.operators.text import winnow_match_pairs

    base = read_table(spark, sf_dir, "documents").limit(50)
    corpus = (
        base.select("doc_id", "text")
        .union(base.selectExpr("doc_id + 100000 AS doc_id", "text"))
        .union(base.selectExpr("doc_id + 200000 AS doc_id", "text"))
    )
    key = lambda r: (r.doc_a, r.doc_b, r.shared_fp)
    naive = {
        key(r)
        for r in winnow_match_pairs(corpus, collapse_exact=False).collect()
    }
    fast = {
        key(r)
        for r in winnow_match_pairs(corpus, collapse_exact=True).collect()
    }
    assert fast == naive
    assert len(fast) >= 3 * 50  # within-group pairs present


# ---------------------------------------------------------------------------
# Round-6 additions: growth curve, method agreement, bootstrap, edit verify
# ---------------------------------------------------------------------------
_POOL = [
    " ".join(f"w{i}{j}" for j in range(6)) for i in range(4)
] + ["a b"]  # one sub-shingle text in the pool
#: raw-distinct WHITESPACE/CASE variants that share a normalized
#: fingerprint with pool texts — exercises the agreement matrix's
#: cross-raw-group exact path (r7 collapse rewrite)
_POOL_VARIANTS = _POOL + [_POOL[0].upper(), _POOL[1] + "  tail"]

doc_lists = st.lists(
    st.sampled_from(_POOL), min_size=1, max_size=20
)
doc_lists_variants = st.lists(
    st.sampled_from(_POOL_VARIANTS), min_size=1, max_size=20
)


@given(texts=doc_lists)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_dup_growth_curve_monotone_and_exact_at_full(spark, texts):
    """For ANY corpus: every statistic is monotone non-decreasing in
    the sample level (samples are nested), and the 100% level equals
    the exact Python ground truth."""
    from collections import Counter

    from twitter_kafka_etl_spark.operators import dedup as D

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    out = {r.pct: r for r in D.dup_growth_curve(df).collect()}
    pcts = sorted(out)
    for lo, hi in zip(pcts, pcts[1:]):
        for c in ("n_docs", "n_distinct", "n_dup_docs", "n_excess"):
            assert getattr(out[lo], c) <= getattr(out[hi], c)
    # normalized-text fingerprints: the pool is already normalized
    full = out[100]
    cnt = Counter(texts)
    assert full.n_docs == len(texts)
    assert full.n_distinct == len(cnt)
    assert full.n_excess == sum(c - 1 for c in cnt.values())


@given(texts=doc_lists_variants)
@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_method_agreement_matches_set_algebra(spark, texts):
    """The matrix must equal the Python set algebra of the three pair
    sets the registered operators emit — the union/flag/agg plumbing
    (and the r7 collapse-to-representatives rewrite, including its
    cross-raw-group exact path via the whitespace/case variants in the
    pool) adds and loses nothing."""
    import re

    from twitter_kafka_etl_spark.operators import dedup as D

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )

    def norm(t: str) -> str:  # fingerprint_norm's Python twin
        return re.sub(r"\s+", " ", t.lower())

    ex = {
        (a, b)
        for i, ta in enumerate(texts)
        for j, tb in enumerate(texts)
        for a, b in [(i, j)]
        if a < b and norm(ta) == norm(tb)
    }
    mh = {
        (r.doc_a, r.doc_b)
        for r in D.minhash_lsh_pairs(
            D.minhash_signatures(D.shingle(df))
        ).collect()
    }
    sh = {
        (r.doc_a, r.doc_b)
        for r in D.simhash_pairs(D.simhash(df)).collect()
    }
    truth = {}
    for p in ex | mh | sh:
        key = (int(p in ex), int(p in mh), int(p in sh))
        truth[key] = truth.get(key, 0) + 1
    got = {
        (r.in_exact, r.in_minhash, r.in_simhash): r.n_pairs
        for r in D.dedup_method_agreement(df).collect()
    }
    assert got == truth


metric_rows = st.lists(
    st.tuples(
        st.sampled_from(["s0", "s1"]),
        st.integers(min_value=0, max_value=1000),
    ),
    min_size=1,
    max_size=25,
)


@given(data=metric_rows)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_bootstrap_ci_brackets_and_exact_mean(spark, data):
    """For ANY non-negative metric: the plain mean is exact, the
    interval is ordered around the bootstrap mean, sd is non-negative,
    and the bootstrap mean stays inside [0, max(metric)] (a resample
    mean is a convex combination; empty replicas contribute 0)."""
    from twitter_kafka_etl_spark.operators import curation as C

    rows = [(i, s, v) for i, (s, v) in enumerate(data)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    truth = {}
    for _, s, v in rows:
        truth.setdefault(s, []).append(v)
    for r in C.bootstrap_source_ci(df).collect():
        vals = truth[r.source]
        assert r.n_docs == len(vals)
        assert abs(r.mean - sum(vals) / len(vals)) < 1e-6
        assert r.boot_sd >= 0
        assert r.ci_lo <= r.boot_mean <= r.ci_hi
        assert 0.0 <= r.boot_mean <= max(vals) + 1e-9


short_text = st.text(alphabet="abc ", min_size=0, max_size=12)


@given(texts=st.lists(short_text, min_size=2, max_size=8), data=st.data())
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_edit_distance_verify_matches_python_dp(spark, texts, data):
    """Against a reference Python DP, for arbitrary candidate pairs
    over arbitrary short texts (both collapse plans)."""
    from twitter_kafka_etl_spark.operators import dedup as D

    n = len(texts)
    pair_pool = [(a, b) for a in range(n) for b in range(n) if a < b]
    pairs = data.draw(
        st.lists(st.sampled_from(pair_pool), min_size=1,
                 max_size=min(6, len(pair_pool)), unique=True)
    )

    def lev(s, t):
        prev = list(range(len(t) + 1))
        for i, cs in enumerate(s, 1):
            cur = [i]
            for j, ct in enumerate(t, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (cs != ct)))
            prev = cur
        return prev[-1]

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    pdf = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    for collapse in (True, False):
        got = {
            (r.doc_a, r.doc_b): (r.edit_distance, r.edit_sim)
            for r in D.edit_distance_verify(df, pdf, collapse=collapse)
            .collect()
        }
        assert set(got) == set(pairs)
        for a, b in pairs:
            d = lev(texts[a], texts[b])
            m = max(len(texts[a]), len(texts[b]))
            sim = round(1.0 - d / m, 6) if m else 1.0
            assert got[(a, b)] == (d, sim)


@given(texts=st.lists(
    st.text(alphabet="ab c", min_size=1, max_size=16), min_size=1, max_size=15
))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_source_stylometry_matches_python_counts(spark, texts):
    """Exact int/int ratios vs a Python tokenizer for arbitrary text."""
    from collections import Counter

    from twitter_kafka_etl_spark.operators import text as T

    df = spark.createDataFrame(
        [(i, t, "s") for i, t in enumerate(texts)],
        "doc_id long, text string, source string",
    )
    row = T.source_stylometry(df).collect()[0]
    toks = [w for t in texts for w in t.split(" ")]
    cnt = Counter(toks)
    assert row.n_docs == len(texts)
    assert row.n_tokens == len(toks)
    assert row.n_types == len(cnt)
    assert row.n_hapax == sum(1 for c in cnt.values() if c == 1)
    assert abs(row.ttr - len(cnt) / len(toks)) < 1e-6
    assert abs(row.mean_word_len - sum(map(len, toks)) / len(toks)) < 1e-6


@given(rows=st.lists(
    st.tuples(st.integers(min_value=1, max_value=30),
              st.integers(min_value=0, max_value=10_000)),
    min_size=2, max_size=20,
))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_feature_correlation_bounded_and_symmetric_counts(spark, rows):
    """|pearson| <= 1 for ANY integer features; n_docs exact; all three
    declared pairs present exactly once."""
    from twitter_kafka_etl_spark.operators import curation as C

    data = [
        (i, "t " * (n - 1) + "t", c) for i, (n, c) in enumerate(rows)
    ]
    df = spark.createDataFrame(data, "doc_id long, text string, n_chars long")
    got = C.feature_correlation(df).collect()
    assert len(got) == 3
    assert {(r.feat_x, r.feat_y) for r in got} == {
        ("f_chars", "f_tokens"), ("f_chars", "f_types"),
        ("f_tokens", "f_types"),
    }
    for r in got:
        assert r.n_docs == len(rows)
        assert -1.0 - 1e-9 <= r.pearson <= 1.0 + 1e-9


# ---------------------------------------------------------------------------
# Multimodal real decoders (r7): pure-python properties, no Spark needed
# ---------------------------------------------------------------------------
@given(
    w=st.integers(1, 12),
    h=st.integers(1, 12),
    seed=st.integers(0, 2**31 - 1),
    gray=st.booleans(),
)
@settings(max_examples=40, deadline=None)
def test_netpbm_decode_resize_roundtrip(w, h, seed, gray):
    """decode_netpbm reads back exactly what a synthesized netpbm
    payload encodes, and resize_netpbm's nearest-neighbor output is the
    stride-subsampled raster — for ANY dimensions and pixel values."""
    import numpy as np

    from twitter_kafka_etl_spark.operators import multimodal as M

    rng = np.random.default_rng(seed)
    ch = 1 if gray else 3
    raster = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)
    magic = b"P5" if gray else b"P6"
    payload = magic + b"\n# c\n%d %d\n255\n" % (w, h) + raster.tobytes()
    d = M.decode_netpbm(payload)
    assert (d["width"], d["height"], d["n_channels"]) == (w, h, ch)
    assert abs(d["mean_value"] - float(raster.mean())) < 1e-9
    small = M.resize_netpbm(payload, factor=2)
    ds = M.decode_netpbm(small)
    sub = raster[::2, ::2, :]
    assert (ds["width"], ds["height"]) == (sub.shape[1], sub.shape[0])
    assert abs(ds["mean_value"] - float(sub.mean())) < 1e-9


def _encode_png(raster, filters, color_type=None, bit_depth=None,
                interlace=0, split_idat=False, palette=None, trns=None):
    """Test-side PNG encoder: forward-filters each scanline with the
    given filter-type cycle (spec §9 — filters operate on BYTES with a
    bpp-byte left offset, which also covers 16-bit samples) and emits
    signature + IHDR [+ PLTE [+ tRNS]] + IDAT (+ optionally split
    across two IDAT chunks) + IEND. For palette images pass an
    ``(h, w, 1)`` index raster, ``color_type=3`` and ``palette`` as an
    ``(n, 3)`` array."""
    import struct
    import zlib

    import numpy as np

    from twitter_kafka_etl_spark.operators import multimodal as M

    h, w, ch = raster.shape
    ct = {1: 0, 2: 4, 3: 2, 4: 6}[ch] if color_type is None else color_type
    if bit_depth is None:
        bit_depth = 16 if raster.dtype.itemsize == 2 else 8
    bps = 2 if bit_depth == 16 else 1
    arr = raster.astype(">u2") if bps == 2 else raster.astype(np.uint8)
    rows = np.frombuffer(arr.tobytes(), dtype=np.uint8).reshape(
        h, w * ch * bps
    ).astype(np.int64)
    bpp = ch * bps
    body = bytearray()
    prev = np.zeros(w * bpp, dtype=np.int64)
    for y in range(h):
        f = filters[y % len(filters)]
        cur = rows[y]
        left = np.zeros_like(cur)
        left[bpp:] = cur[:-bpp]
        upleft = np.zeros_like(prev)
        upleft[bpp:] = prev[:-bpp]
        if f == 0:
            filt = cur
        elif f == 1:
            filt = cur - left
        elif f == 2:
            filt = cur - prev
        elif f == 3:
            filt = cur - (left + prev) // 2
        else:
            est = left + prev - upleft
            pa = np.abs(est - left)
            pb = np.abs(est - prev)
            pc = np.abs(est - upleft)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left,
                np.where(pb <= pc, prev, upleft),
            )
            filt = cur - pred
        body += bytes([f]) + (filt % 256).astype(np.uint8).tobytes()
        prev = cur

    def chunk(t, d):
        return (
            struct.pack(">I", len(d)) + t + d
            + struct.pack(">I", zlib.crc32(t + d))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, bit_depth, ct, 0, 0, interlace)
    out = M._PNG_SIG + chunk(b"IHDR", ihdr)
    if palette is not None:
        out += chunk(b"PLTE", np.asarray(palette, dtype=np.uint8).tobytes())
    if trns is not None:
        out += chunk(b"tRNS", bytes(trns))
    comp = zlib.compress(bytes(body))
    if split_idat and len(comp) > 1:
        mid = len(comp) // 2
        idat = chunk(b"IDAT", comp[:mid]) + chunk(b"IDAT", comp[mid:])
    else:
        idat = chunk(b"IDAT", comp)
    return out + idat + chunk(b"IEND", b"")


@given(
    w=st.integers(1, 10),
    h=st.integers(1, 10),
    seed=st.integers(0, 2**31 - 1),
    ch=st.sampled_from([1, 2, 3, 4]),
    depth=st.sampled_from([8, 16]),
    filters=st.lists(st.integers(0, 4), min_size=1, max_size=6),
    split=st.booleans(),
)
@settings(max_examples=60, deadline=None)
def test_png_decode_roundtrip(w, h, seed, ch, depth, filters, split):
    """decode_png_raster reconstructs exactly the raster a synthesized
    PNG encodes — for ANY dimensions, channel layout (gray / gray+alpha
    / RGB / RGBA), 8- or 16-bit samples, per-scanline filter-type mix,
    and IDAT chunking."""
    import numpy as np

    from twitter_kafka_etl_spark.operators import multimodal as M

    rng = np.random.default_rng(seed)
    dtype = np.uint8 if depth == 8 else np.uint16
    raster = rng.integers(0, 1 << depth, size=(h, w, ch)).astype(dtype)
    payload = _encode_png(raster, filters, split_idat=split)
    got = M.decode_png_raster(payload)
    assert got.shape == raster.shape and got.dtype == raster.dtype
    assert (got == raster).all()
    d = M.decode_png(payload)
    assert (d["width"], d["height"], d["n_channels"]) == (w, h, ch)
    assert d["media"] == "image/png"
    assert abs(d["mean_value"] - float(raster.mean())) < 1e-9
    # the engine's own writer round-trips, and resize is exactly the
    # stride-subsampled raster re-encoded
    assert (M.decode_png_raster(M.encode_png(raster)) == raster).all()
    small = M.decode_png_raster(M.resize_png(payload, factor=2))
    assert (small == raster[::2, ::2, :]).all()


@given(
    w=st.integers(1, 8),
    h=st.integers(1, 8),
    seed=st.integers(0, 2**31 - 1),
    n_pal=st.integers(1, 256),
    use_trns=st.booleans(),
    filters=st.lists(st.integers(0, 4), min_size=1, max_size=4),
)
@settings(max_examples=40, deadline=None)
def test_png_palette_decode(w, h, seed, n_pal, use_trns, filters):
    """8-bit palette PNGs expand through PLTE (and tRNS alpha) to
    exactly the palette-mapped RGB(A) raster."""
    import numpy as np

    from twitter_kafka_etl_spark.operators import multimodal as M

    rng = np.random.default_rng(seed)
    pal = rng.integers(0, 256, size=(n_pal, 3), dtype=np.uint8)
    idx = rng.integers(0, n_pal, size=(h, w, 1), dtype=np.uint8)
    trns = bytes(rng.integers(0, 256, size=rng.integers(0, n_pal + 1),
                              dtype=np.uint8)) if use_trns else None
    payload = _encode_png(idx, filters, color_type=3, bit_depth=8,
                          palette=pal, trns=trns)
    got = M.decode_png_raster(payload)
    expect = pal[idx[:, :, 0]]
    if trns is not None:
        alpha = np.full(n_pal, 255, dtype=np.uint8)
        alpha[: len(trns)] = np.frombuffer(trns, dtype=np.uint8)
        expect = np.dstack([expect, alpha[idx[:, :, 0]]])
    assert got.shape == expect.shape
    assert (got == expect).all()


def test_png_zero_dimension_rejected_before_inflate():
    """A height=0 (or width=0) IHDR used to make the inflate bound 0,
    which zlib treats as UNLIMITED — a tiny IDAT bomb inflated fully
    before the length check. Zero dimensions must be rejected up front,
    before any IDAT byte is decompressed (r8 advice)."""
    import struct
    import zlib

    import pytest

    from twitter_kafka_etl_spark.operators import multimodal as M

    def chunk(t, d):
        return (
            struct.pack(">I", len(d)) + t + d
            + struct.pack(">I", zlib.crc32(t + d))
        )

    bomb = chunk(b"IDAT", zlib.compress(b"\x00" * (8 << 20)))
    for w, h in ((5, 0), (0, 5), (0, 0)):
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
        payload = (
            M._PNG_SIG + chunk(b"IHDR", ihdr) + bomb + chunk(b"IEND", b"")
        )
        with pytest.raises(ValueError, match="dimensions"):
            M.decode_png_raster(payload)


_collapse_corpus = st.lists(
    st.tuples(
        st.integers(0, 2),  # base text family
        st.integers(0, 2),  # mutation (0 = exact copy of the family)
        st.integers(1, 3),  # multiplicity — exact-duplicate group size
    ),
    min_size=1,
    max_size=5,
)


@given(spec=_collapse_corpus)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_collapsed_pair_form_equivalence_property(spark, spec):
    """For ANY corpus shape — arbitrary mixes of exact-duplicate groups
    and near-duplicates — the collapsed pair form expands through the
    membership table to exactly the expanded member pairs, and its
    implied mass counts them (the exact-inversion contract of
    expand=False, on the simhash family that shares
    _collapsed_pair_form/expand_collapsed_pairs with minhash)."""
    from twitter_kafka_etl_spark.operators import dedup as D

    bases = [
        " ".join(f"w{f}_{i}" for i in range(30)) for f in range(3)
    ]
    rows, next_id = [], 0
    for fam, mut, mult in spec:
        text = bases[fam]
        if mut:
            text = text.replace(f"w{fam}_{mut}", f"zz{mut}")
        for _ in range(mult):
            rows.append((next_id, text))
            next_id += 1
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sig = D.simhash(df)
    expanded = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in D.simhash_pairs(sig, max_hamming=8, n_chunks=16).collect()
    }
    collapsed = D.simhash_pairs(
        sig, max_hamming=8, n_chunks=16, expand=False
    )
    crows = collapsed.collect()
    redone = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in D.expand_collapsed_pairs(
            collapsed, D.simhash_groups(sig), extra_cols=("hamming",)
        ).collect()
    }
    assert redone == expanded
    mass = sum(
        r.c_a * (r.c_a - 1) // 2 if r.rep_a == r.rep_b else r.c_a * r.c_b
        for r in crows
    )
    assert mass == len(expanded)


@given(spec=_collapse_corpus)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_collapsed_components_equivalence_property(spark, spec):
    """For ANY corpus shape, clustering the representative graph and
    inheriting components through the membership join
    (collapsed_components) yields the exact (doc, component) assignment
    of connected_components over the expanded member pairs — including
    isolated docs as singletons and the min-member-id component label."""
    from twitter_kafka_etl_spark.operators import dedup as D

    bases = [
        " ".join(f"w{f}_{i}" for i in range(30)) for f in range(3)
    ]
    rows, next_id = [], 0
    for fam, mut, mult in spec:
        text = bases[fam]
        if mut:
            text = text.replace(f"w{fam}_{mut}", f"zz{mut}")
        for _ in range(mult):
            rows.append((next_id, text))
            next_id += 1
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sig = D.simhash(df)
    pairs = D.simhash_pairs(sig, max_hamming=8, n_chunks=16)
    expected = {
        (r.doc_id, r.component_id)
        for r in D.connected_components(pairs, nodes=df).collect()
    }
    collapsed = D.simhash_pairs(
        sig, max_hamming=8, n_chunks=16, expand=False
    )
    got = {
        (r.doc_id, r.component_id)
        for r in D.collapsed_components(
            collapsed, D.simhash_groups(sig)
        ).collect()
    }
    assert got == expected


def test_collapsed_components_membership_edge_cases(spark):
    """The membership table is the scope contract: a doc absent from
    it is OUT of scope (absent from the output, nothing else shifts),
    and a member whose rep has no collapsed row stays a SINGLETON
    labelled with its own id — not its rep's (r9 verdict follow-up:
    the missing-doc membership case had no direct test)."""
    from twitter_kafka_etl_spark.operators import dedup as D

    collapsed = spark.createDataFrame(
        [(1, 5, 2, 1), (10, 10, 3, 3)], ["rep_a", "rep_b", "c_a", "c_b"]
    )
    membership = spark.createDataFrame(
        [(1, 1), (2, 1), (5, 5), (10, 10), (11, 10), (12, 10), (20, 20)],
        ["m_id", "rep_id"],
    )
    full = {
        (r.doc_id, r.component_id)
        for r in D.collapsed_components(collapsed, membership).collect()
    }
    assert full == {
        (1, 1), (2, 1), (5, 1),          # cross row joins groups 1 and 5
        (10, 10), (11, 10), (12, 10),    # within row: clique on rep 10
        (20, 20),                        # edge-free rep: singleton
    }
    # membership missing doc 2: it drops out of scope; no other
    # assignment moves (in particular rep 1's component label is
    # unchanged — labels come from rep ids, not member enumeration)
    partial = {
        (r.doc_id, r.component_id)
        for r in D.collapsed_components(
            collapsed, membership.filter(F.col("m_id") != 2)
        ).collect()
    }
    assert partial == full - {(2, 1)}


def _encode_bmp(raster, top_down=False):
    """Test-side BMP writer: BITMAPINFOHEADER, BI_RGB, 24/32-bit,
    RGB(A) in → BGR(A) rows padded to 4 bytes, bottom-up by default."""
    import struct

    import numpy as np

    h, w, ch = raster.shape
    order = [2, 1, 0] + ([3] if ch == 4 else [])
    bgr = raster[:, :, order]
    if not top_down:
        bgr = bgr[::-1]
    stride = ((8 * ch * w + 31) // 32) * 4
    rows = b"".join(
        bgr[y].tobytes() + b"\x00" * (stride - w * ch) for y in range(h)
    )
    data_off = 14 + 40
    header = (
        b"BM"
        + struct.pack("<IHHI", data_off + len(rows), 0, 0, data_off)
        + struct.pack(
            "<IiiHHIIiiII",
            40, w, (-h if top_down else h), 1, 8 * ch, 0,
            len(rows), 2835, 2835, 0, 0,
        )
    )
    return header + rows


@given(
    w=st.integers(1, 9),
    h=st.integers(1, 9),
    seed=st.integers(0, 2**31 - 1),
    alpha=st.booleans(),
    top_down=st.booleans(),
)
@settings(max_examples=40, deadline=None)
def test_bmp_decode_roundtrip(w, h, seed, alpha, top_down):
    """decode_bmp_raster reconstructs exactly the raster a synthesized
    BMP encodes — row padding, bottom-up/top-down, 24/32-bit."""
    import numpy as np

    from twitter_kafka_etl_spark.operators import multimodal as M

    rng = np.random.default_rng(seed)
    ch = 4 if alpha else 3
    raster = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)
    payload = _encode_bmp(raster, top_down=top_down)
    got = M.decode_bmp_raster(payload)
    assert got.shape == raster.shape
    assert (got == raster).all()
    d = M.decode_image(payload)
    assert d["media"] == "image/bmp"
    assert (d["width"], d["height"], d["n_channels"]) == (w, h, ch)
    assert abs(d["mean_value"] - float(raster.mean())) < 1e-9


@given(
    w=st.integers(1, 8),
    h=st.integers(1, 8),
    seed=st.integers(0, 2**31 - 1),
    alpha=st.booleans(),
    top_down=st.booleans(),
)
@settings(max_examples=25, deadline=None)
def test_fixture_bmp_byte_equals_independent_encoder(w, h, seed, alpha, top_down):
    """The x103 fixture's BMP writer (multimodal._fixture_bmp) and this
    file's independently written _encode_bmp must emit byte-identical
    payloads for the same raster — two hand-rolled encoders of the same
    canonical layout live in the repo on purpose (test independence),
    so this pin makes any future divergence loud instead of letting the
    property tests and the x103 oracle disagree about what a canonical
    BMP is (r9 review finding)."""
    import numpy as np

    from twitter_kafka_etl_spark.operators import multimodal as M

    rng = np.random.default_rng(seed)
    ch = 4 if alpha else 3
    raster = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)
    order = [2, 1, 0] + ([3] if ch == 4 else [])
    pix = raster[:, :, order].tobytes()  # fixture takes raw BGR(A) rows
    assert M._fixture_bmp(w, h, ch, pix, top_down=top_down) == _encode_bmp(
        raster, top_down=top_down
    )


@given(
    n=st.integers(1, 16),
    seed=st.integers(0, 2**31 - 1),
    width=st.sampled_from([1, 2, 3]),
    rate=st.sampled_from([8000, 11025, 16000, 22050]),
)
@settings(max_examples=25, deadline=None)
def test_fixture_wav_byte_equals_stdlib_wave(n, seed, width, rate):
    """multimodal._fixture_wav must emit exactly the bytes the stdlib
    ``wave`` module writes for the same mono PCM clip (canonical
    44-byte header, 8-bit unsigned / 16/24-bit signed LE samples) —
    same divergence pin as the BMP twin above."""
    import io
    import wave

    import numpy as np

    from twitter_kafka_etl_spark.operators import multimodal as M

    rng = np.random.default_rng(seed)
    half = 1 << (8 * width - 1)
    samples = [int(s) for s in rng.integers(-half, half, size=n)]
    if width == 1:
        data = bytes((s + 128) & 0xFF for s in samples)
    else:
        mask = (1 << (8 * width)) - 1
        data = b"".join(
            (s & mask).to_bytes(width, "little") for s in samples
        )
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wv:
        wv.setnchannels(1)
        wv.setsampwidth(width)
        wv.setframerate(rate)
        wv.writeframes(data)
    assert M._fixture_wav(rate, samples, width) == buf.getvalue()


@given(
    w=st.integers(1, 9),
    h=st.integers(1, 9),
    seed=st.integers(0, 2**31 - 1),
    ch=st.sampled_from([1, 3]),
    depth=st.sampled_from([8, 16]),
)
@settings(max_examples=25, deadline=None)
def test_fixture_png_roundtrips_through_real_decoder(w, h, seed, ch, depth):
    """The x103 stored-deflate filter-0 PNG fixture must decode EXACTLY
    through the real decode_png_raster — same inflate + scanline walk
    as any other PNG — for any dims/seed, gray/RGB, 8/16-bit."""
    import numpy as np

    from twitter_kafka_etl_spark.operators import multimodal as M

    rng = np.random.default_rng(seed)
    if depth == 8:
        raster = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)
        raw = raster.tobytes()
    else:
        raster = rng.integers(0, 65536, size=(h, w, ch), dtype=np.uint16)
        raw = raster.astype(">u2").tobytes()  # PNG 16-bit is big-endian
    payload = M._fixture_png(w, h, ch, raw, bit_depth=depth)
    assert (M.decode_png_raster(payload) == raster).all()
    d = M.decode_png(payload)
    assert (d["width"], d["height"], d["n_channels"]) == (w, h, ch)


@given(
    w=st.integers(1, 9),
    h=st.integers(1, 9),
    seed=st.integers(0, 2**31 - 1),
    ch=st.sampled_from([1, 3]),
    ftype=st.sampled_from([1, 2]),
)
@settings(max_examples=25, deadline=None)
def test_fixture_png_sub_up_roundtrips_through_real_decoder(
    w, h, seed, ch, ftype
):
    """The Sub/Up-filtered x103 fixture arms must decode EXACTLY
    through the real decode path — forward filtering in the generator
    inverted by the real _unfilter_scanline types 1/2 — and the
    payload must really carry the claimed filter type on every
    scanline (offset 48 + y*(1+w*ch) under the stored-deflate
    layout)."""
    import numpy as np

    from twitter_kafka_etl_spark.operators import multimodal as M

    rng = np.random.default_rng(seed)
    raster = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)
    payload = M._fixture_png(w, h, ch, raster.tobytes(), filter_type=ftype)
    for y in range(h):
        assert payload[48 + y * (1 + w * ch)] == ftype
    assert (M.decode_png_raster(payload) == raster).all()


@given(
    w=st.integers(1, 9),
    h=st.integers(1, 9),
    seed=st.integers(0, 2**31 - 1),
    n_pal=st.integers(1, 256),
)
@settings(max_examples=25, deadline=None)
def test_fixture_png_palette_roundtrips_through_real_decoder(
    w, h, seed, n_pal
):
    """The palette x103 fixture arm must decode EXACTLY through the
    real PLTE-expansion path for any dims/seed/palette size, and the
    decoded raster must equal the palette lookup of the index
    raster."""
    import numpy as np

    from twitter_kafka_etl_spark.operators import multimodal as M

    rng = np.random.default_rng(seed)
    pal = rng.integers(0, 256, size=(n_pal, 3), dtype=np.uint8)
    idx = rng.integers(0, n_pal, size=(h, w), dtype=np.uint8)
    payload = M._fixture_png_palette(w, h, idx.tobytes(), pal.tobytes())
    assert (M.decode_png_raster(payload) == pal[idx]).all()
    d = M.decode_png(payload)
    assert (d["width"], d["height"], d["n_channels"]) == (w, h, 3)


@given(
    w=st.integers(1, 24),
    h=st.integers(1, 24),
    seed=st.integers(0, 2**31 - 1),
    bpp=st.sampled_from([1, 2, 3, 4, 6, 8]),
)
@settings(max_examples=40, deadline=None)
def test_unfilter_wavefront_matches_scanline_reference(w, h, seed, bpp):
    """The anti-diagonal wavefront unfilter must agree BYTE-FOR-BYTE
    with the per-scanline reference (_unfilter_scanline) on arbitrary
    filtered input — any byte values, any per-row mix of filter types
    0-4, every bpp the supported color types produce. Unfiltering is
    total over arbitrary bytes, so no PNG encoder is needed to drive
    it."""
    import numpy as np

    from twitter_kafka_etl_spark.operators import multimodal as M

    rng = np.random.default_rng(seed)
    raw = rng.integers(0, 256, size=(h, w * bpp), dtype=np.uint8)
    ftypes = rng.integers(0, 5, size=h)
    ref = np.zeros((h, w * bpp), dtype=np.uint8)
    prev = np.zeros(w * bpp, dtype=np.int64)
    for y in range(h):
        ref[y] = M._unfilter_scanline(
            int(ftypes[y]), raw[y].astype(np.int64), prev, bpp
        )
        prev = ref[y].astype(np.int64)
    got = M._unfilter_wavefront(raw, ftypes.astype(np.int64), bpp)
    assert (got == ref).all()


@given(
    w=st.integers(1, 9),
    h=st.integers(1, 9),
    seed=st.integers(0, 2**31 - 1),
    ch=st.sampled_from([1, 3, 4]),
)
@settings(max_examples=25, deadline=None)
def test_fixture_tiff_roundtrips_through_real_decoder(w, h, seed, ch):
    """The x103 single-strip LE TIFF fixture must decode EXACTLY
    through the real decode_tiff_raster (the generic IFD walk), for
    any dims/seed and all three channel layouts."""
    import numpy as np

    from twitter_kafka_etl_spark.operators import multimodal as M

    rng = np.random.default_rng(seed)
    raster = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)
    payload = M._fixture_tiff(w, h, ch, raster.tobytes())
    assert (M.decode_tiff_raster(payload) == raster).all()
    d = M.decode_tiff(payload)
    assert (d["width"], d["height"], d["n_channels"]) == (w, h, ch)


def _encode_tiff(raster, order="little", n_strips=1):
    """Test-side TIFF writer: uncompressed chunky 8-bit samples, the
    raster split across ``n_strips`` strips, either byte order, all
    tag values stored out-of-line past the IFD."""
    import numpy as np

    h, w, ch = raster.shape
    data = np.ascontiguousarray(raster.astype(np.uint8)).tobytes()
    rows_per_strip = max(1, (h + n_strips - 1) // n_strips)
    strips = []
    y = 0
    while y < h:
        rows = min(rows_per_strip, h - y)
        strips.append(data[y * w * ch : (y + rows) * w * ch])
        y += rows

    def b(v, n):
        return int(v).to_bytes(n, order)

    magic = b"II*\x00" if order == "little" else b"MM\x00*"
    # layout: header(8) | IFD | tag-value area | strip data
    entries = []  # (tag, type, count, values)
    entries.append((256, 4, 1, [w]))
    entries.append((257, 4, 1, [h]))
    entries.append((258, 3, ch, [8] * ch))
    entries.append((259, 3, 1, [1]))
    entries.append((262, 3, 1, [1 if ch == 1 else 2]))
    entries.append((273, 4, len(strips), None))  # offsets patched below
    entries.append((277, 3, 1, [ch]))
    entries.append((278, 4, 1, [rows_per_strip]))
    entries.append((279, 4, len(strips), [len(s) for s in strips]))
    entries.sort()
    sizes = {1: 1, 3: 2, 4: 4}
    ifd_off = 8
    ifd_len = 2 + 12 * len(entries) + 4
    # assign the out-of-line value area, then the strip area
    val_off = ifd_off + ifd_len
    packed_vals = []
    cursor = val_off
    for tag, typ, cnt, vals in entries:
        total = sizes[typ] * cnt
        if total > 4:
            packed_vals.append((tag, cursor))
            cursor += total
        else:
            packed_vals.append((tag, None))
    strip_area = cursor
    strip_offsets = []
    c = strip_area
    for s in strips:
        strip_offsets.append(c)
        c += len(s)
    out = bytearray(magic + b(ifd_off, 4))
    out += b(len(entries), 2)
    val_bytes = bytearray()
    for (tag, typ, cnt, vals), (_, off) in zip(entries, packed_vals):
        if tag == 273:
            vals = strip_offsets
        enc = b"".join(b(v, sizes[typ]) for v in vals)
        out += b(tag, 2) + b(typ, 2) + b(cnt, 4)
        if off is None:
            out += enc + b"\x00" * (4 - len(enc))
        else:
            out += b(off, 4)
            val_bytes += enc
    out += b(0, 4)  # next-IFD pointer
    out += val_bytes
    for s in strips:
        out += s
    return bytes(out)


@given(
    w=st.integers(1, 9),
    h=st.integers(1, 9),
    seed=st.integers(0, 2**31 - 1),
    ch=st.sampled_from([1, 3, 4]),
    order=st.sampled_from(["little", "big"]),
    n_strips=st.integers(1, 4),
)
@settings(max_examples=40, deadline=None)
def test_tiff_decode_roundtrip(w, h, seed, ch, order, n_strips):
    """decode_tiff_raster reconstructs exactly the raster a synthesized
    uncompressed TIFF encodes — both byte orders, gray/RGB/RGBA, any
    strip split."""
    import numpy as np

    from twitter_kafka_etl_spark.operators import multimodal as M

    rng = np.random.default_rng(seed)
    raster = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)
    payload = _encode_tiff(raster, order=order, n_strips=n_strips)
    got = M.decode_tiff_raster(payload)
    assert got.shape == raster.shape
    assert (got == raster).all()
    d = M.decode_image(payload)
    assert d["media"] == "image/tiff"
    assert (d["width"], d["height"], d["n_channels"]) == (w, h, ch)
    assert abs(d["mean_value"] - float(raster.mean())) < 1e-9


@given(
    samples=st.lists(
        st.integers(-(1 << 23), (1 << 23) - 1), min_size=1, max_size=48
    ),
    rate=st.sampled_from([8000, 44100]),
)
@settings(max_examples=30, deadline=None)
def test_wav_24bit_decode(samples, rate):
    """24-bit PCM WAV (3-byte little-endian signed samples) decodes to
    the exact peak/RMS of the synthesized stream."""
    import io
    import wave

    from twitter_kafka_etl_spark.operators import multimodal as M

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wv:
        wv.setnchannels(1)
        wv.setsampwidth(3)
        wv.setframerate(rate)
        wv.writeframes(
            b"".join(s.to_bytes(3, "little", signed=True) for s in samples)
        )
    d = M.decode_wav(buf.getvalue())
    assert d["n_samples"] == len(samples) and d["sample_rate"] == rate
    assert d["peak"] == float(max(abs(s) for s in samples))
    rms = (sum(s * s for s in samples) / len(samples)) ** 0.5
    assert abs(d["rms"] - rms) < 1e-6


@given(
    samples=st.lists(st.integers(-32768, 32767), min_size=1, max_size=64),
    rate=st.sampled_from([8000, 16000, 44100]),
)
@settings(max_examples=40, deadline=None)
def test_wav_decode_matches_samples(samples, rate):
    """decode_wav's metadata and amplitude stats equal the synthesized
    PCM stream's ground truth for ANY sample values and rates."""
    import io
    import struct
    import wave

    from twitter_kafka_etl_spark.operators import multimodal as M

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wv:
        wv.setnchannels(1)
        wv.setsampwidth(2)
        wv.setframerate(rate)
        wv.writeframes(b"".join(struct.pack("<h", s) for s in samples))
    d = M.decode_wav(buf.getvalue())
    assert d["n_samples"] == len(samples) and d["sample_rate"] == rate
    assert d["peak"] == float(max(abs(s) for s in samples))
    rms = (sum(s * s for s in samples) / len(samples)) ** 0.5
    assert abs(d["rms"] - rms) < 1e-9
    assert d["duration_ms"] == int(round(1000.0 * len(samples) / rate))


def _two_branch_topic_aggregates(enriched, topic_col="topic"):
    """The reference's shape of the serving aggregate: positivity branch
    ⋈ explicit-list emotion pivot, broadcast inner join."""
    from twitter_kafka_etl_spark.functions.scalar import positivity_flag
    from twitter_kafka_etl_spark.pipeline import EMOTIONS

    rate = R.conditional_rate_agg(
        enriched, topic_col, positivity_flag("sentiment")
    ).withColumnRenamed(topic_col, "topic_agg")
    pivot = R.pivot_explicit(
        R.count_agg(enriched, [topic_col, "emotion"], "emotion_counts"),
        topic_col, "emotion", EMOTIONS, F.sum("emotion_counts"), fill=0,
    )
    return R.join_tables(
        rate, pivot, on=rate.topic_agg == pivot[topic_col],
        how="inner", broadcast_right=True,
    )


def _assert_same_frame(got, want):
    assert got.columns == want.columns
    assert got.dtypes == want.dtypes
    assert sorted(got.collect(), key=repr) == sorted(want.collect(), key=repr)


def test_topic_aggregates_equals_two_branch_join(spark, sf_dir):
    """The one-pass conditional aggregate returns exactly the two-branch
    join's rows, column order and dtypes: on the flagship input, on a
    frame with a null topic, a null sentiment, an out-of-set and a null
    emotion, and with a topic column not named ``topic``."""
    from twitter_kafka_etl_spark.io import read_table
    from twitter_kafka_etl_spark.pipeline import enrich_rule_based, topic_aggregates

    events = read_table(spark, sf_dir, "events").withColumnRenamed(
        "event_type", "topic"
    )
    flagship = enrich_rule_based(events)
    _assert_same_frame(
        topic_aggregates(flagship), _two_branch_topic_aggregates(flagship)
    )

    edge = spark.createDataFrame(
        [
            ("a", "positive", "joy"),
            ("a", None, "fear"),
            ("a", "negative", "rage"),
            ("a", "positive", None),
            ("b", "neutral", "rage"),  # only out-of-set emotions: all zeros
            ("c", None, None),
            (None, "positive", "joy"),  # null topic: dropped by the join
            (None, "negative", "love"),
        ],
        "topic string, sentiment string, emotion string",
    )
    _assert_same_frame(topic_aggregates(edge), _two_branch_topic_aggregates(edge))
    assert {r.topic_agg for r in topic_aggregates(edge).collect()} == {"a", "b", "c"}

    renamed = flagship.withColumnRenamed("topic", "channel")
    got = topic_aggregates(renamed, topic_col="channel")
    assert "channel" in got.columns and "topic" not in got.columns
    _assert_same_frame(got, _two_branch_topic_aggregates(renamed, topic_col="channel"))
