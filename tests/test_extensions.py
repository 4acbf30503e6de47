"""Unit tests for the LLM-pipeline extension operators."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from twitter_kafka_etl_spark.io import read_table
from twitter_kafka_etl_spark.operators import dedup as D
from twitter_kafka_etl_spark.operators import multimodal as M
from twitter_kafka_etl_spark.operators import similarity as S
from twitter_kafka_etl_spark.operators import text as T


def test_exact_dedup_finds_planted_duplicate(spark):
    df = spark.createDataFrame(
        [(1, "hello  world"), (2, "HELLO world"), (3, "other text")],
        ["doc_id", "text"],
    )
    out = {r.keeper_id: r.dup_cnt for r in D.exact_duplicates(df).collect()}
    # rows 1 and 2 normalize to the same fingerprint
    assert out == {1: 2, 3: 1}


def test_minhash_lsh_finds_planted_near_duplicate(spark):
    # shingle-Jaccard(1,2) ≈ 0.97 → band collision is near-certain, and
    # with the fixed hash seeds the outcome is fully deterministic
    base = " ".join("w%d" % i for i in range(100))
    near = base.replace("w99", "zz")
    far = " ".join("q%d" % i for i in range(50))
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], ["doc_id", "text"]
    )
    pairs = D.minhash_lsh_pairs(D.minhash_signatures(D.shingle(df))).collect()
    assert {(r.doc_a, r.doc_b) for r in pairs} == {(1, 2)}


def test_simhash_near_duplicate_has_small_hamming(spark):
    base = " ".join(["tok%d" % i for i in range(60)])
    near = base.replace("tok59", "tok99")
    df = spark.createDataFrame([(1, base), (2, near)], ["doc_id", "text"])
    # max_hamming=8 needs >= 9 chunks for pigeonhole completeness;
    # 16 × 2-bit chunks partition the 32-bit signature evenly
    pairs = D.simhash_pairs(D.simhash(df), max_hamming=8, n_chunks=16).collect()
    assert len(pairs) == 1 and pairs[0].hamming <= 8


def test_collapsed_pair_form_expands_to_member_pairs(spark):
    """expand=False emits (rep_a, rep_b, c_a, c_b[, hamming]) whose
    expansion through the membership table set-equals the expand=True
    member pairs, and whose implied mass (C(c,2) within, c_a*c_b cross)
    counts them exactly — both LSH families, on a duplicate-heavy
    corpus with exact AND near duplicates."""
    base = " ".join("w%d" % i for i in range(100))
    near = base.replace("w99", "zz")
    far = " ".join("q%d" % i for i in range(50))
    rows = [(1, base), (2, near), (3, far), (4, base), (5, base),
            (6, near), (7, far)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    def mass(collapsed_rows):
        return sum(
            r.c_a * (r.c_a - 1) // 2 if r.rep_a == r.rep_b else r.c_a * r.c_b
            for r in collapsed_rows
        )

    sigs = D.minhash_signatures(D.shingle(df))
    expanded = {(r.doc_a, r.doc_b) for r in D.minhash_lsh_pairs(sigs).collect()}
    collapsed = D.minhash_lsh_pairs(sigs, expand=False)
    membership = D.minhash_signature_groups(sigs)
    redone = {
        (r.doc_a, r.doc_b)
        for r in D.expand_collapsed_pairs(collapsed, membership).collect()
    }
    crows = collapsed.collect()
    assert expanded and redone == expanded
    assert mass(crows) == len(expanded)
    # the collapsed table is strictly smaller than the pair set here
    assert len(crows) < len(expanded)

    sh = D.simhash(df)
    exp = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in D.simhash_pairs(sh, max_hamming=8, n_chunks=16).collect()
    }
    col = D.simhash_pairs(sh, max_hamming=8, n_chunks=16, expand=False)
    mem = D.simhash_groups(sh)
    red = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in D.expand_collapsed_pairs(
            col, mem, extra_cols=("hamming",)
        ).collect()
    }
    srows = col.collect()
    assert exp and red == exp
    assert mass(srows) == len(exp)


def test_collapsed_form_jaccard_containment(spark):
    """expand=False on the shingle-set metrics: collapsed rows expand
    through text_fingerprint_groups to exactly the member pairs, values
    included, and the implied mass counts them."""
    base = " ".join("w%d" % i for i in range(40))
    near = base.replace("w39", "zz")  # high jaccard with base
    quote = " ".join("w%d" % i for i in range(10))  # contained in base
    far = " ".join("q%d" % i for i in range(30))
    rows = [(1, base), (2, near), (3, quote), (4, far),
            (5, base), (6, base), (7, quote)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    membership = D.text_fingerprint_groups(df)

    def mass(collapsed_rows):
        return sum(
            r.c_a * (r.c_a - 1) // 2 if r.rep_a == r.rep_b else r.c_a * r.c_b
            for r in collapsed_rows
        )

    exp_j = {
        (r.doc_a, r.doc_b, round(r.jaccard, 9))
        for r in D.ngram_jaccard_pairs(df, threshold=0.2).collect()
    }
    col_j = D.ngram_jaccard_pairs(df, threshold=0.2, expand=False)
    red_j = {
        (r.doc_a, r.doc_b, round(r.jaccard, 9))
        for r in D.expand_collapsed_pairs(
            col_j, membership, extra_cols=("jaccard",)
        ).collect()
    }
    jrows = col_j.collect()
    assert exp_j and red_j == exp_j and mass(jrows) == len(exp_j)

    exp_c = {
        (r.doc_a, r.doc_b, r.common, round(r.containment, 9))
        for r in D.containment_pairs(df, threshold=0.6).collect()
    }
    col_c = D.containment_pairs(df, threshold=0.6, expand=False)
    red_c = {
        (r.doc_a, r.doc_b, r.common, round(r.containment, 9))
        for r in D.expand_collapsed_pairs(
            col_c, membership, extra_cols=("common", "containment")
        ).collect()
    }
    crows = col_c.collect()
    assert exp_c and red_c == exp_c and mass(crows) == len(exp_c)
    # the quote is contained in base: that cross pair must be present
    assert any(r.rep_a == 1 and r.rep_b == 3 for r in crows)


def test_collapsed_components_match_expanded_path(spark):
    """collapsed_components over the expand=False table + membership
    must produce the exact (doc_id, component_id) assignment — and
    therefore the exact keeper set — of connected_components over the
    expanded member pairs, on a corpus with exact dups, near dups, and
    isolated docs."""
    from twitter_kafka_etl_spark.operators import curation as C

    base = " ".join("w%d" % i for i in range(100))
    near = base.replace("w99", "zz")
    far = " ".join("q%d" % i for i in range(50))
    alt = " ".join("r%d" % i for i in range(60))
    texts = [base, near, far, base, base, near, far, alt, alt]
    df = spark.createDataFrame(
        list(enumerate(texts)), ["doc_id", "text"]
    )
    scored = df.select(
        "doc_id", (F.col("doc_id") % 3).cast("double").alias("quality_score")
    )
    sigs = D.minhash_signatures(D.shingle(df))

    pairs = D.minhash_lsh_pairs(sigs)
    comps = D.connected_components(pairs, nodes=df)
    exp_assign = {(r.doc_id, r.component_id) for r in comps.collect()}
    exp_keep = {
        r.doc_id
        for r in C.select_keepers(scored, comps).filter(F.col("keep")).collect()
    }

    coll = D.minhash_lsh_pairs(sigs, expand=False)
    mem = D.minhash_signature_groups(sigs)
    ccomps = D.collapsed_components(coll, mem)
    col_assign = {(r.doc_id, r.component_id) for r in ccomps.collect()}
    assert col_assign == exp_assign
    col_keep = {
        r.doc_id
        for r in C.select_keepers(scored, ccomps)
        .filter(F.col("keep"))
        .collect()
    }
    assert col_keep == exp_keep and col_keep


def test_pin_lazy_reuses_existing_checkpoint_handle(spark):
    """Operators pin caller-supplied frames for multi-consumer reuse;
    when the caller already pinned the SAME handle, re-wrapping it
    would store the blocks twice (r9 review finding) — _pin_lazy must
    return the existing handle untouched, and still pin a raw plan."""
    raw = spark.range(10).selectExpr("id", "id * 2 AS y")
    pinned = raw.localCheckpoint(eager=False)
    assert D._pin_lazy(pinned) is pinned
    repinned = D._pin_lazy(raw)
    assert repinned is not raw
    assert (
        repinned._jdf.queryExecution().analyzed().getClass().getSimpleName()
        == "LogicalRDD"
    )
    # a derived frame over a pin is NOT itself a pin — it must re-pin
    derived = pinned.select("id")
    assert D._pin_lazy(derived) is not derived
    # createDataFrame is LogicalRDD-rooted but NOT materialized — it
    # must still be pinned (the plan-root check alone would skip it)
    local = spark.createDataFrame([(1, "a"), (2, "b")], "i long, s string")
    assert D._pin_lazy(local) is not local


def test_collapsed_components_edge_free_groups_stay_singletons(spark):
    """The shingle-metric collapsed forms FILTER within-group rows
    (zero-shingle texts, df-capped-out groups), so a duplicate group
    can appear in no collapsed row at all — its members have no
    expanded edge and must come back as singletons, not get merged
    through the membership join (r9 review finding: the unconditional
    inherit join merged docs 1/2 below). Groups touched by a cross row
    stay internally connected through the bipartite expansion."""
    df = spark.createDataFrame(
        [
            (1, "a b"),  # duplicate pair shorter than the shingle
            (2, "a b"),  # window: zero shingles, no pairs either path
            (3, "x y z w v u t s"),
            (4, "x y z w v u t s"),
            (5, "x y z w v u t q"),  # near-dup cross partner of 3/4
        ],
        "doc_id long, text string",
    )
    mem = D.text_fingerprint_groups(df)
    for kwargs in ({"n": 3}, {"n": 3, "df_cap": 1}):
        pairs = D.ngram_jaccard_pairs(df, **kwargs)
        expected = {
            (r.doc_id, r.component_id)
            for r in D.connected_components(
                pairs, nodes=df, id_col="doc_id"
            ).collect()
        }
        coll = D.ngram_jaccard_pairs(df, expand=False, **kwargs)
        got = {
            (r.doc_id, r.component_id)
            for r in D.collapsed_components(coll, mem).collect()
        }
        assert got == expected, kwargs
    # the df_cap=1 regime kills every pair: all five docs singletons
    assert {(r.doc_id, r.component_id)
            for r in D.collapsed_components(
                D.ngram_jaccard_pairs(df, n=3, df_cap=1, expand=False), mem
            ).collect()} == {(i, i) for i in range(1, 6)}


def test_expand_false_rejects_explicit_collapse_false(spark):
    """expand=False implies the collapse path unconditionally; a caller
    explicitly passing collapse_exact=False must get a loud error, not
    a silently discarded argument (r8 advice)."""
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f")], ["doc_id", "text"]
    )
    sigs = D.minhash_signatures(D.shingle(df))
    sh = D.simhash(df)
    for call in (
        lambda: D.minhash_lsh_pairs(sigs, expand=False, collapse_exact=False),
        lambda: D.simhash_pairs(sh, expand=False, collapse_exact=False),
        lambda: D.ngram_jaccard_pairs(df, expand=False, collapse_exact=False),
        lambda: D.containment_pairs(df, expand=False, collapse_exact=False),
    ):
        with pytest.raises(ValueError, match="collapse_exact"):
            call()


def test_x103_fixture_exercises_real_decoders_and_degrade_paths(spark, sf_dir):
    """The x103 CORRECTNESS query must actually route through the real
    netpbm and WAV kernels (both image formats, audio) AND the two
    degrade paths (unrecognized container, truncated raster)."""
    from twitter_kafka_etl_spark.plans import REGISTRY

    rows = REGISTRY["x103_media_decode"].build(spark, sf_dir).collect()
    assert len(rows) == 36
    hist = {}
    for r in rows:
        hist[r.media_type] = hist.get(r.media_type, 0) + 1
    assert hist == {
        "image/x-portable-graymap": 4,
        "image/x-portable-pixmap": 4,
        "audio/wav": 8,
        "image/bmp": 4,
        # 4 filter-0 + 1 16-bit + 2 Sub + 2 Up + 2 palette
        "image/png": 11,
        "image/tiff": 3,
        "unknown": 1,
        "corrupt": 1,
    }
    by_type = {r.media_type: r for r in rows}
    corrupt = by_type["corrupt"]
    # the truncated image keeps its byte count but decodes nothing
    assert corrupt.n_bytes == 13 and corrupt.width == -1
    wav = by_type["audio/wav"]
    assert wav.sample_rate > 0 and wav.peak_i > 0 and wav.width == -1
    img = by_type["image/x-portable-pixmap"]
    assert img.n_channels == 3 and img.mean_q6 > 0 and img.sample_rate == -1
    bmp = by_type["image/bmp"]
    assert bmp.width > 0 and bmp.n_channels in (3, 4) and bmp.peak_i == -1
    # PNG rows exercise the real zlib-inflate + scanline-walk path
    png = by_type["image/png"]
    assert png.width > 0 and png.n_channels in (1, 3) and png.mean_q6 > 0
    assert {r.n_channels for r in rows if r.media_type == "image/png"} == {1, 3}
    # the 16-bit gray row's mean exceeds any 8-bit mean (x1e6 quantized)
    assert max(r.mean_q6 for r in rows
               if r.media_type == "image/png") > 256 * 1000000
    # TIFF rows exercise the real IFD walk (gray/RGB/RGBA strips)
    assert {r.n_channels for r in rows
            if r.media_type == "image/tiff"} == {1, 3, 4}
    # all three PCM sample widths present (8/16/24-bit peak magnitudes)
    peaks = sorted(r.peak_i for r in rows if r.media_type == "audio/wav")
    assert peaks[0] < 256 and peaks[-1] >= 1 << 16


def test_jaccard_identical_docs_is_one(spark):
    t = "a b c d e f g h"
    df = spark.createDataFrame([(1, t), (2, t)], ["doc_id", "text"])
    rows = D.ngram_jaccard_pairs(df, threshold=0.9).collect()
    assert len(rows) == 1 and rows[0].jaccard == 1.0


def test_topk_bruteforce_is_exact(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings")
    top = S.topk_bruteforce(emb, query_id=0, k=5).collect()
    assert len(top) == 5
    sims = [r.cos_sim for r in top]
    assert sims == sorted(sims, reverse=True)
    assert all(-1.0 <= s <= 1.0 for s in sims)


def test_zero_norm_vectors_never_rank_or_pair(spark):
    """Cosine is undefined for zero-norm vectors, and Spark ranks NaN
    ABOVE every real double — unguarded, zero vectors won the top-k
    outright, passed `NaN >= threshold` on the LSH pair path (while
    the blocked numpy path dropped them — path divergence), NaN-ranked
    first in prototype windows, and a zero centroid poisoned every
    label's nearest-neighbor audit (r9 review findings). Zero vectors
    must never surface; a zero-norm query returns empty."""
    import math

    dim = 8
    rows = []
    for i in range(40):
        base = [0.0] * dim
        base[i % dim] = 1.0
        base[(i + 1) % dim] = 0.5 + (i % 3) * 0.1
        rows.append((i, base, i % 2))
    rows += [(100, [0.0] * dim, 0), (101, [0.0] * dim, 1)]  # zero vectors
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    for fn in (S.topk_bruteforce, S.topk_lsh, S.topk_ivf):
        got = fn(emb, query_id=0, k=5).collect()
        assert got, fn.__name__
        assert all(r.vec_id not in (100, 101) for r in got), fn.__name__
        assert all(not math.isnan(r.cos_sim) for r in got), fn.__name__
        # a zero-norm query returns empty, not k arbitrary rows
        assert fn(emb, query_id=100, k=5).collect() == [], fn.__name__
    for force in (True, False):
        pairs = S.cosine_pairs(
            emb, threshold=0.5, use_lsh_prefilter=force
        ).collect()
        ids = {r.id_a for r in pairs} | {r.id_b for r in pairs}
        assert ids and not ids & {100, 101}, force
        assert all(not math.isnan(r.cos_sim) for r in pairs), force
    proto = S.prototype_scores(emb, keep_frac=0.5)
    kept = {r.vec_id for r in proto.filter(F.col("keep") == 1).collect()}
    assert kept and not kept & {100, 101}
    sep = S.embedding_separation(emb).collect()
    assert sep and all(not math.isnan(r.inter_cos) for r in sep)
    assert all(not math.isnan(r.margin) for r in sep)


def test_ivf_stride_basis_is_zero_norm_filtered_count(spark):
    """The adaptive centroid stride must be sized from the zero-norm-
    FILTERED count, matching the oracle's COUNT(*) over the filtered
    ``e`` CTE (r9 advisor finding). 3968 nonzero rows + 1 zero vector
    straddle the 63² boundary: the filtered basis gives stride
    max(61, isqrt(3968)) = 62, the raw basis isqrt(3969) = 63 — a
    different centroid set and different assignments."""
    df = spark.range(3969).select(
        F.col("id").alias("vec_id"),
        F.when(
            F.col("id") == 3968, F.array(F.lit(0.0), F.lit(0.0))
        ).otherwise(
            F.array(F.cos(F.col("id") * 0.01), F.sin(F.col("id") * 0.01))
        ).alias("embedding"),
    )
    assert S.centroid_mod_for(3968) == 62 and S.centroid_mod_for(3969) == 63
    auto = S.ivf_assign(df)
    cents = {r.cent_id for r in auto.select("cent_id").distinct().collect()}
    assert cents and all(c % 62 == 0 for c in cents)
    assert any(c % 63 != 0 for c in cents)  # not the raw-count stride
    pinned = S.ivf_assign(df, centroid_mod=62)
    key = lambda r: (r.vec_id, r.cent_id)  # noqa: E731
    got = sorted(auto.select("vec_id", "cent_id").collect(), key=key)
    want = sorted(pinned.select("vec_id", "cent_id").collect(), key=key)
    assert got == want
    assert all(r.vec_id != 3968 for r in got)  # zero vector unassignable


def test_heavy_hitters_sketch_param_mismatch_raises(spark):
    """A sketch built with different width/depth than the probe must
    fail loudly in EVERY direction — larger builds land cells out of
    range (r9 advisor finding); smaller builds pass the range check but
    would silently mis-slot counts (r10 advisor mirrored finding), so
    a smaller depth is caught by depth-level completeness and a
    smaller width by the sampled-key coverage probe."""
    from twitter_kafka_etl_spark.operators import sketches as K

    df = spark.createDataFrame([(i % 5,) for i in range(50)], ["user_id"])
    sk = K.count_min_build(df, "user_id", width=64, depth=4)
    with pytest.raises(ValueError, match="different parameters"):
        K.heavy_hitters_from_sketch(df, sk, "user_id", 5, width=32, depth=4)
    # mirrored direction 1: built depth=2, probed depth=4 — every level
    # 0..3 must exist in a matching build, so 2 levels missing is loud
    sk_d2 = K.count_min_build(df, "user_id", width=64, depth=2)
    with pytest.raises(ValueError, match="smaller depth"):
        K.heavy_hitters_from_sketch(df, sk_d2, "user_id", 5, width=64, depth=4)
    # mirrored direction 2: built width=32, probed width=64 — all cells
    # in range, all depth levels present; only the coverage probe
    # (df keys re-hashed under the probe params must hit nonzero cells)
    # can catch it
    sk_w32 = K.count_min_build(df, "user_id", width=32, depth=4)
    with pytest.raises(ValueError, match="empty sketch cell"):
        K.heavy_hitters_from_sketch(df, sk_w32, "user_id", 5, width=64, depth=4)
    # matching params still serve: bitwise the naive groupBy + HAVING
    got = {
        r.user_id: r.counts
        for r in K.heavy_hitters_from_sketch(
            df, sk, "user_id", 10, width=64, depth=4
        ).collect()
    }
    assert got == {k: 10 for k in range(5)}


def test_lsh_bucket_contains_query_neighbors(spark, sf_dir):
    """ANN results must be a subset of brute-force candidates' score space."""
    emb = read_table(spark, sf_dir, "embeddings")
    ann = S.topk_lsh(emb, query_id=0, k=5).collect()
    exact = {r.vec_id: r.cos_sim for r in S.topk_bruteforce(emb, 0, k=500).collect()}
    for r in ann:
        assert r.vec_id in exact
        assert abs(exact[r.vec_id] - r.cos_sim) < 1e-9


def test_cosine_pairs_lsh_prefilter_is_subset(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings").limit(100)
    exact = {(r.id_a, r.id_b) for r in S.cosine_pairs(emb, 0.3).collect()}
    pre = {(r.id_a, r.id_b)
           for r in S.cosine_pairs(emb, 0.3, use_lsh_prefilter=True).collect()}
    assert pre <= exact


def test_langid_marks_english_markers(spark):
    df = spark.createDataFrame(
        [(1, "the cat sat on a mat"), (2, "der hund und die katze"),
         (3, "xyz qqq zzz")],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r.pred_lang for r in T.lang_id(df).collect()}
    assert got == {1: "en", 2: "de", 3: "und"}


def test_multimodal_codec_formats_remain_plug_points():
    """Codec-bound formats stay declared plug-points; stdlib-parseable
    formats decode natively (see the real-decoder tests below)."""
    with pytest.raises(NotImplementedError):
        M.decode_image(b"\xff\xd8\xff\xe0jpegframe")  # JPEG SOI
    with pytest.raises(NotImplementedError):
        M.decode_audio(b"RIFF")  # truncated RIFF, no WAVE tag
    with pytest.raises(NotImplementedError):
        M.decode_audio(b"\xff\xfb\x90\x00mp3frame")
    # LZW-compressed TIFF stays a plug-point (compression tag != 1)
    import numpy as np

    from tests.test_properties import _encode_tiff

    lzw = bytearray(
        _encode_tiff(np.zeros((1, 1, 1), dtype=np.uint8))
    )
    # patch compression tag value (type SHORT, inline): find tag 259
    n = int.from_bytes(lzw[8:10], "little")
    for i in range(n):
        e = 10 + 12 * i
        if int.from_bytes(lzw[e : e + 2], "little") == 259:
            lzw[e + 8 : e + 10] = (5).to_bytes(2, "little")  # LZW
    with pytest.raises(NotImplementedError):
        M.decode_image(bytes(lzw))


def _png_gray(pixels, width, height, **kw):
    import numpy as np

    raster = np.asarray(pixels, dtype=np.uint8).reshape(height, width, 1)
    from tests.test_properties import _encode_png

    return _encode_png(raster, filters=[0], **kw)


def _bmp_rgb(pixels):
    import numpy as np

    from tests.test_properties import _encode_bmp

    return _encode_bmp(np.asarray(pixels, dtype=np.uint8))


def test_decode_png_real_and_exotic_variants_stay_plug_points():
    # 2x2 gray, filter None
    d = M.decode_image(_png_gray([10, 20, 30, 40], 2, 2))
    assert d["media"] == "image/png"
    assert (d["width"], d["height"], d["n_channels"]) == (2, 2, 1)
    assert abs(d["mean_value"] - 25.0) < 1e-9
    # 16-bit samples decode (r8)
    d16 = M.decode_image(_png_gray([1, 2, 3, 4], 2, 2, bit_depth=16))
    assert d16["media"] == "image/png" and abs(d16["mean_value"] - 2.5) < 1e-9
    # out-of-scope PNG variants raise rather than decode wrong
    with pytest.raises(NotImplementedError):
        M.decode_image(_png_gray([0, 0, 0, 0], 2, 2, interlace=1))
    with pytest.raises(NotImplementedError):  # sub-byte palette
        M.decode_image(
            _png_gray([0, 0, 0, 0], 2, 2, color_type=3, bit_depth=4)
        )
    # palette claiming PLTE but not carrying one is corrupt, not a codec
    with pytest.raises(ValueError):
        M.decode_image(_png_gray([0, 0, 0, 0], 2, 2, color_type=3))
    # corrupt pixel stream (valid signature/IHDR, short IDAT) → ValueError
    import struct
    import zlib as _z

    def chunk(t, b):
        return struct.pack(">I", len(b)) + t + b + struct.pack(
            ">I", _z.crc32(t + b))

    bad = (M._PNG_SIG
           + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 0))
           + chunk(b"IDAT", _z.compress(b"\x00ab"))
           + chunk(b"IEND", b""))
    with pytest.raises(ValueError):
        M.decode_image(bad)
    # decompression bomb: IHDR claiming ~10 GB of pixels over a tiny
    # IDAT must be rejected BEFORE inflating (degrade-per-row, not OOM)
    bomb = (M._PNG_SIG
            + chunk(b"IHDR",
                    struct.pack(">IIBBBBB", 100_000, 100_000, 8, 0, 0, 0, 0))
            + chunk(b"IDAT", _z.compress(b"\x00" * 1000))
            + chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="decode bound"):
        M.decode_image(bomb)
    # over-production: stream inflates past what the dimensions promise
    over = (M._PNG_SIG
            + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0))
            + chunk(b"IDAT", _z.compress(b"\x00" * 100))
            + chunk(b"IEND", b""))
    with pytest.raises(ValueError):
        M.decode_image(over)


def _ppm(width, height, pixels, comment=False):
    hdr = b"P6\n" + (b"# a comment\n" if comment else b"") + (
        b"%d %d\n255\n" % (width, height)
    )
    return hdr + bytes(pixels)


def _wav(samples, rate=8000):
    import io as _io
    import wave as _wave

    buf = _io.BytesIO()
    with _wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        import struct

        w.writeframes(b"".join(struct.pack("<h", s) for s in samples))
    return buf.getvalue()


def test_decode_netpbm_real():
    # 2x1 RGB: black + white → mean 127.5; header comment handled
    p = _ppm(2, 1, [0, 0, 0, 255, 255, 255], comment=True)
    d = M.decode_image(p)
    assert (d["width"], d["height"], d["n_channels"]) == (2, 1, 3)
    assert abs(d["mean_value"] - 127.5) < 1e-9
    # P5 graymap
    g = M.decode_image(b"P5\n2 2\n255\n" + bytes([10, 20, 30, 40]))
    assert (g["width"], g["height"], g["n_channels"]) == (2, 2, 1)
    assert abs(g["mean_value"] - 25.0) < 1e-9


def test_decode_wav_real():
    d = M.decode_audio(_wav([0, 1000, -1000, 32767, 0, 0, 0, 0]))
    assert d["n_channels"] == 1 and d["sample_rate"] == 8000
    assert d["n_samples"] == 8 and d["duration_ms"] == 1
    assert d["peak"] == 32767.0
    expected_rms = (sum(s * s for s in [0, 1000, -1000, 32767, 0, 0, 0, 0]) / 8) ** 0.5
    assert abs(d["rms"] - expected_rms) < 1e-9


def test_media_features_mixed_batch_degrades_per_row(spark):
    rows = [
        (1, _ppm(2, 1, [0, 0, 0, 255, 255, 255])),
        (2, _wav([100, -100])),
        (3, b"neither image nor audio"),
        (4, b"P6\n9999 9999\n255\ntoo short"),  # truncated raster
        (5, _png_gray([0, 255, 255, 0], 2, 2)),
        (6, _png_gray([0, 0, 0, 0], 2, 2, interlace=1)),  # exotic variant
        (7, None),  # null payload
        (8, _bmp_rgb([[[10, 20, 30], [40, 50, 60]]])),  # 1x2 24-bit BMP
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r.doc_id: r for r in M.media_features(df).collect()}
    assert got[1].media_type == "image/x-portable-pixmap"
    assert (got[1].width, got[1].height, got[1].n_channels) == (2, 1, 3)
    assert got[1].sample_rate is None
    assert got[2].media_type == "audio/wav" and got[2].n_samples == 2
    assert got[2].width is None
    assert got[3].media_type == "unknown" and got[3].n_bytes == 23
    assert got[4].media_type == "corrupt"
    assert got[5].media_type == "image/png"
    assert (got[5].width, got[5].height, got[5].n_channels) == (2, 2, 1)
    assert abs(got[5].mean_value - 127.5) < 1e-9
    # recognized container, unsupported codec → unknown, not corrupt
    assert got[6].media_type == "unknown"
    assert got[7].media_type == "unknown" and got[7].n_bytes == 0
    assert got[8].media_type == "image/bmp"
    assert (got[8].width, got[8].height, got[8].n_channels) == (2, 1, 3)
    assert abs(got[8].mean_value - 35.0) < 1e-9


def test_resize_netpbm_nearest_neighbor():
    # 2x2 RGB, factor 2 → the top-left pixel survives
    px = [1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12]
    small = M.resize_netpbm(_ppm(2, 2, px), factor=2)
    d = M.decode_netpbm(small)
    assert (d["width"], d["height"]) == (1, 1)
    assert abs(d["mean_value"] - 2.0) < 1e-9  # mean of (1,2,3)


def test_multimodal_fake_decode_plumbing(spark):
    df = spark.createDataFrame([(1, "abc"), (2, "")], ["doc_id", "text"])
    out = {r.doc_id: (r.n_bytes, r.first_byte)
           for r in M.extract_features(M.attach_binary(df)).collect()}
    assert out == {1: (3, 97), 2: (0, -1)}


def test_quality_score_bounds(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents")
    feats = T.quality_features(docs)
    bad = feats.filter(
        (F.col("quality_score") < 0) | (F.col("quality_score") > 1)
        | (F.col("distinct_ratio") > 1) | (F.col("stopword_ratio") > 1)
    ).count()
    assert bad == 0


def test_ivf_rerank_is_exact_within_cell(spark, sf_dir):
    """IVF top-k values must agree with brute force restricted to the
    query's cell: the rerank is exact, only the candidate set is pruned."""
    from twitter_kafka_etl_spark.operators.similarity import (
        cosine, ivf_assign, topk_ivf,
    )
    from twitter_kafka_etl_spark.io import read_table
    from pyspark.sql import functions as F

    emb = read_table(spark, sf_dir, "embeddings")
    got = {r.vec_id: r.cos_sim for r in topk_ivf(emb, query_id=0, k=5).collect()}
    assigned = ivf_assign(emb)
    qcent = assigned.filter(F.col("vec_id") == 0).first().cent_id
    cell = assigned.filter(F.col("cent_id") == qcent)
    q = assigned.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    exact = (
        cell.join(F.broadcast(q))
        .filter(F.col("vec_id") != 0)
        .select("vec_id", F.round(cosine(F.col("v"), F.col("qv")), 6).alias("s"))
        .orderBy(F.desc("s"), "vec_id").limit(5).collect()
    )
    assert {r.vec_id: r.s for r in exact} == got


def test_resize_payload_strides_bytes(spark, sf_dir):
    from twitter_kafka_etl_spark.operators.multimodal import (
        attach_binary, resize_payload,
    )
    from twitter_kafka_etl_spark.io import read_table
    from pyspark.sql import functions as F

    docs = attach_binary(read_table(spark, sf_dir, "documents").limit(50))
    out = resize_payload(docs, factor=2)
    bad = out.filter(
        F.length("payload_small") != F.ceil(F.length("payload") / 2)
    ).count()
    assert bad == 0


def test_sample_frames_covers_payload(spark, sf_dir):
    """Every doc's sampled frame indices are 0, 4, 8, ... and the last
    frame's size is the payload remainder."""
    from twitter_kafka_etl_spark.operators.multimodal import (
        attach_binary, sample_frames,
    )
    from twitter_kafka_etl_spark.io import read_table
    from pyspark.sql import functions as F

    docs = attach_binary(read_table(spark, sf_dir, "documents").limit(50))
    frames = sample_frames(docs)
    assert frames.filter(F.pmod("frame_idx", F.lit(4)) != 0).count() == 0
    assert frames.filter(
        (F.col("frame_bytes") <= 0) | (F.col("frame_bytes") > 16)
    ).count() == 0


def test_countmin_estimate_upper_bounds_truth(spark, sf_dir):
    """CM estimates never undercount; with 5 distinct keys in a 4x64
    sketch, collisions are absent and estimates are exact."""
    from twitter_kafka_etl_spark.operators import sketches as K

    ev = read_table(spark, sf_dir, "events")
    sketch = K.count_min_build(ev, "event_type")
    items = ev.select("event_type").distinct()
    est = {
        r.event_type: r.est_count
        for r in K.count_min_estimate(sketch, items, "event_type").collect()
    }
    truth = {
        r.event_type: r.cnt
        for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    for k, t in truth.items():
        assert est[k] >= t
    assert est == truth  # no collisions at this cardinality


def test_countmin_merge_equals_whole_build(spark, sf_dir):
    """Sketch of the union == merge of per-split sketches (mergeability
    is what makes the sketch useful at scale)."""
    from twitter_kafka_etl_spark.operators import sketches as K

    ev = read_table(spark, sf_dir, "events")
    a = ev.filter(F.pmod("event_id", F.lit(2)) == 0)
    b = ev.filter(F.pmod("event_id", F.lit(2)) == 1)
    merged = {
        (r.depth, r.cell): r.counts
        for r in K.count_min_merge(
            K.count_min_build(a, "user_id"), K.count_min_build(b, "user_id")
        ).collect()
    }
    whole = {
        (r.depth, r.cell): r.counts
        for r in K.count_min_build(ev, "user_id").collect()
    }
    assert merged == whole


def test_countmin_unseen_item_estimates_zero(spark):
    """An item absent from the build data must estimate to exactly 0
    (its cells are missing from the sketch and fill to 0), matching the
    oracle's LEFT JOIN + COALESCE semantics."""
    from twitter_kafka_etl_spark.operators import sketches as K

    build = spark.createDataFrame([("a",), ("a",), ("b",)], ["k"])
    sketch = K.count_min_build(build, "k")
    probes = spark.createDataFrame([("a",), ("never-seen",)], ["k"])
    got = {r.k: r.est_count for r in K.count_min_estimate(sketch, probes, "k").collect()}
    assert got["never-seen"] == 0
    assert got["a"] >= 2  # CM estimates upper-bound the true count


def test_connected_components_chain_and_singletons(spark):
    """A 5-node path needs multiple propagation rounds (diameter 4);
    disconnected pairs and isolated nodes keep their own components."""
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (4, 5), (10, 11)], ["doc_a", "doc_b"]
    )
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 5, 10, 11, 99]],
                                  ["doc_id"])
    got = {
        r.doc_id: r.component_id
        for r in D.connected_components(pairs, nodes=nodes).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 99: 99}


def test_hll_merge_matches_whole_build(spark, sf_dir):
    """HLL mergeability: cell-wise max of per-split registers equals the
    registers of the whole build — per-partition sketches roll up."""
    from twitter_kafka_etl_spark.operators import sketches as K

    ev = read_table(spark, sf_dir, "events")
    lo = ev.filter(F.dayofmonth("ts") <= 15)
    hi = ev.filter(F.dayofmonth("ts") > 15)
    whole = K.hll_build(ev, "event_type", "user_id")
    merged = K.hll_merge(
        K.hll_build(lo, "event_type", "user_id"),
        K.hll_build(hi, "event_type", "user_id"),
        "event_type",
    )
    assert sorted(map(tuple, whole.collect())) == sorted(map(tuple, merged.collect()))


def test_hll_estimate_within_expected_error(spark, sf_dir):
    """64 registers → ~13% standard error; assert a 30% envelope
    against the exact distinct count (deterministic: fixed hashes)."""
    from twitter_kafka_etl_spark.operators import sketches as K

    ev = read_table(spark, sf_dir, "events")
    est = {
        r.event_type: r.est_distinct
        for r in K.hll_estimate(
            K.hll_build(ev, "event_type", "user_id"), "event_type"
        ).collect()
    }
    truth = {
        r.event_type: r.d
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("d"))
        .collect()
    }
    for k, t in truth.items():
        assert abs(est[k] - t) / t < 0.30, (k, est[k], t)


def test_repetition_signals_flag_boilerplate(spark):
    """A spam doc repeating one phrase scores near 1.0 on both signals;
    an all-distinct doc scores 0; a 1-token doc emits zeros."""
    rows = [
        (1, "buy now " * 50 + "buy now"),      # pure repetition
        (2, " ".join(f"w{i}" for i in range(40))),  # all distinct 2-grams
        (3, "single"),
    ]
    df = spark.createDataFrame([(i, t.strip()) for i, t in rows], ["doc_id", "text"])
    got = {r.doc_id: r for r in T.repetition_signals(df).collect()}
    assert got[1].dup_frac > 0.9 and got[1].top_share > 0.45
    assert got[2].dup_frac == 0.0
    assert got[3].n_grams == 0 and got[3].dup_frac == 0.0


def test_tfidf_rare_term_outranks_common(spark):
    """A term unique to one doc must outrank terms shared by all docs."""
    df = spark.createDataFrame(
        [(1, "common common zebra"), (2, "common filler"),
         (3, "common filler"), (4, "common filler")],
        ["doc_id", "text"],
    )
    top = T.tfidf_top_terms(df, k=1).collect()
    doc1 = next(r for r in top if r.doc_id == 1)
    # zebra: 1*(4+1)/(1+1) = 2.5 > common: 2*(4+1)/(4+1) = 2.0
    assert doc1.term == "zebra"


def test_stratified_sample_exact_n_and_partition_invariant(spark, sf_dir):
    """Exactly N rows per stratum (or the whole stratum if smaller), and
    the SAME rows regardless of input partitioning — the property that
    makes the sample reproducible on a cluster."""
    from twitter_kafka_etl_spark.operators.curation import stratified_sample

    docs = read_table(spark, sf_dir, "documents")
    s1 = stratified_sample(docs, ["lang"], 7, "doc_id")
    per = {r.lang: r.n for r in s1.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    sizes = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    for lang, n in per.items():
        assert n == min(7, sizes[lang])
    ids1 = {(r.lang, r.doc_id) for r in s1.select("lang", "doc_id").collect()}
    ids2 = {
        (r.lang, r.doc_id)
        for r in stratified_sample(docs.repartition(17), ["lang"], 7, "doc_id")
        .select("lang", "doc_id").collect()
    }
    assert ids1 == ids2


def test_bloom_no_false_negatives_and_merge(spark):
    from twitter_kafka_etl_spark.operators import sketches as K

    a = spark.createDataFrame([(i,) for i in range(0, 50)], ["k"])
    b = spark.createDataFrame([(i,) for i in range(50, 100)], ["k"])
    both = a.unionByName(b)
    # members always hit (one-sided error)
    probe = K.bloom_probe(K.bloom_build(both, "k"), both, "k")
    assert probe.filter(~F.col("bloom_hit")).count() == 0
    # merge of part-filters == filter over the union, word for word
    merged = K.bloom_merge(K.bloom_build(a, "k"), K.bloom_build(b, "k"))
    whole = K.bloom_build(both, "k")
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, whole.collect())
    )


def test_bloom_miss_is_definite(spark):
    from twitter_kafka_etl_spark.operators import sketches as K

    members = spark.createDataFrame([(i,) for i in range(100)], ["k"])
    sketch = K.bloom_build(members, "k")
    probes = spark.createDataFrame([(i,) for i in range(100, 400)], ["k"])
    out = K.bloom_probe(sketch, probes, "k")
    # every reported miss must truly be absent from the build set
    misses = {r.k for r in out.filter(~F.col("bloom_hit")).collect()}
    assert misses and misses.isdisjoint(set(range(100)))


def test_decontaminate_benchmark_docs_fully_contaminated(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f"),          # benchmark
            (2, "a b c d e f"),          # exact copy → ratio 1.0
            (3, "a b c x y z"),          # shares 1 of 4 grams
            (4, "p q r s t u"),          # disjoint
            (5, "p q"),                  # too short: zero grams
        ],
        ["doc_id", "text"],
    )
    bench = docs.filter(F.col("doc_id") == 1)
    out = {r.doc_id: r for r in D.decontaminate(docs, bench, n=3).collect()}
    assert out[1].contamination == 1.0 and out[1].flagged
    assert out[2].contamination == 1.0 and out[2].flagged
    assert out[3].contaminated_grams == 1 and not out[3].flagged
    assert out[4].contaminated_grams == 0
    assert out[5].n_grams == 0 and out[5].contamination == 0.0


def test_vocab_coverage_full_vocab_has_zero_oov(spark):
    docs = spark.createDataFrame(
        [(1, "a b a c"), (2, "b b d e")], ["doc_id", "text"]
    )
    # vocab large enough for every token → OOV 0 everywhere
    full = T.vocab_coverage(docs, top_k=100)
    assert full.filter(F.col("oov_tokens") > 0).count() == 0
    # top-2 vocab is {a, b} (counts 3,3 tie broken by token asc);
    # doc 2 then has 2 OOV tokens (d, e)
    out = {r.doc_id: r for r in T.vocab_coverage(docs, top_k=2).collect()}
    assert out[1].oov_tokens == 1  # c
    assert out[2].oov_tokens == 2 and out[2].oov_rate == 0.5


def test_histogram_partitions_all_rows(spark, sf_dir):
    from twitter_kafka_etl_spark.operators.relational import (
        fixed_width_histogram,
    )

    li = read_table(spark, sf_dir, "lineitem")
    h = fixed_width_histogram(li, "l_extendedprice", 0.0, 120000.0, 24)
    rows = h.collect()
    assert sum(r.n for r in rows) == li.count()
    assert all(0 <= r.bucket < 24 for r in rows)
    # out-of-range values clamp into the edge bins instead of vanishing
    tiny = spark.createDataFrame(
        [(-5.0,), (999999.0,)], ["l_extendedprice"]
    )
    edge = {r.bucket for r in fixed_width_histogram(
        tiny, "l_extendedprice", 0.0, 120000.0, 24).collect()}
    assert edge == {0, 23}


def test_select_keepers_one_per_component(spark):
    from twitter_kafka_etl_spark.operators.curation import select_keepers

    comp = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 5)], ["doc_id", "component_id"]
    )
    scored = spark.createDataFrame(
        [(1, 0.5), (2, 0.9), (3, 0.9), (4, 0.1), (5, 0.7)],
        ["doc_id", "quality_score"],
    )
    rows = {r.doc_id: r for r in select_keepers(scored, comp).collect()}
    # exactly one keeper per component
    keepers = [r.doc_id for r in rows.values() if r.keep]
    assert sorted(keepers) == [2, 4, 5]  # doc 2 beats 3 on id tie-break
    assert not rows[1].keep and not rows[3].keep


def test_length_percentile_flags_band(spark):
    from twitter_kafka_etl_spark.operators.curation import (
        length_percentile_flags,
    )

    # 10 docs with 1..10 tokens: p10 (ceil(10*10/100)=1st value) = 1,
    # p90 (ceil(10*90/100)=9th) = 9 → only the 10-token doc flags long,
    # nothing flags short (nothing is < 1)
    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * i)) for i in range(1, 11)], ["doc_id", "text"]
    )
    out = {r.doc_id: r for r in length_percentile_flags(docs).collect()}
    assert not any(r.flag_short for r in out.values())
    assert [d for d, r in out.items() if r.flag_long] == [10]


def test_corpus_freq_score_exact(spark):
    from twitter_kafka_etl_spark.operators.text import corpus_freq_score

    # corpus: a a b  |  a c  → N=5; counts: a=3, b=1, c=1
    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a c")], ["doc_id", "text"]
    )
    out = {r.doc_id: r for r in corpus_freq_score(docs).collect()}
    assert out[1].sum_freq == 3 + 3 + 1 and out[1].n_tokens == 3
    assert out[1].freq_score == round(7 / 15, 6)
    assert out[2].sum_freq == 3 + 1 and out[2].freq_score == round(4 / 10, 6)


def test_zipf_top_tokens_head(spark):
    from twitter_kafka_etl_spark.operators.text import zipf_top_tokens

    docs = spark.createDataFrame(
        [(1, "a a a b b c")], ["doc_id", "text"]
    )
    rows = zipf_top_tokens(docs, k=2).orderBy("rank").collect()
    assert [(r.tok, r["count"], r.rank) for r in rows] == [("a", 3, 1), ("b", 2, 2)]
    assert rows[0].share == 0.5 and rows[1].cum_share == round(5 / 6, 6)


def test_label_centroids_match_numpy(spark, sf_dir):
    import numpy as np

    from twitter_kafka_etl_spark.operators.similarity import label_centroids

    emb = read_table(spark, sf_dir, "embeddings")
    got = {
        (r.label, r.pos): r.centroid for r in label_centroids(emb).collect()
    }
    pdf = emb.toPandas()
    for lbl, grp in pdf.groupby("label"):
        mean = np.mean(np.stack(grp["embedding"].map(np.asarray)), axis=0)
        for pos in (0, 7, 63):
            assert abs(got[(lbl, pos)] - mean[pos]) < 1e-5


def test_auto_collapse_probe(spark):
    from twitter_kafka_etl_spark.operators.dedup import _auto_collapse

    uniq = spark.createDataFrame([(i, f"t{i}") for i in range(20)], ["i", "t"])
    dup = spark.createDataFrame(
        [(i, f"t{i % 4}") for i in range(20)], ["i", "t"]
    )
    assert not _auto_collapse(uniq, F.col("t"))
    assert _auto_collapse(dup, F.col("t"))


def test_grouped_percentiles_exact(spark):
    from twitter_kafka_etl_spark.operators.relational import (
        grouped_percentiles,
    )

    # group g: values 1..4 → n=4; p25 at cum>=1 → 1, p50 at cum>=2 → 2,
    # p75 at cum>=3 → 3. group h: single value.
    df = spark.createDataFrame(
        [("g", 1.0), ("g", 2.0), ("g", 3.0), ("g", 4.0), ("h", 9.0)],
        ["k", "v"],
    )
    out = {r.k: r for r in grouped_percentiles(df, "v", ("k",)).collect()}
    assert (out["g"].p25, out["g"].p50, out["g"].p75) == (1.0, 2.0, 3.0)
    assert (out["h"].p25, out["h"].p50, out["h"].p75) == (9.0, 9.0, 9.0)


def test_balance_strata_cap_is_min(spark):
    from twitter_kafka_etl_spark.operators.curation import balance_strata

    df = spark.createDataFrame(
        [(i, "big") for i in range(10)] + [(100 + i, "small") for i in range(3)],
        ["doc_id", "lang"],
    )
    out = balance_strata(df, ("lang",), "doc_id")
    counts = {r.lang: r["cnt"] for r in out.groupBy("lang").agg(
        F.count(F.lit(1)).alias("cnt")).collect()}
    assert counts == {"big": 3, "small": 3}
    # deterministic: same members on a re-run
    a = sorted(r.doc_id for r in out.collect())
    b = sorted(r.doc_id for r in balance_strata(df, ("lang",), "doc_id").collect())
    assert a == b


def test_write_external_batch(spark, tmp_path):
    from twitter_kafka_etl_spark.io import write_external

    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    out = str(tmp_path / "ext")
    write_external(df, "parquet", mode="overwrite", path=out)
    assert spark.read.parquet(out).count() == 2


def test_enrich_text_pluggable_backend(spark):
    """A custom batch model drops into the same plan as the lexicon
    default — the Spark-NLP-replacement seam (consumer.scala:85,148)."""
    from twitter_kafka_etl_spark.operators.text import enrich_text

    def shouty_model(texts):
        return texts.map(lambda t: "positive" if t.isupper() else "negative")

    df = spark.createDataFrame([(1, "GREAT"), (2, "meh")], ["doc_id", "text"])
    out = {r.doc_id: r.sentiment for r in enrich_text(
        df, sentiment_backend=shouty_model).collect()}
    assert out == {1: "positive", 2: "negative"}


def test_salted_join_equals_plain_join(spark):
    from twitter_kafka_etl_spark.operators.relational import salted_join

    # one pathologically hot key (0) plus normal keys
    big = spark.createDataFrame(
        [(i, i % 3 if i % 2 else 0) for i in range(200)], ["row_id", "k"]
    )
    dim = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c")], ["k", "v"])
    got = sorted(map(tuple, salted_join(big, dim, "k").collect()))
    want = sorted(map(tuple, big.join(dim, "k").collect()))
    assert got == want


def test_redact_pii_masks_in_order(spark):
    from twitter_kafka_etl_spark.operators.text import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@corp.example.com from 10.0.0.1 code 4711"),
            (2, "no pii here"),
            (3, "x 12 345 6"),
        ],
        ["id", "text"],
    )
    got = {r.id: (r.redacted, r.n_redactions) for r in redact_pii(df).collect()}
    # the email's digits are inside the <EMAIL> mask, never double-masked
    assert got[1] == ("mail <EMAIL> from <IP> code <NUM>", 3)
    assert got[2] == ("no pii here", 0)
    assert got[3] == ("x <NUM> <NUM> 6", 2)  # single digit untouched


def test_quantize_int8_bounds(spark, sf_dir):
    from twitter_kafka_etl_spark.io import read_table
    from twitter_kafka_etl_spark.operators.similarity import quantize_int8

    emb = read_table(spark, sf_dir, "embeddings")
    out = quantize_int8(emb).collect()
    assert len(out) == emb.count()
    for r in out:
        assert all(-127 <= q <= 127 for q in r.qvec)
        # rounding to nearest grid point: error <= scale/2 (+ slack for
        # the 6-digit display rounding of BOTH output fields)
        assert r.max_err <= r.scale / 2 + 1e-6


def test_quantize_int8_zero_vector(spark):
    from twitter_kafka_etl_spark.operators.similarity import quantize_int8

    df = spark.createDataFrame([(1, [0.0, 0.0, 0.0])], ["vec_id", "embedding"])
    r = quantize_int8(df).collect()[0]
    assert r.qvec == [0, 0, 0] and r.scale == 0.0 and r.max_err == 0.0


def test_estimate_jaccard_identical_docs_score_one(spark):
    from twitter_kafka_etl_spark.operators import dedup as D

    df = spark.createDataFrame(
        [
            (1, "spark shuffles the key columns across executors today"),
            (2, "spark shuffles the key columns across executors today"),
            (3, "an entirely different document about nothing shared at all"),
        ],
        ["doc_id", "text"],
    )
    sigs = D.minhash_signatures(D.shingle(df))
    pairs = D.minhash_lsh_pairs(sigs)
    got = {(r.doc_a, r.doc_b): r.est_jaccard
           for r in D.estimate_jaccard(sigs, pairs).collect()}
    assert got[(1, 2)] == 1.0
    assert all(v <= 1.0 for v in got.values())


def test_project_embeddings_matches_manual_dot(spark):
    from twitter_kafka_etl_spark.operators.similarity import (
        hyperplanes, project_embeddings,
    )

    planes = hyperplanes()
    vec = [float(i % 7) - 3.0 for i in range(64)]
    df = spark.createDataFrame([(1, vec)], ["vec_id", "embedding"])
    r = project_embeddings(df).collect()[0]
    for i, p in enumerate(planes):
        want = round(sum(v * pv for v, pv in zip(vec, p)), 6)
        assert getattr(r, f"p{i}") == want


def test_ams_f2_exact_on_single_key(spark):
    """All rows share one key: every signed sum is +-n, so every sketch
    estimates F2 = n^2 exactly."""
    from twitter_kafka_etl_spark.operators.sketches import ams_f2_sketch

    df = spark.createDataFrame([(1, "k")] * 37, ["row", "key"])
    out = ams_f2_sketch(df, "key").collect()
    assert len(out) == 8
    assert all(r.est_f2 == 37 * 37 for r in out)


def test_ams_f2_estimates_self_join_size(spark, sf_dir):
    from twitter_kafka_etl_spark.io import read_table
    from twitter_kafka_etl_spark.operators.sketches import ams_f2_sketch

    ev = read_table(spark, sf_dir, "events")
    exact = (
        ev.groupBy("user_id").count().selectExpr("sum(count * count) AS f2")
    ).first().f2
    ests = [r.est_f2 for r in ams_f2_sketch(ev, "user_id").collect()]
    mean = sum(ests) / len(ests)
    # k=8 sketches: std(est) = F2*sqrt(2/k) = F2/2 -> mean within ~2 std
    assert exact / 3 <= mean <= exact * 3


def test_ams_f2_null_keys_use_sentinel(spark):
    """NULL keys hash via the 'NULL' sentinel (concat_ws would silently
    drop them and diverge from the SQL oracle's concat preimage)."""
    from twitter_kafka_etl_spark.operators.sketches import ams_f2_sketch

    with_null = spark.createDataFrame(
        [(1, None), (2, None), (3, "a")], ["row", "key"]
    )
    as_sentinel = spark.createDataFrame(
        [(1, "NULL"), (2, "NULL"), (3, "a")], ["row", "key"]
    )
    got = [r.signed_sum for r in ams_f2_sketch(with_null, "key").collect()]
    want = [r.signed_sum for r in ams_f2_sketch(as_sentinel, "key").collect()]
    assert got == want


def test_ams_f2_k_bounded_by_digest_nibbles(spark):
    """k signs come from one md5 digest's 32 hex nibbles: k > 32 must
    fail fast instead of silently reusing nibbles."""
    import pytest

    from twitter_kafka_etl_spark.operators.sketches import ams_f2_sketch

    df = spark.createDataFrame([(1, "k")], ["row", "key"])
    with pytest.raises(ValueError, match="32"):
        ams_f2_sketch(df, "key", k=33)
    assert len(ams_f2_sketch(df, "key", k=32).collect()) == 32


def test_mixture_sample_validates_rates(spark, sf_dir):
    import pytest

    from twitter_kafka_etl_spark.io import read_table
    from twitter_kafka_etl_spark.operators.curation import mixture_sample

    docs = read_table(spark, sf_dir, "documents")
    with pytest.raises(ValueError, match="rate"):
        mixture_sample(docs, "source", "doc_id", {"src0": 101})
    with pytest.raises(ValueError, match="default_pct"):
        mixture_sample(docs, "source", "doc_id", {"src0": 50}, default_pct=-1)
    # rate 0 drops the source entirely; rate 100 keeps it whole
    out = mixture_sample(
        docs, "source", "doc_id", {"src0": 100, "src1": 0}, default_pct=0
    )
    got = {r.source for r in out.select("source").distinct().collect()}
    assert got == {"src0"}
    n_src0 = docs.filter("source = 'src0'").count()
    assert out.count() == n_src0


def test_length_bucket_truncates_at_context_limit(spark):
    from pyspark.sql import functions as F

    from twitter_kafka_etl_spark.operators.curation import length_bucket_stats

    df = spark.createDataFrame(
        [(" ".join(["t"] * n),) for n in (3, 17, 40, 9000)], ["text"]
    )
    out = {
        r.bucket: (r.n_docs, r.total_tokens, r.padding_waste)
        for r in length_bucket_stats(df, boundaries=(16, 32, 4096)).collect()
    }
    # 3 tokens -> bucket 16 (waste 13); 17 -> 32 (15); 40 -> 4096; the
    # 9000-token doc truncates to 4096 with zero waste
    assert out[16] == (1, 3, 13)
    assert out[32] == (1, 17, 15)
    assert out[4096] == (2, 40 + 4096, 4096 - 40)


def test_snapshot_diff_statuses(spark):
    from twitter_kafka_etl_spark.operators.curation import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["doc_id", "text"]
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, "B!"), (4, "d")], ["doc_id", "text"]
    )
    got = {r.doc_id: r.status for r in snapshot_diff(old, new).collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}


def test_heavy_hitters_exact_and_prunes(spark):
    """Result must equal the naive groupBy+filter exactly (count-min has
    no false negatives; false positives die in the exact pass), and the
    candidate set must actually prune on a skewed input."""
    from twitter_kafka_etl_spark.operators.sketches import heavy_hitters

    rows = [("hot",)] * 50 + [("warm",)] * 10 + [
        (f"cold{i}",) for i in range(200)
    ]
    df = spark.createDataFrame(rows, ["k"])
    got = {(r.k, r.counts) for r in heavy_hitters(df, "k", 10).collect()}
    want = {
        (r.k, r["count"])
        for r in df.groupBy("k").count().filter("count >= 10").collect()
    }
    assert got == want == {("hot", 50), ("warm", 10)}


def test_sketches_count_null_keys(spark):
    """md5(NULL) is NULL, so an unguarded sketch silently dropped NULL
    keys from builds AND probes — heavy_hitters then missed a true
    NULL heavy hitter the naive groupBy+HAVING reports, breaking its
    bitwise-exact contract (r9 review finding). NULL keys now hash
    through a 'NULL' sentinel on both engines and count like any key."""
    from twitter_kafka_etl_spark.operators import sketches as K

    rows = [(None,)] * 40 + [("hot",)] * 30 + [
        (f"cold{i}",) for i in range(100)
    ]
    df = spark.createDataFrame(rows, "k string")
    got = {(r.k, r.counts) for r in K.heavy_hitters(df, "k", 20).collect()}
    assert got == {(None, 40), ("hot", 30)}
    # count-min estimate of the NULL key upper-bounds its true count
    est = {
        r.k: r.est_count
        for r in K.count_min_estimate(
            K.count_min_build(df, "k"), df.select("k").distinct(), "k"
        ).collect()
    }
    assert est[None] >= 40
    # bloom: a built NULL member must never be a definite miss
    probed = {
        r.k: r.bloom_hit
        for r in K.bloom_probe(
            K.bloom_build(df, "k"), df.select("k").distinct(), "k"
        ).collect()
    }
    assert probed[None] is True


def test_duplicated_spans_flags_shared_blocks(spark):
    """Two docs sharing an exact 16-token block are flagged; a doc with
    unique blocks is not; short docs emit zeros."""
    block = " ".join(f"b{i}" for i in range(16))
    uniq = " ".join(f"u{i}" for i in range(16))
    docs = spark.createDataFrame(
        [
            (1, block + " " + uniq),          # 2 blocks, 1 shared
            (2, block + " tail only"),        # 1 block, shared
            (3, " ".join(f"z{i}" for i in range(32))),  # 2 unique blocks
            (4, "too short"),                 # 0 blocks
        ],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: (r.n_blocks, r.n_dup_blocks, r.dup_frac)
        for r in T.duplicated_spans(docs).collect()
    }
    assert got[1] == (2, 1, 0.5)
    assert got[2] == (1, 1, 1.0)
    assert got[3] == (2, 0, 0.0)
    assert got[4] == (0, 0, 0.0)


def test_duplicated_spans_counts_intra_doc_repeats(spark):
    """The same block occurring twice WITHIN one document is duplicated
    (span-level dedup targets any repeat, not just cross-doc)."""
    block = " ".join(f"r{i}" for i in range(16))
    docs = spark.createDataFrame(
        [(1, block + " " + block)], ["doc_id", "text"]
    )
    [r] = T.duplicated_spans(docs).collect()
    assert (r.n_blocks, r.n_dup_blocks) == (2, 2)


def test_quality_gate_flags_and_verdict(spark):
    from twitter_kafka_etl_spark.operators.curation import quality_gate

    good = " ".join(f"w{i}" for i in range(30))          # clean, 30 distinct
    short = "a b c"                                       # fails length
    repetitive = " ".join(["x y"] * 20)                   # dup 2-grams
    stopry = " ".join(["the"] * 10 + [f"v{i}" for i in range(20)])
    docs = spark.createDataFrame(
        [(1, good), (2, short), (3, repetitive), (4, stopry)],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r.asDict() for r in quality_gate(docs).collect()}
    assert got[1]["keep"] == 1
    assert got[2]["pass_length"] == 0 and got[2]["keep"] == 0
    assert got[3]["pass_repetition"] == 0 and got[3]["keep"] == 0
    assert got[4]["pass_stopword"] == 0 and got[4]["keep"] == 0
    # the verdict is exactly the conjunction of the per-rule flags
    for r in got.values():
        flags = [v for k, v in r.items() if k.startswith("pass_")]
        assert r["keep"] == int(all(flags))


def test_compaction_roundtrip_preserves_content(spark, sf_dir, tmp_path):
    """layout.compact must emit exactly the input rows — checked through
    the registered x55 surface against a direct aggregate."""
    from twitter_kafka_etl_spark.plans import REGISTRY

    got = (
        REGISTRY["x55_compaction_roundtrip"]
        .build(spark, sf_dir)
        .orderBy("source")
        .collect()
    )
    raw = read_table(spark, sf_dir, "documents")
    want = (
        raw.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .orderBy("source")
        .collect()
    )
    assert [(r.source, r.n_docs, r.total_chars) for r in got] == [
        (r.source, r.n_docs, r.total_chars) for r in want
    ]


def test_remove_duplicated_spans_first_occurrence_wins(spark):
    """The block shared by docs 1 and 2 survives only in doc 1 (lowest
    (doc_id, idx)); doc 2 keeps its tail; unique blocks are untouched."""
    block = " ".join(f"s{i}" for i in range(16))
    other = " ".join(f"o{i}" for i in range(16))
    docs = spark.createDataFrame(
        [(1, block + " " + other), (2, block + " tail bits")],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: (r.n_blocks, r.n_removed, r.cleaned)
        for r in T.remove_duplicated_spans(docs).collect()
    }
    assert got[1] == (2, 0, block + " " + other)
    assert got[2] == (1, 1, "tail bits")


def test_remove_duplicated_spans_idempotent(spark):
    """Running the rewrite on its own output removes nothing further."""
    block = " ".join(f"p{i}" for i in range(16))
    docs = spark.createDataFrame(
        [(1, block + " " + block + " end")], ["doc_id", "text"]
    )
    once = T.remove_duplicated_spans(docs).select(
        "doc_id", F.col("cleaned").alias("text")
    )
    [r] = T.remove_duplicated_spans(once).collect()
    assert r.n_removed == 0
    assert r.cleaned == block + " end"


def test_bm25_prefers_term_dense_short_docs(spark):
    docs = spark.createDataFrame(
        [
            (1, "spark spark spark join"),               # dense + short
            (2, "spark " + " ".join(f"f{i}" for i in range(40))),
            (3, " ".join(f"g{i}" for i in range(10))),   # no terms
        ],
        ["doc_id", "text"],
    )
    rows = T.bm25_rank(docs, ["spark", "join"], top_k=3).collect()
    assert [r.doc_id for r in rows] == [1, 2, 3]
    assert [r.rank for r in rows] == [1, 2, 3]
    assert rows[0].bm25 > rows[1].bm25 > rows[2].bm25 == 0.0


def test_hll_merge_equals_single_pass(spark, sf_dir):
    """Registers merged from disjoint halves must estimate exactly what
    one pass over the whole table does (cell-wise max is associative)."""
    from twitter_kafka_etl_spark.operators import sketches as K

    ev = read_table(spark, sf_dir, "events")
    whole = K.hll_estimate(
        K.hll_build(ev, "event_type", "user_id"), "event_type"
    )
    even = K.hll_build(
        ev.filter(F.col("event_id") % 2 == 0), "event_type", "user_id"
    )
    odd = K.hll_build(
        ev.filter(F.col("event_id") % 2 == 1), "event_type", "user_id"
    )
    merged = K.hll_estimate(K.hll_merge(even, odd, "event_type"), "event_type")
    a = {r.event_type: r.est_distinct for r in whole.collect()}
    b = {r.event_type: r.est_distinct for r in merged.collect()}
    assert a == b


def test_lsh_eval_counts_are_consistent(spark, sf_dir):
    from twitter_kafka_etl_spark.plans import REGISTRY

    [r] = REGISTRY["x59_lsh_eval"].build(spark, sf_dir).collect()
    assert 0 <= r.n_tp <= min(r.n_true, r.n_pred)
    assert 0.0 <= r.lsh_precision <= 1.0 and 0.0 <= r.lsh_recall <= 1.0
    # the synthetic corpus plants near-dups: the evaluation must see them
    assert r.n_true > 0 and r.n_pred > 0


def test_lsh_eval_pair_arms_are_distinct(spark, sf_dir):
    """x59's single-pass full-outer-join form is count-equivalent to
    the old triple-aggregate form ONLY because both pair generators
    emit each (doc_a, doc_b) at most once — a duplicate-emitting
    regression (e.g. dropping the .distinct() in _minhash_lsh_pairs_core)
    would inflate n_tp multiplicatively instead of failing loudly
    (r13 advice). Pin the distinctness invariant here."""
    docs = read_table(spark, sf_dir, "documents", rebalance=True)
    shingled = D.corpus_shingles(docs)
    pred = D.minhash_lsh_pairs(
        D.minhash_signatures(shingled)
    ).select("doc_a", "doc_b")
    truth = D.ngram_jaccard_pairs(
        docs, threshold=0.2, shingled=shingled
    ).select("doc_a", "doc_b")
    for arm in (pred, truth):
        assert arm.count() == arm.distinct().count()


def test_semantic_dedup_drops_planted_near_duplicate(spark):
    """A vector and its tiny perturbation land in the same coarse cell
    and clear the cosine bar; the higher id is reported dropped with the
    lower id as keeper. An orthogonal vector survives."""
    base = [1.0] + [0.0] * 63
    near = [1.0, 0.01] + [0.0] * 62
    orth = [0.0, 0.0, 1.0] + [0.0] * 61
    df = spark.createDataFrame(
        [(0, base), (1, near), (2, orth)],
        "vec_id bigint, embedding array<float>",
    )
    rows = S.semantic_dedup(df, threshold=0.9).collect()
    assert [(r.vec_id, r.dup_of) for r in rows] == [(1, 0)]
    assert rows[0].cos_sim > 0.99


def test_semantic_dedup_never_pairs_across_clusters(spark, sf_dir):
    """Every reported (dropped, keeper) pair shares the dropped row's
    cluster — the SemDeDup bound that keeps the search sub-quadratic."""
    emb = read_table(spark, sf_dir, "embeddings")
    out = S.semantic_dedup(emb, threshold=0.3)
    assigned = S.ivf_assign(emb).select(
        F.col("vec_id").alias("dup_of"), F.col("cent_id").alias("keeper_cl")
    )
    cross = out.join(assigned, "dup_of").filter(
        F.col("cluster_id") != F.col("keeper_cl")
    )
    assert cross.count() == 0


def test_prototype_prune_keeps_top_fraction_per_cluster(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings")
    out = S.prototype_scores(emb, keep_frac=0.8).collect()
    assert len(out) == emb.count()
    by_cl = {}
    for r in out:
        by_cl.setdefault(r.cluster_id, []).append(r)
    import math

    for cl, rows in by_cl.items():
        kept = [r for r in rows if r.keep == 1]
        assert len(kept) == math.ceil(len(rows) * 0.8)
        # the kept set is exactly the top of the (proto DESC, id ASC) order
        rank_key = lambda r: (-r.proto_cos, r.vec_id)  # noqa: E731
        cut = max(rank_key(r) for r in kept)
        for r in rows:
            if r.keep == 0:
                assert rank_key(r) > cut


def test_dsir_ranks_target_vocab_docs_first(spark):
    """Documents written in the target domain's vocabulary must out-rank
    documents in a disjoint vocabulary, and copies of target docs score
    positive (their tokens are over-represented in the target)."""
    from twitter_kafka_etl_spark.operators import curation as C

    target = [(i, "alpha beta gamma delta", "tgt") for i in range(5)]
    other = [(i + 10, "zu quo xar blep", "web") for i in range(5)]
    mixed = [(20, "alpha beta zu quo", "web")]
    df = spark.createDataFrame(
        target + other + mixed, ["doc_id", "text", "source"]
    )
    out = C.dsir_weights(df, target_source="tgt", top_k=11).collect()
    ranked = [r.doc_id for r in out]
    # all five target docs rank above all five disjoint-vocab docs,
    # the half-target doc sits in between
    assert set(ranked[:5]) == {0, 1, 2, 3, 4}
    assert ranked[5] == 20
    assert set(ranked[6:]) == {10, 11, 12, 13, 14}
    ws = [r.dsir_logweight for r in out]
    assert ws == sorted(ws, reverse=True)
    # target-vocab docs are strictly better than disjoint-vocab docs
    # (absolute sign depends on the smoothing mass at toy scale)
    assert ws[4] > ws[5] > ws[6]


def test_langid_eval_confusion_shares_sum_to_one(spark, sf_dir):
    out = T.langid_eval(read_table(spark, sf_dir, "documents")).collect()
    by_true = {}
    for r in out:
        by_true.setdefault(r.true_lang, []).append(r)
    for lang, rows in by_true.items():
        assert abs(sum(r.recall_share for r in rows) - 1.0) < 1e-4
        assert all(r.n_docs > 0 for r in rows)


def test_unigram_nll_ranks_common_text_as_more_probable(spark):
    """A document of corpus-frequent tokens must score a lower average
    negative log-prob than one of hapax tokens; counts are exact."""
    df = spark.createDataFrame(
        [(1, "the the the the"), (2, "qzx wvu jkl mno"), (3, "the the qzx the")],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in T.unigram_nll(df).collect()}
    assert all(out[i].n_tokens == 4 for i in (1, 2, 3))
    assert out[1].avg_neg_logp < out[3].avg_neg_logp < out[2].avg_neg_logp
    # 'the' appears 7/12 times: -ln(7/12) ≈ 0.538997
    assert abs(out[1].avg_neg_logp - 0.538997) < 1e-5


def test_bpe_pair_stats_counts_adjacent_pairs(spark):
    df = spark.createDataFrame(
        [(1, "abab cd"), (2, "abc a")], ["doc_id", "text"]
    )
    rows = T.bpe_pair_stats(df, top_k=10).collect()
    got = {r.pair: r.cnt for r in rows}
    # 'abab' -> ab,ba,ab ; 'cd' -> cd ; 'abc' -> ab,bc ; 'a' -> (skipped)
    assert got == {"ab": 3, "ba": 1, "cd": 1, "bc": 1}
    assert [r.pair for r in rows[:1]] == ["ab"]


def test_lsh_sensitivity_curve_shape(spark):
    rows = sorted(
        D.lsh_sensitivity_curve(spark).collect(), key=lambda r: r.s
    )
    assert len(rows) == 20
    # monotone non-decreasing, anchored at (1.0 -> 1.0)
    ps = [r.p_candidate for r in rows]
    assert all(a <= b for a, b in zip(ps, ps[1:]))
    assert rows[-1].s == 1.0 and rows[-1].p_candidate == 1.0
    # at the (1/b)^(1/r) rule-of-thumb threshold (~0.707 for b=r=4) the
    # curve crosses 1-(1-1/b)^b ≈ 0.684 — check the bracketing points
    assert ps[13] < 0.684 < ps[14]  # s = 0.70 and 0.75


def test_lsh_bucket_histogram_accounts_for_every_banded_row(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents")
    sigs = D.corpus_signatures(docs)
    hist = D.lsh_bucket_histogram(sigs).collect()
    # every (doc, band) row lands in exactly one bucket
    total = sum(r.bucket_size * r.n_buckets for r in hist)
    assert total == docs.count() * D.N_BANDS
    # pair_candidates matches the c(c-1)/2 identity per size class
    for r in hist:
        assert r.pair_candidates == r.n_buckets * r.bucket_size * (r.bucket_size - 1) // 2


def test_edit_distance_verify_exact_values(spark):
    docs = spark.createDataFrame(
        [(1, "abcd"), (2, "abxd"), (3, "abcd")], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3)], ["doc_a", "doc_b"]
    )
    out = {(r.doc_a, r.doc_b): r for r in D.edit_distance_verify(docs, pairs).collect()}
    assert out[(1, 2)].edit_distance == 1
    assert abs(out[(1, 2)].edit_sim - 0.75) < 1e-9
    assert out[(1, 3)].edit_distance == 0 and out[(1, 3)].edit_sim == 1.0


def test_charset_profile_ratios_partition_invariant(spark):
    rows = [(i, "ab1 x" * 3, "s0") for i in range(40)] + [
        (100 + i, "zz 99!", "s1") for i in range(40)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    a = {r.source: r for r in T.charset_profile(df).collect()}
    b = {
        r.source: r
        for r in T.charset_profile(df.repartition(13, "doc_id")).collect()
    }
    for s in ("s0", "s1"):
        for c in ("avg_letters", "avg_digits", "avg_space", "avg_other"):
            assert getattr(a[s], c) == getattr(b[s], c)
    # "zz 99!": 2 letters, 2 digits, 1 space, 1 other of 6 chars
    assert abs(a["s1"].avg_letters - round(2 / 6, 6)) < 2e-6
    assert abs(a["s1"].avg_other - round(1 / 6, 6)) < 2e-6


def test_weighted_sample_heaviest_wins_and_partition_invariant(spark):
    from twitter_kafka_etl_spark.operators import curation as C

    rows = [(i, "g", 1) for i in range(50)] + [(99, "g", 10**9)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    got = {r.doc_id for r in C.weighted_sample(df, "n_chars", k=3).collect()}
    # ln(u)/w for w=1e9 is within 2.3e-8 of 0; the best unit-weight key
    # is at most ln(1-2^-32)/1 — the giant weight always ranks first
    assert 99 in got and len(got) == 3
    # sample membership is a pure function of (salt, id, w): any
    # physical partitioning selects the identical set
    got7 = {
        r.doc_id
        for r in C.weighted_sample(df.repartition(7), "n_chars", k=3).collect()
    }
    assert got7 == got
    # zero/negative weights carry no mass and are never selected
    df0 = df.union(
        spark.createDataFrame([(500, "g", 0), (501, "g", -5)], df.schema)
    )
    got0 = {r.doc_id for r in C.weighted_sample(df0, "n_chars", k=3).collect()}
    assert 500 not in got0 and 501 not in got0


def test_containment_catches_quote_inclusion_jaccard_misses(spark):
    words = [f"w{i}" for i in range(200)]
    quote = " ".join(words[:12])  # 10 shingles, all inside the big doc
    big = " ".join(words)  # 198 shingles
    df = spark.createDataFrame(
        [(1, quote), (2, big)], "doc_id long, text string"
    )
    pairs = D.containment_pairs(df, threshold=0.6).collect()
    assert len(pairs) == 1
    p = pairs[0]
    # the quote's shingle set is a strict subset: containment exactly 1
    assert (p.doc_a, p.doc_b) == (1, 2) and p.containment == 1.0
    assert p.common == 10 and p.jaccard < 0.2
    # ...and the symmetric-Jaccard screen at its own threshold misses it
    assert D.ngram_jaccard_pairs(df, threshold=0.2).count() == 0


def test_source_overlap_identical_and_disjoint_sources(spark):
    t1 = "alpha beta gamma delta epsilon zeta"
    t2 = "one two three four five six seven"
    rows = [
        (1, t1, "sA"), (2, t2, "sA"),
        (3, t1, "sB"), (4, t2, "sB"),   # sB duplicates sA exactly
        (5, "p q r s t u v w", "sC"),   # sC shares nothing
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {(r.source_a, r.source_b): r for r in D.source_overlap(df).collect()}
    assert got[("sA", "sB")].jaccard == 1.0
    # disjoint shingle sets never materialize a pair row at all
    assert set(got) == {("sA", "sB")}


def test_psi_drift_zero_for_identical_cohorts_full_spine(spark):
    from twitter_kafka_etl_spark.operators import curation as C

    # both cohorts get the SAME n_chars multiset -> p == q in every
    # bucket -> every smoothed term is exactly 0.0
    rows = [(i, c, n) for i, (c, n) in enumerate(
        [(c, n) for c in ("base", "cand") for n in (10, 300, 300, 5000)]
    )]
    df = spark.createDataFrame(rows, "doc_id long, coh string, n_chars long")
    out = C.psi_drift(df, F.col("coh")).collect()
    assert len(out) == 16  # full spine, empty buckets included
    assert all(r.psi_term == 0.0 for r in out)
    # a shifted cohort produces strictly positive total PSI
    shifted = spark.createDataFrame(
        [(i, "base", 10) for i in range(8)]
        + [(100 + i, "cand", 4000) for i in range(8)],
        "doc_id long, coh string, n_chars long",
    )
    tot = sum(r.psi_term for r in C.psi_drift(shifted, F.col("coh")).collect())
    assert tot > 0.25


def test_profile_table_counts_planted_nulls_and_cardinality(spark):
    from twitter_kafka_etl_spark.operators.relational import profile_table

    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, None), (4, "b"), (4, None)],
        "k long, v string",
    )
    got = {r.column: r for r in profile_table(df).collect()}
    assert got["k"].n_rows == 5 and got["k"].n_nulls == 0
    assert got["k"].n_distinct == 4
    assert got["v"].n_nulls == 2 and got["v"].n_distinct == 2
    # the profile is a union of per-column SINGLE-distinct branches —
    # never the multi-distinct form, whose Expand replicates every row
    # once per column (2.7-3x slower measured at sf0.1/sf1)
    plan = profile_table(df)._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan
    # each branch prunes to its own column: no branch reads both
    opt = profile_table(df)._jdf.queryExecution().optimizedPlan().toString()
    assert "Project [k#" in opt and "Project [v#" in opt


def test_shingle_novelty_first_doc_all_novel_copy_none(spark):
    t = "alpha beta gamma delta epsilon"
    df = spark.createDataFrame(
        [(1, t), (2, t), (3, "unrelated fresh words entirely here"), (4, "xy")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in D.shingle_novelty(df).collect()}
    assert got[1].novelty == 1.0 and got[1].n_sh == 3
    # doc 2 is a verbatim copy of doc 1: zero novel shingles
    assert got[2].n_novel == 0 and got[2].novelty == 0.0
    assert got[3].novelty == 1.0
    # sub-n-token doc: no shingles, defined as (0, 0, 0.0)
    assert (got[4].n_sh, got[4].n_novel, got[4].novelty) == (0, 0, 0.0)


def test_robust_outliers_resist_giant_doc(spark):
    from twitter_kafka_etl_spark.operators import curation as C

    # 29 docs near 100 chars + one 1M-char monster: median/MAD ignore
    # the monster (mean/stddev would let it drag the threshold far
    # enough to mask real anomalies)
    rows = [(i, "g", 100 + (i % 3)) for i in range(29)] + [(99, "g", 10**6)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    got = {r.doc_id: r for r in C.robust_outliers(df, group_cols=("source",)).collect()}
    assert got[99].is_outlier and got[99].med == 101 and got[99].mad == 1
    assert sum(r.is_outlier for r in got.values()) == 1


def test_bigram_nll_zero_for_deterministic_transitions(spark):
    # "x y x y x y": every transition is certain (P(y|x)=P(x|y)=1),
    # so conditional bigram NLL is exactly 0 — while the unigram model
    # scores the same doc ln(2) per token. The separation IS the point:
    # transition structure, not word frequency.
    df = spark.createDataFrame(
        [(1, "x y x y x y")], "doc_id long, text string"
    )
    row = T.bigram_nll(df).collect()[0]
    assert row.n_bigrams == 5 and row.avg_neg_logp == 0.0
    uni = T.unigram_nll(df).collect()[0]
    assert uni.avg_neg_logp > 0.6  # ~ln 2
    # scrambled transitions over the same unigram profile score high
    df2 = spark.createDataFrame(
        [(1, "a a b b"), (2, "a b a b")], "doc_id long, text string"
    )
    got = {r.doc_id: r.avg_neg_logp for r in T.bigram_nll(df2).collect()}
    # doc1 mixes (a,a)/(a,b)/(b,b); doc2 repeats (a,b)/(b,a): both see
    # the corpus counts, doc with rarer transitions scores higher
    assert got[1] > 0.0
    # sub-2-token docs have no bigrams and are absent
    df3 = spark.createDataFrame([(9, "solo")], "doc_id long, text string")
    assert T.bigram_nll(df3).count() == 0


def test_dedup_threshold_curve_monotone_and_exact(spark):
    t1 = " ".join(f"w{i}" for i in range(12))        # 10 shingles
    t2 = " ".join(f"w{i}" for i in range(12)) + " z" # 11 sh, j=10/11
    t3 = " ".join(f"u{i}" for i in range(12))        # disjoint
    df = spark.createDataFrame(
        [(1, t1), (2, t2), (3, t3)], "doc_id long, text string"
    )
    rows = {r.threshold: r for r in D.dedup_threshold_curve(df).collect()}
    assert len(rows) == 9  # full spine, even where nothing fires
    # one pair (1,2) with j = 10/11 ~ 0.909 -> bucket 9: fires at every t
    for t in (0.1, 0.5, 0.9):
        assert rows[t].n_pairs == 1 and rows[t].est_docs_removed == 1
    # monotone non-increasing in t by construction
    ts = sorted(rows)
    assert all(
        rows[a].n_pairs >= rows[b].n_pairs for a, b in zip(ts, ts[1:])
    )


def test_segment_dedup_stats_exact(spark):
    a = " ".join(f"w{i}" for i in range(16))            # 2 segments
    shared = " ".join(f"w{i}" for i in range(8))        # = a's 1st segment
    b = shared + " " + " ".join(f"u{i}" for i in range(8))
    short = "too short"                                  # <8 tokens: absent
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, short)], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in D.segment_dedup_stats(df).collect()}
    assert set(rows) == {1, 2}
    assert rows[1].n_segments == 2 and rows[1].n_dup_segments == 1
    assert rows[2].n_segments == 2 and rows[2].n_dup_segments == 1
    assert abs(rows[1].dup_fraction - 0.5) < 1e-9
    # within-doc repeats count as duplicated too
    df2 = spark.createDataFrame([(1, a + " " + a)], "doc_id long, text string")
    r = D.segment_dedup_stats(df2).collect()[0]
    assert r.n_segments == 4 and r.n_dup_segments == 4


def test_mixture_temperature_math(spark):
    df = spark.createDataFrame(
        [(i, "t " * 9 + "t", "big") for i in range(9)]
        + [(100, "t " * 9 + "t", "small")],
        "doc_id long, text string, source string",
    )
    from twitter_kafka_etl_spark.operators import curation as C

    rows = {r.source: r for r in C.mixture_temperature(df).collect()}
    assert rows["big"].n_tokens == 90 and rows["small"].n_tokens == 10
    w_big, w_small = 0.9 ** 0.7, 0.1 ** 0.7
    assert abs(rows["big"].temp_weight - w_big / (w_big + w_small)) < 1e-5
    assert abs(
        rows["big"].temp_weight + rows["small"].temp_weight - 1.0
    ) < 2e-6
    # temperature flattens: the small source is upsampled, the big one down
    assert rows["small"].boost > 1.0 > rows["big"].boost


def test_source_token_kl_zero_iff_same_distribution(spark):
    same = [(i, "a b c", f"s{i % 2}") for i in range(10)]
    df = spark.createDataFrame(same, "doc_id long, text string, source string")
    rows = {r.source: r for r in T.source_token_kl(df).collect()}
    assert all(abs(r.kl_nats) < 1e-9 for r in rows.values())
    skew = spark.createDataFrame(
        [(1, "a a a a", "p"), (2, "a b c d", "q")],
        "doc_id long, text string, source string",
    )
    rows = {r.source: r for r in T.source_token_kl(skew).collect()}
    assert rows["p"].kl_nats > 0 and rows["q"].kl_nats > 0
    assert rows["p"].n_types == 1 and rows["q"].n_types == 4


def test_pmi_top_bigrams_planted_collocation(spark):
    # "foo bar" always together; filler tokens never co-occur twice
    docs = [(i, "foo bar " + f"f{i} g{i}") for i in range(10)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = T.pmi_top_bigrams(df, min_count=5, k=10).collect()
    assert rows, "expected at least the planted collocation"
    assert all(r.c_ab >= 5 for r in rows)
    assert rows[0].bigram == "foo bar"
    pmis = [r.pmi for r in rows]
    assert pmis == sorted(pmis, reverse=True)


def test_cluster_size_profile_exact_and_total(spark):
    comp = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 5), (6, 5)],
        "doc_id long, component_id long",
    )
    rows = {r.cluster_size: r for r in D.cluster_size_profile(comp).collect()}
    assert rows[3].n_clusters == 1 and rows[3].docs_removed == 2
    assert rows[2].n_clusters == 1 and rows[2].docs_removed == 1
    assert rows[1].n_clusters == 1 and rows[1].docs_removed == 0
    assert sum(r.n_docs for r in rows.values()) == 6


def test_corpus_components_memoized_across_consumers(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents", rebalance=True)
    first = D.corpus_components(docs)
    again = D.corpus_components(
        read_table(spark, sf_dir, "documents", rebalance=True)
    )
    assert again is first  # same persisted working set, not a rebuild


def test_corpus_components_survives_external_rdd_eviction(spark, sf_dir):
    """bench.py's per-query hygiene clears the SQL cache AND unpersists
    every RDD — which kills localCheckpoint-backed frames unrecoverably
    (truncated lineage). A memo hit on such a dead frame must rebuild,
    not throw checkpointRDDBlockIdNotFound (r6 bench: x25/x36/x89)."""
    docs = read_table(spark, sf_dir, "documents", rebalance=True)
    first = D.corpus_components(docs)
    n = first.count()
    # simulate bench._evict
    spark.catalog.clearCache()
    for rdd in dict(spark.sparkContext._jsc.getPersistentRDDs()).values():
        rdd.unpersist(True)
    again = D.corpus_components(
        read_table(spark, sf_dir, "documents", rebalance=True)
    )
    assert again.count() == n  # rebuilt (or replayed) — never a dead frame


def test_winnow_match_pairs_guarantee_and_threshold(spark):
    shared = "alpha beta gamma delta epsilon zeta"  # 6-token shared run
    d1 = shared + " uniq1 uniq2 uniq3 uniq4"
    d2 = "other words first then " + shared
    d3 = "completely different content with no common run at all"
    df = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3)], "doc_id long, text string"
    )
    # winnowing guarantee: a shared run of w+k-1 = 6 tokens MUST share
    # at least one fingerprint
    got1 = {
        (r.doc_a, r.doc_b): r.shared_fp
        for r in T.winnow_match_pairs(df, min_shared=1).collect()
    }
    assert (1, 2) in got1 and got1[(1, 2)] >= 1
    assert not any(3 in p for p in got1)
    # raising min_shared can only shrink the pair set
    got2 = set(
        (r.doc_a, r.doc_b)
        for r in T.winnow_match_pairs(df, min_shared=2).collect()
    )
    assert got2 <= set(got1)


def test_cross_source_pairs_normalized_and_counted(spark):
    t = " ".join(f"w{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, t, "sB"), (2, t, "sA"), (3, t, "sA"),
         (4, "unrelated text entirely here today", "sC")],
        "doc_id long, text string, source string",
    )
    got = {
        (r.source_a, r.source_b): r.n_pairs
        for r in D.cross_source_pairs(df).collect()
    }
    # identical texts pair in every band: (1,2),(1,3) cross sA/sB
    # (normalized), (2,3) within sA; doc 4 pairs with nothing
    assert got[("sA", "sB")] == 2 and got[("sA", "sA")] == 1
    assert not any("sC" in k for k in got)


def test_embedding_profile_catches_planted_breakages(spark):
    from twitter_kafka_etl_spark.operators import similarity as S

    rows = [
        (1, [3.0, 4.0], 0),          # norm 5
        (2, [3.0, 4.0], 0),          # exact duplicate of vec 1
        (3, [0.0, 0.0], 0),          # zero vector
        (4, [1.0, 0.0, 0.0], 1),     # ragged dim in label 1
        (5, [0.0, 1.0], 1),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    got = {r.label: r for r in S.embedding_profile(df).collect()}
    assert got[0].n_vecs == 3 and got[0].n_dup_vecs == 2
    assert got[0].n_zero == 1 and got[0].dim_min == got[0].dim_max == 2
    assert abs(got[0].mean_norm - (5 + 5 + 0) / 3) < 1e-6
    assert (got[1].dim_min, got[1].dim_max) == (2, 3)  # ragged flagged
    assert got[1].n_dup_vecs == 0


def test_profile_table_empty_columns_returns_empty(spark):
    from twitter_kafka_etl_spark.operators.relational import profile_table

    df = spark.createDataFrame([(1, "a")], "k long, v string")
    out = profile_table(df, columns=[])
    assert out.count() == 0
    assert out.columns == ["column", "n_rows", "n_nulls", "n_distinct"]


def test_memo_eviction_never_kills_checkpoint_backed_holder(spark, sf_dir):
    """Internal eviction (memo past capacity) must not unpersist a
    localCheckpoint-backed frame an earlier caller still holds — a
    truncated-lineage frame cannot be recomputed (round-6 review)."""
    from twitter_kafka_etl_spark.operators._cache import _MEMO_MAX, plan_memo

    docs = read_table(spark, sf_dir, "documents", rebalance=True)
    comp = D.corpus_components(docs)
    n = comp.count()
    # force evictions: fill the memo with fresh keys
    for i in range(_MEMO_MAX + 1):
        src = spark.range(10 + i)
        plan_memo(src, (f"__test_{i}",), lambda s=src: s.groupBy().count())
    assert comp.count() == n  # held frame still alive after eviction


def test_memo_eager_hit_materializes_lazy_entry(spark):
    """An eager=True plan_memo request that HITS a lazily-persisted
    entry must materialize it then — otherwise the stampede fix
    silently depends on which consumer populated the memo slot first
    (r13 advice). The entry stores only the frame; its state is the
    derived block status."""
    from twitter_kafka_etl_spark.operators import _cache

    src = spark.range(100)
    tag = ("__test_eager_on_hit",)
    with _cache._LOCK:
        _cache._MEMO.clear()
    # cold build, lazy: persisted, no partition cached yet
    lazy = _cache.plan_memo(src, tag, lambda: src.selectExpr("id * 2 AS v"))
    key = _cache._plan_key(src, tag)
    assert _cache._MEMO[key] is lazy
    assert _cache._cached_partitions(lazy)[0] == 0
    # eager hit on the lazy entry: same frame back, every partition cached
    hit = _cache.plan_memo(
        src, tag, lambda: src.selectExpr("id * 2 AS v"), eager=True
    )
    assert hit is lazy
    cached, total = _cache._cached_partitions(hit)
    assert cached == total > 0
    hit.unpersist()
    with _cache._LOCK:
        _cache._MEMO.clear()


def _buffer_rdd(spark, df):
    """The JVM RDD holding ``df``'s cache buffers (``df`` is cached)."""
    return (
        spark._jsparkSession.sharedState().cacheManager()
        .lookupCachedData(df._jdf).get().cachedRepresentation()
        .cacheBuilder().cachedColumnBuffers()
    )


def _block_counts(spark, df):
    """(cached, total) partitions of ``df``'s cache buffers, asked of
    the block manager master block by block — independent of the
    engine's own status read."""
    rdd = _buffer_rdd(spark, df)
    master = spark._jvm.org.apache.spark.SparkEnv.get().blockManager().master()
    block = spark._jvm.org.apache.spark.storage.RDDBlockId
    n = rdd.getNumPartitions()
    cached = sum(
        not master.getLocations(block(rdd.id(), i)).isEmpty() for i in range(n)
    )
    return cached, n


def test_memo_hit_after_eviction_is_fully_cached(spark):
    """clearCache → non-eager hit → eager hit, then an RDD-level
    unpersist of the buffers → eager hit: each eager hit must come back
    with EVERY partition cached and the right rows. A stored
    materialized flag missed both: the non-eager hit re-pinned lazily
    and left the flag set (1/8 cached), and after the RDD-level
    unpersist the storage level stayed set over dropped blocks (0/8)."""
    from pyspark.sql import functions as F

    from twitter_kafka_etl_spark.operators import _cache

    src = spark.range(0, 800, 1, 8)
    tag = ("__test_evicted_hit",)

    def build():
        return src.selectExpr("id * 3 AS v")

    want = 3 * sum(range(800))
    with _cache._LOCK:
        _cache._MEMO.clear()
    built = _cache.plan_memo(src, tag, build, eager=True)
    assert _block_counts(spark, built) == (8, 8)
    spark.catalog.clearCache()
    _cache.plan_memo(src, tag, build)
    hit = _cache.plan_memo(src, tag, build, eager=True)
    assert hit is built
    assert _block_counts(spark, hit) == (8, 8)
    assert hit.agg(F.sum("v")).first()[0] == want
    # RDD-level unpersist of the buffers (bench.py's hygiene path)
    rid = _buffer_rdd(spark, hit).id()
    for rdd in dict(spark.sparkContext._jsc.getPersistentRDDs()).values():
        if rdd.id() == rid:
            rdd.unpersist(True)
    assert _block_counts(spark, hit) == (0, 8)
    hit = _cache.plan_memo(src, tag, build, eager=True)
    assert _block_counts(spark, hit) == (8, 8)
    assert hit.agg(F.sum("v")).first()[0] == want
    hit.unpersist()
    with _cache._LOCK:
        _cache._MEMO.clear()


def test_memo_partial_eviction_hit_recaches_every_partition(spark):
    """A hit that lost SOME blocks (executor loss on a cluster) must be
    validated and re-cached on every partition, with no conf set: the
    probe depth follows the observed block state, so peek_memo and a
    plan_memo hit both come back 8/8 with the right rows."""
    import time

    from pyspark.sql import functions as F

    from twitter_kafka_etl_spark.operators import _cache

    src = spark.range(0, 640, 1, 8)
    tag = ("__test_partial_eviction",)

    def build():
        return src.selectExpr("id + 5 AS v")

    want = sum(range(640)) + 5 * 640
    master = spark._jvm.org.apache.spark.SparkEnv.get().blockManager().master()
    block = spark._jvm.org.apache.spark.storage.RDDBlockId

    def drop_block(df, index):
        master.removeBlock(block(_buffer_rdd(spark, df).id(), index))
        # removeBlock is asynchronous: wait until the master and the
        # driver's storage status both see the block gone
        deadline = time.monotonic() + 30
        while (_block_counts(spark, df), _cache._cached_partitions(df)) != (
            (7, 8), (7, 8)
        ):
            assert time.monotonic() < deadline
            time.sleep(0.05)

    with _cache._LOCK:
        _cache._MEMO.clear()
    built = _cache.plan_memo(src, tag, build, eager=True)
    assert _block_counts(spark, built) == (8, 8)
    drop_block(built, 3)
    peeked = _cache.peek_memo(src, tag)
    assert peeked is built
    assert _block_counts(spark, peeked) == (8, 8)
    assert peeked.agg(F.sum("v")).first()[0] == want
    drop_block(built, 3)
    hit = _cache.plan_memo(src, tag, build)
    assert hit is built
    assert _block_counts(spark, hit) == (8, 8)
    assert hit.agg(F.sum("v")).first()[0] == want
    hit.unpersist()
    with _cache._LOCK:
        _cache._MEMO.clear()


def test_components_working_set_builds_once_across_consumers(spark, sf_dir):
    """The five registered consumers of the components working set
    (x25 assignment, x36 keepers, x89 size profile, x99 source yield,
    x100 quality calibration) must share ONE build per (session,
    corpus plan) — memo eviction churn or a plan-key change would
    silently restore five rebuilds of the suite's most expensive
    subtree (round-6 verdict item 7)."""
    from twitter_kafka_etl_spark.operators import _cache
    from twitter_kafka_etl_spark.plans import REGISTRY

    # guarantee a cold start: drop every memo entry and cached block
    with _cache._LOCK:
        _cache._MEMO.clear()
    spark.catalog.clearCache()
    for rdd in dict(
        spark.sparkContext._jsc.getPersistentRDDs()
    ).values():
        rdd.unpersist(True)
    before = D.COMPONENTS_BUILDS["n"]
    for name in (
        "x25_dedup_components",
        "x36_dedup_keepers",
        "x89_cluster_size_profile",
        "x99_dedup_source_yield",
        "x100_quality_dedup_calibration",
    ):
        assert REGISTRY[name].build(spark, sf_dir).count() > 0
    assert D.COMPONENTS_BUILDS["n"] - before == 1


def test_packing_stats_fill_rate_exact(spark):
    from twitter_kafka_etl_spark.operators import curation as C

    # stream model: n_seqs = ceil(total_tokens / budget) per source —
    # a doc LONGER than the budget still counts every unit it streams
    # through (the pre-r9 distinct-seq-id rule skipped them and let
    # fill_rate exceed 1); fill_rate is a true fraction <= 1
    rows = [(1, "t " * 299 + "t", "sA"), (2, "t " * 299 + "t", "sA"),
            (3, "t " * 511 + "t", "sB"), (4, "t " * 99 + "t", "sB"),
            (5, "t " * 1999 + "t", "sC"), (6, "t " * 99 + "t", "sC")]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r.source: r for r in C.packing_stats(df, budget=512).collect()}
    assert got["sA"].n_seqs == 2 and abs(got["sA"].fill_rate - 600/1024) < 1e-6
    assert got["sB"].n_seqs == 2 and abs(got["sB"].fill_rate - 612/1024) < 1e-6
    # the review scenario: 2000+100 tokens span ceil(2100/512) = 5 units
    assert got["sC"].n_seqs == 5
    assert abs(got["sC"].fill_rate - 2100 / (5 * 512)) < 1e-6
    assert all(r.fill_rate <= 1.0 for r in got.values())


def test_chunk_spans_rejects_degenerate_stride(spark):
    """overlap >= size would silently DROP every long document (NULL
    chunk count -> explode emits nothing) or emit negative spans —
    reject loudly instead (r9 review finding)."""
    from twitter_kafka_etl_spark.operators import curation as C

    df = spark.createDataFrame([(1, 200)], "doc_id long, n_tok long")
    for size, overlap in [(128, 128), (128, 200), (0, 0), (128, -1)]:
        with pytest.raises(ValueError, match="overlap"):
            C.chunk_spans(df, "n_tok", size=size, overlap=overlap)
    # valid args still chunk: 200 tokens, size 128, overlap 32 -> starts
    # 0 and 96 cover every token
    rows = C.chunk_spans(df, "n_tok", size=128, overlap=32).collect()
    assert [(r.start_tok, r.chunk_tokens) for r in rows] == [(0, 128), (96, 104)]


def test_feature_correlation_planted_linear_and_constant(spark):
    from twitter_kafka_etl_spark.operators import curation as C

    # single-char tokens: n_chars = 2*tokens - 1 (perfect linear, r = 1);
    # every token identical within a doc: f_types constant (var 0 → 0.0)
    rows = [(i, "t " * (n - 1) + "t", 2 * n - 1) for i, n in enumerate([2, 5, 9, 14])]
    df = spark.createDataFrame(rows, "doc_id long, text string, n_chars long")
    got = {(r.feat_x, r.feat_y): r for r in C.feature_correlation(df).collect()}
    assert set(got) == {("f_chars", "f_tokens"), ("f_chars", "f_types"),
                        ("f_tokens", "f_types")}
    assert all(r.n_docs == 4 for r in got.values())
    assert abs(got[("f_chars", "f_tokens")].pearson - 1.0) < 1e-9
    # f_types has zero variance → guard yields exactly 0.0, not NaN
    assert got[("f_chars", "f_types")].pearson == 0.0
    assert got[("f_tokens", "f_types")].pearson == 0.0


def test_source_stylometry_planted_ttr_and_hapax(spark):
    rows = [(1, "a a a a", "rep"), (2, "a bb ccc dddd", "rich")]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r.source: r for r in T.source_stylometry(df).collect()}
    rep, rich = got["rep"], got["rich"]
    assert (rep.n_docs, rep.n_tokens, rep.n_types, rep.n_hapax) == (1, 4, 1, 0)
    assert abs(rep.ttr - 0.25) < 1e-9 and rep.hapax_frac == 0.0
    assert abs(rep.mean_word_len - 1.0) < 1e-9
    assert (rich.n_types, rich.n_hapax) == (4, 4)
    assert rich.ttr == 1.0 and rich.hapax_frac == 1.0
    assert abs(rich.mean_word_len - 10 / 4) < 1e-9


def test_dup_growth_curve_full_level_exact_and_nested_monotone(spark):
    dup = "same text here"
    rows = [(i, dup) for i in range(1, 5)] + [
        (i, f"unique text {i}") for i in range(5, 9)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.pct: r for r in D.dup_growth_curve(df).collect()}
    full = out[100]
    assert (full.n_docs, full.n_distinct, full.n_dup_docs, full.n_excess) == (
        8, 5, 4, 3,
    )
    assert abs(full.dup_frac - 3 / 8) < 1e-9
    # nested samples: every statistic is monotone non-decreasing in pct
    pcts = sorted(out)
    for lo, hi in zip(pcts, pcts[1:]):
        assert out[lo].n_docs <= out[hi].n_docs
        assert out[lo].n_distinct <= out[hi].n_distinct
        assert out[lo].n_excess <= out[hi].n_excess


def test_embedding_separation_planted_clusters_and_zero_vec(spark):
    rows = [
        (1, [1.0, 0.0], 0),
        (2, [0.9, 0.1], 0),
        (3, [0.0, 0.0], 0),  # zero vector: excluded from scoring
        (4, [0.0, 1.0], 1),
        (5, [0.1, 0.9], 1),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    got = {r.label: r for r in S.embedding_separation(df).collect()}
    assert got[0].n_scored == 2  # zero vector dropped
    assert got[1].n_scored == 2
    for r in got.values():
        assert r.cohesion > 0.99  # tight clusters
        assert r.inter_cos < 0.2  # near-orthogonal centroids
        assert r.margin > 0.8
    assert got[0].nearest_label == 1 and got[1].nearest_label == 0


def test_dedup_method_agreement_planted_cells(spark):
    long_a = " ".join(f"w{i}" for i in range(12))
    rows = [
        # byte-identical SHORT docs: no 3-gram shingles → no MinHash
        # signature — the LSH blind spot cell (1, 0, 1)
        (1, "a b"),
        (2, "a b"),
        # byte-identical LONG docs: all three methods agree (1, 1, 1)
        (3, long_a),
        (4, long_a),
        # unrelated doc: pairs with nothing
        (5, " ".join(f"z{i}" for i in range(20, 40))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.in_exact, r.in_minhash, r.in_simhash): r.n_pairs
        for r in D.dedup_method_agreement(df).collect()
    }
    assert got[(1, 0, 1)] == 1  # the short identical pair
    assert got[(1, 1, 1)] == 1  # the long identical pair
    # identical text always has hamming-0 simhash: exact-only is empty
    assert (1, 0, 0) not in got
    # no detector invents a pair across unrelated docs
    assert sum(got.values()) == len(got) == 2


def test_dedup_method_agreement_collapsed_combinatorics(spark):
    """The collapsed rewrite's arithmetic paths: C(c,2) within-group
    mass for duplicate-heavy groups (long AND short texts), c_a*c_b
    cross-group weights, whitespace-variant exact pairs across raw
    groups, and null-text exclusion."""
    long_a = " ".join(f"w{i}" for i in range(12))
    rows = (
        # 5 byte-identical long docs → C(5,2)=10 pairs at (1,1,1)
        [(i, long_a) for i in range(1, 6)]
        # 4 byte-identical SHORT docs → C(4,2)=6 pairs at (1,0,1)
        + [(i, "a b") for i in range(10, 14)]
        # two raw-DISTINCT whitespace variants sharing a normalized
        # fingerprint with each other (fingerprint_norm collapses runs
        # but does not trim, so neither matches bare long_a): the
        # cross-raw-group exact pair the rep-level fp self-join must
        # still find — weight c_a*c_b = 1*1
        + [(20, long_a + " "), (21, long_a + "  ")]
        # null text: contributes nothing anywhere
        + [(30, None)]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.in_exact, r.in_minhash, r.in_simhash): r.n_pairs
        for r in D.dedup_method_agreement(df).collect()
    }
    assert got[(1, 0, 1)] == 6  # short within-group mass, no signature
    # exact algebra is deterministic even where detector flags aren't
    # (the variants' extra empty token perturbs shingles/simhash):
    # C(5,2)=10 long within + C(4,2)=6 short within + (20,21) variant
    exact_total = sum(v for k, v in got.items() if k[0] == 1)
    assert exact_total == 10 + 6 + 1
    assert got[(1, 1, 1)] >= 10  # the identical-long within mass


def test_dedup_source_yield_planted_cross_source_loss(spark):
    dup = "the same exact near dup text body"
    rows = [
        (1, dup, "srcA"),            # keeper (min id of the cluster)
        (2, dup, "srcA"),            # removed within-source
        (3, "a unique document entirely", "srcA"),
        (4, dup, "srcB"),            # removed, keeper lives in srcA
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r.source: r for r in D.dedup_source_yield(df).collect()}
    a, b = got["srcA"], got["srcB"]
    assert (a.n_docs, a.n_removed, a.n_lost_other) == (3, 1, 0)
    assert abs(a.removed_frac - 1 / 3) < 1e-6
    assert (b.n_docs, b.n_removed, b.n_lost_other) == (1, 1, 1)
    assert b.removed_frac == 1.0


def test_quality_dedup_calibration_planted_buckets(spark):
    from twitter_kafka_etl_spark.operators import curation as C

    boiler = "the the the the the the"  # all stopwords -> score ~0.083
    rows = [
        (1, boiler), (2, boiler), (3, boiler),      # bucket 0, 2 removed
        (4, "alpha beta gamma delta epsilon zeta"),  # score 1.0 -> bucket 9
        (5, "one two three four five six"),          # score 1.0 -> bucket 9
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.q_bucket: r for r in C.quality_dedup_calibration(df).collect()}
    assert set(got) == {0, 9}
    assert (got[0].n_docs, got[0].n_removed) == (3, 2)
    assert abs(got[0].removed_frac - 2 / 3) < 1e-6
    assert (got[9].n_docs, got[9].n_removed) == (2, 0)
    assert got[9].removed_frac == 0.0


def test_edit_distance_verify_collapse_equivalence(spark):
    # duplicate-heavy corpus: the collapsed plan must emit exactly the
    # per-pair rows of the plain plan (prefix DP is a function of the
    # fingerprint pair)
    base = " ".join(f"tok{i}" for i in range(30))
    nd = base.replace("tok7", "tokX")
    rows = [(i, base) for i in range(1, 5)] + [(i, nd) for i in range(5, 8)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = D.minhash_lsh_pairs(D.minhash_signatures(D.shingle(df)))
    on = {
        tuple(r)
        for r in D.edit_distance_verify(df, pairs, collapse=True).collect()
    }
    off = {
        tuple(r)
        for r in D.edit_distance_verify(df, pairs, collapse=False).collect()
    }
    assert on == off and len(on) > 0
    # identical docs confirm at distance 0 / similarity 1
    zero = [r for r in on if r[2] == 0]
    assert zero and all(r[3] == 1.0 for r in zero)


def test_bootstrap_source_ci_constant_and_varied(spark):
    from twitter_kafka_etl_spark.operators import curation as C

    rows = [(i, "t", "const", 100) for i in range(50)] + [
        (100 + i, "t", "varied", 200 if i % 2 else 0) for i in range(50)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, source string, n_chars long"
    )
    got = {r.source: r for r in C.bootstrap_source_ci(df).collect()}
    c, v = got["const"], got["varied"]
    # constant metric: every non-empty replica mean is exactly 100 —
    # zero bootstrap variance, the CI collapses onto the mean
    assert c.mean == 100.0 and c.boot_mean == 100.0
    assert c.boot_sd == 0.0 and c.ci_lo == c.ci_hi == 100.0
    # varied metric: exact plain mean, positive width, ordered interval
    assert v.mean == 100.0
    assert v.boot_sd > 0
    assert v.ci_lo < v.boot_mean < v.ci_hi
    # resampling noise stays in a plausible band (sd of the mean for
    # sd=100, n=50 is ~14; Poisson bootstrap tracks it within ~3x)
    assert 2 < v.boot_sd < 45
