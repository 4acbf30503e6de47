"""Deduplication operators for training-data pipelines.

Scale design: every algorithm here is expressed as shuffle-bounded
DataFrame ops — explode → hash → partial-agg → equi-join. Nothing
collects to the driver; candidate generation is always an inverted-index
or bucket equi-join (never a cross join), so the 100 TB cost is
O(docs × shingles) map-side plus one shuffle per join.

Determinism: token/shingle hashes derive from md5 (stable across engines,
runs, and partitionings), so signatures — and the DuckDB oracles in
plans/extensions.py — are exactly reproducible.

- ``exact_duplicates``      hash-groupBy on a normalized fingerprint
- ``shingle``               n-gram shingles as a (doc_id, shingle) long table
- ``minhash_signatures``    k permutation-free MinHash values
- ``minhash_lsh_pairs``     banded LSH candidate pairs (band equi-join)
- ``simhash``               32-bit SimHash per document
- ``simhash_pairs``         near-dup pairs via chunk-banding + hamming check
- ``ngram_jaccard_pairs``   exact Jaccard over an inverted-index join
- ``connected_components``  near-dup pairs → duplicate clusters (min-label)
"""

from __future__ import annotations

import random
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from twitter_kafka_etl_spark.operators._cache import eager_persist

#: Mersenne prime 2^31 - 1; all MinHash arithmetic stays < 2^62 (no
#: int64 overflow in either Spark or the DuckDB oracle).
MERSENNE = 2_147_483_647
N_HASHES = 16
N_BANDS = 4
ROWS_PER_BAND = N_HASHES // N_BANDS


def _pin_lazy(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint(eager=False)``, unless ``df`` IS already a
    checkpoint handle — then the existing pin is reused. Several
    operators pin a caller-supplied frame so their multi-consumer plans
    materialize the shared subtree once; a caller that already pinned
    the same handle (the curation example shares one signature table
    across operators) would otherwise store the blocks TWICE — once
    per checkpoint (r9 review finding). "Already pinned" is decided by
    the wrapped RDD's own checkpoint mark, not merely a LogicalRDD
    plan root: ``createDataFrame``/RDD-derived frames are LogicalRDD
    too but are NOT materialized, and skipping their pin would rerun
    the RDD lineage once per consumer. Classic Spark only (py4j plan
    introspection); on any failure it just pins."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if (
            plan.getClass().getSimpleName() == "LogicalRDD"
            and plan.rdd().isLocallyCheckpointed()
        ):
            return df
    except Exception:  # noqa: BLE001 — introspection is best-effort
        pass
    return df.localCheckpoint(eager=False)


def hash_params(k: int = N_HASHES, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the k MinHash functions."""
    rng = random.Random(seed)
    return [(rng.randrange(1, MERSENNE), rng.randrange(0, MERSENNE)) for _ in range(k)]


def token_hash(col: Column) -> Column:
    """Stable 31-bit token hash: first 8 hex chars of md5 → int, mod the
    Mersenne prime. Engine-portable (DuckDB: CAST('0x'||substr(md5(x),1,8)
    AS BIGINT) % p)."""
    return (F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint") % MERSENNE)


def token_hash60(col: Column) -> Column:
    """Stable 60-bit hash (first 15 hex chars of md5 — fits signed int64).

    Used as a join key in place of long shingle strings: 8-byte shuffle
    keys instead of ~25-byte strings at 100 TB. Both engines derive the
    identical value, so even a collision (P ≈ n²/2⁶¹) affects Spark and
    the oracle identically."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def fingerprint_norm(col: Column) -> Column:
    """Normalization for exact dedup: lowercase, collapse whitespace."""
    return F.lower(F.regexp_replace(col, "\\s+", " "))


def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup via hash-groupBy on the md5 fingerprint: one row per
    distinct text with the keeper (min id) and the duplicate count.
    Map-side partial agg → single shuffle on the 128-bit key."""
    return (
        df.select(F.md5(fingerprint_norm(F.col(text_col))).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keeper_id"), F.count(F.lit(1)).alias("dup_cnt"))
    )


def _ids(id_col: str | Sequence[str]) -> list[str]:
    return [id_col] if isinstance(id_col, str) else list(id_col)


def shingle(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str | Sequence[str] = "doc_id",
    outer: bool = False,
) -> DataFrame:
    """Distinct word n-gram shingles as a long (id, shingle) table;
    ``outer=True`` keeps a sub-``n``-token doc as one null shingle.

    Built with JVM-side array ops: transform over a 0..len-n index
    sequence, then explode. No Python, no UDF.

    The token array is materialized as its own projection first —
    referencing ``F.split(...)`` directly inside the transform lambda
    re-evaluates the split for every element_at (measured 6.7× slower
    at sf0.1).

    Spark never codegens HOF lambdas (interpreted Expression.eval), but
    the shuffle-free array build still beats the codegen'd alternative:
    a posexplode + window-lead shingle build measured 2.3× slower warm
    at sf0.1 (0.57s vs 0.25s) — the per-doc token shuffle costs more
    than interpreted eval saves, and at 100 TB a corpus-token exchange
    is exactly the shuffle this design avoids.
    """
    toked, grams = _gram_array(df, n, text_col)
    explode = F.explode_outer if outer else F.explode
    return toked.select(
        *_ids(id_col), explode(F.array_distinct(grams)).alias("shingle")
    )


def _gram_array(df: DataFrame, n: int, text_col: str):
    """(df + materialized token column, n-gram array Column).

    Documents shorter than ``n`` tokens yield an empty gram array —
    guarded explicitly because ``F.sequence(0, negative)`` generates a
    *descending* sequence (bogus indices), while the oracle's
    ``range()`` is empty for stop < start."""
    toked = df.withColumn("__toks", F.split(F.col(text_col), " "))
    idx = F.sequence(F.lit(0), F.size("__toks") - n)
    grams = F.when(
        F.size("__toks") >= n,
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.element_at("__toks", (i + j + 1).cast("int")) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return toked, grams


def minhash_signatures(
    shingled: DataFrame,
    id_col: str | Sequence[str] = "doc_id",
    params: Sequence[tuple[int, int]] | None = None,
) -> DataFrame:
    """k MinHash values per document: min((a*h + b) mod p) per hash fn.
    One shuffle (groupBy id); k mins fold map-side.

    The md5-backed shingle hash is projected ONCE before the aggregate:
    referenced directly inside the k min() expressions it is evaluated
    k times per row (2× the whole signature pass at sf1, k=16)."""
    params = list(params or hash_params())
    ids = _ids(id_col)
    pre = shingled.select(*ids, token_hash(F.col("shingle")).alias("__h"))
    aggs = [
        F.min((F.lit(a) * F.col("__h") + F.lit(b)) % MERSENNE).alias(f"mh{i}")
        for i, (a, b) in enumerate(params)
    ]
    return pre.groupBy(*ids).agg(*aggs)


def corpus_shingles(
    df: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Memoized, persisted ``shingle(df)`` working set.

    The shingle build is the MinHash family's dominant cost (the HOF
    gram construction never codegens — SURVEY §6), and nearly every
    query in the family starts from it over the *same* corpus plan.
    Memoizing on the input plan's semanticHash means the x59 evaluation
    query's two arms (LSH pred / exact-Jaccard truth), and sibling
    queries in the same session, all read ONE materialized pass instead
    of re-running tokenize→transform→explode each (r4 verdict: x59 paid
    it twice — the suite's slowest line)."""
    from twitter_kafka_etl_spark.operators._cache import plan_memo

    return plan_memo(
        df,
        ("shingles", n, text_col, id_col),
        lambda: shingle(df, n=n, text_col=text_col, id_col=id_col),
        # eager: the shingle table's consumers are concurrent arms
        # (x59's pred/truth, the df-cap agg + join sides) — profiled
        # stampede of up to 8 redundant builds without it
        eager=True,
    )


def corpus_shingles_cached(
    df: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame | None:
    """The memoized shingle working set IF a sibling query already
    built it, else None — never forces the build. For consumers where
    a forced full-corpus materialization can cost more than it saves:
    the collapse-exact pair metrics shingle only the representative
    subset, so on a duplicate-heavy corpus handing them a full-corpus
    table they must first build is a net loss (x77 measured 8.1 s
    forced-shared vs 5.6 s solo at sf1), while reusing one that
    already exists is pure win (one semi-join vs a rep-subset HOF
    build).

    A present entry is served at the depth its block state calls for
    (``_cache._serve``): fully cached costs no job, an evicted one is
    re-registered and probed with ``take(1)``, a partially lost one is
    re-registered and ``count()``-ed; a dead one yields None."""
    from twitter_kafka_etl_spark.operators._cache import peek_memo

    return peek_memo(df, ("shingles", n, text_col, id_col))


def corpus_signatures(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    params: Sequence[tuple[int, int]] | None = None,
) -> DataFrame:
    """Memoized, persisted ``minhash_signatures`` over ``shingle(df)``
    — the k-int64/doc signature table every LSH/estimate/eval query
    keys off, built once per (session, corpus plan).

    The shingle input is taken from the shingle memo when a sibling
    consumer already established it (x59 does, for its exact-Jaccard
    truth arm) but is NOT forced into it otherwise: the signature
    aggregate consumes the shingle stream exactly once, so pinning the
    long shingle table for a signatures-only query (x02/x03/x46/…)
    would be a pure materialization tax."""
    from twitter_kafka_etl_spark.operators._cache import peek_memo, plan_memo

    ptag = tuple(params) if params is not None else None

    def build() -> DataFrame:
        src = peek_memo(df, ("shingles", n, text_col, id_col))
        if src is None:
            src = shingle(df, n=n, text_col=text_col, id_col=id_col)
        return minhash_signatures(src, id_col=id_col, params=params)

    return plan_memo(df, ("minhash_sigs", n, text_col, id_col, ptag), build)


def band_rows(
    signatures: DataFrame,
    id_col: str | Sequence[str] = "doc_id",
    n_bands: int = N_BANDS,
    rows_per_band: int = ROWS_PER_BAND,
    nested: bool = False,
) -> DataFrame:
    """Unpivot a MinHash signature table to ``(id, band, sig)`` rows —
    the LSH bucket keys. Produced by a single explode over an array of
    per-band structs — ONE scan of the signature table, not an
    ``n_bands``-way union (each union branch re-evaluates the upstream
    plan; at sf1 the union form re-ran the shingle+signature subtree
    four times). ``nested=True`` keeps the array as one ``bands``
    column per id instead, empty for a null (shingle-less) signature —
    qs17 stores it inline in its kept corpus."""
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "_",
                    *[
                        F.col(f"mh{b * rows_per_band + r}").cast("string")
                        for r in range(rows_per_band)
                    ],
                ).alias("sig"),
            )
            for b in range(n_bands)
        ]
    )
    ids = _ids(id_col)
    if nested:
        bands = F.when(F.col("mh0").isNotNull(), band_structs).otherwise(F.array())
        return signatures.select(*ids, bands.alias("bands"))
    return signatures.select(
        *ids, F.explode(band_structs).alias("__bs")
    ).select(
        *ids,
        F.col("__bs.band").alias("band"),
        F.col("__bs.sig").alias("sig"),
    )


def _minhash_lsh_pairs_core(
    signatures: DataFrame,
    id_col: str,
    n_bands: int,
    rows_per_band: int,
) -> DataFrame:
    """Banded equi-join over the ``band_rows`` of the given signatures."""
    bands = band_rows(signatures, id_col, n_bands, rows_per_band)
    a = bands.alias("a")
    b_ = bands.alias("b")
    return (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .distinct()
    )


def _collapsed_pair_form(
    rep_pairs: DataFrame,
    groups: DataFrame,
    extra_cols: tuple[str, ...] = (),
    within_extra: dict | None = None,
) -> DataFrame:
    """Assemble the collapsed pair form from representative-level pairs
    and the (``__sig``-keyed) ``groups`` table (rep_id, c).

    Cross-group rows join each rep's group size; within-group rows are
    one per group of ≥2 members (``rep_a == rep_b``), with
    ``within_extra`` supplying the carried metric columns (e.g. hamming
    0 — identical signatures). Group sizes ride along as BIGINT so the
    implied pair mass (``c_a·c_b`` cross, ``C(c_a,2)`` within) is plain
    integer arithmetic downstream."""
    ga = groups.select(F.col("rep_id").alias("doc_a"), F.col("c").alias("c_a"))
    gb = groups.select(F.col("rep_id").alias("doc_b"), F.col("c").alias("c_b"))
    cross = (
        rep_pairs.join(ga, "doc_a")
        .join(gb, "doc_b")
        .select(
            F.col("doc_a").alias("rep_a"),
            F.col("doc_b").alias("rep_b"),
            F.col("c_a").cast("bigint").alias("c_a"),
            F.col("c_b").cast("bigint").alias("c_b"),
            *[F.col(c) for c in extra_cols],
        )
    )
    within = groups.filter(F.col("c") >= 2).select(
        F.col("rep_id").alias("rep_a"),
        F.col("rep_id").alias("rep_b"),
        F.col("c").cast("bigint").alias("c_a"),
        F.col("c").cast("bigint").alias("c_b"),
        *[(within_extra or {})[c].alias(c) for c in extra_cols],
    )
    return cross.unionByName(within)


def expand_collapsed_pairs(
    collapsed: DataFrame,
    membership: DataFrame,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Reconstruct member-level pairs from a collapsed pair table
    (``expand=False`` output of :func:`minhash_lsh_pairs` /
    :func:`simhash_pairs`) and a ``(m_id, rep_id)`` membership table
    (:func:`minhash_signature_groups` / :func:`simhash_groups`).

    Exactly inverts the collapse — ``expand_collapsed_pairs(collapsed,
    membership)`` set-equals the ``expand=True`` output (test-asserted).
    Two equi-joins per arm; the quadratic blow-up happens only here, by
    explicit choice, never inside the banded join."""
    cross = collapsed.filter(F.col("rep_a") != F.col("rep_b"))
    within = collapsed.filter(F.col("rep_a") == F.col("rep_b"))
    ma = membership.select(F.col("rep_id").alias("rep_a"), F.col("m_id").alias("id_a"))
    mb = membership.select(F.col("rep_id").alias("rep_b"), F.col("m_id").alias("id_b"))
    cross_x = (
        cross.join(ma, "rep_a")
        .join(mb, "rep_b")
        .select(
            F.least("id_a", "id_b").alias("doc_a"),
            F.greatest("id_a", "id_b").alias("doc_b"),
            *[F.col(c) for c in extra_cols],
        )
    )
    w2 = membership.select(F.col("rep_id").alias("rep_a"), F.col("m_id").alias("id_b"))
    within_x = (
        within.join(ma, "rep_a")
        .join(w2, "rep_a")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            F.col("id_a").alias("doc_a"),
            F.col("id_b").alias("doc_b"),
            *[F.col(c) for c in extra_cols],
        )
    )
    return cross_x.unionByName(within_x)


def _minhash_sig_key(n_bands: int, rows_per_band: int) -> Column:
    """The full-signature string key the exact-collapse machinery
    groups on — ONE construction site, so group membership, the
    collapse paths, and the duplication probe can never diverge (a
    divergent key would silently break ``expand_collapsed_pairs``'s
    exact-inversion guarantee)."""
    mh_cols = [f"mh{i}" for i in range(n_bands * rows_per_band)]
    return F.concat_ws("_", *[F.col(c).cast("string") for c in mh_cols])


def _minhash_members(
    signatures: DataFrame, id_col: str, n_bands: int, rows_per_band: int
) -> DataFrame:
    """(m_id, __sig) projection under the shared signature key."""
    return signatures.select(
        F.col(id_col).alias("m_id"),
        _minhash_sig_key(n_bands, rows_per_band).alias("__sig"),
    )


def _check_expand_collapse(expand: bool, collapse_exact: bool | None) -> None:
    """``expand=False`` always runs the collapse-to-representatives path
    (the collapsed output's ``c_*`` columns ARE its group sizes), so an
    explicit ``collapse_exact=False`` contradicts it. Fail loudly
    instead of silently discarding the caller's argument."""
    if not expand and collapse_exact is False:
        raise ValueError(
            "expand=False always runs the collapse path (the collapsed "
            "pair form's c_a/c_b columns are its signature-group sizes);"
            " combining it with collapse_exact=False is contradictory — "
            "drop one of the two arguments"
        )


def minhash_signature_groups(
    signatures: DataFrame,
    id_col: str = "doc_id",
    n_bands: int = N_BANDS,
    rows_per_band: int = ROWS_PER_BAND,
) -> DataFrame:
    """Membership table ``(m_id, rep_id)`` of the full-signature
    equality groups :func:`minhash_lsh_pairs` collapses on — the
    companion input to :func:`expand_collapsed_pairs`."""
    members = _minhash_members(signatures, id_col, n_bands, rows_per_band)
    reps = members.groupBy("__sig").agg(F.min("m_id").alias("rep_id"))
    return members.join(reps, "__sig").select("m_id", "rep_id")


def simhash_groups(sig_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Membership table ``(m_id, rep_id)`` of the simhash-equality
    groups :func:`simhash_pairs` collapses on."""
    members = sig_df.select(F.col(id_col).alias("m_id"), F.col("simhash"))
    reps = members.groupBy("simhash").agg(F.min("m_id").alias("rep_id"))
    return members.join(reps, "simhash").select("m_id", "rep_id")


def minhash_lsh_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    n_bands: int = N_BANDS,
    rows_per_band: int = ROWS_PER_BAND,
    collapse_exact: bool | None = None,
    expand: bool = True,
) -> DataFrame:
    """Banded LSH: equal band-signature → candidate pair.

    Bands are unioned into one (id, band, sig) table and self-joined on
    (band, sig) — a plain shuffled equi-join, so skewed buckets are
    handled by AQE skew-join splitting at scale.

    ``collapse_exact``: byte-identical documents carry identical
    signatures, collide in EVERY band, and pair quadratically inside
    each bucket. Identical full signatures collapse to one
    representative before the banded join; candidate pairs expand back
    via equi-joins (cross-group pairs inherit the rep pair's bucket
    collision; within-group pairs always collide). Output identical
    either way — the banded join just runs on distinct signatures.
    ``None`` (default) probes the signature duplication factor and
    collapses only when it pays (see ``_auto_collapse``).

    ``expand=False`` returns the COLLAPSED pair form instead of member
    pairs: one row per representative pair ``(rep_a, rep_b, c_a, c_b)``
    where ``c_*`` are the signature-group sizes — cross-group rows
    (``rep_a < rep_b``) stand for ``c_a·c_b`` member pairs, within-group
    rows (``rep_a == rep_b``, groups of ≥2) for ``C(c_a, 2)``. On a
    duplicate-heavy corpus the expanded pair set is quadratic in the
    duplication factor while the collapsed form is near-linear in
    distinct texts (the x98 lesson, SURVEY §6) — at 100 TB this is the
    form a consumer should join against, exploding only where needed
    (``expand_collapsed_pairs`` reconstructs the member pairs exactly;
    equivalence is test-asserted). ``expand=False`` implies the
    collapse path unconditionally — combining it with an explicit
    ``collapse_exact=False`` raises ``ValueError``.
    """
    _check_expand_collapse(expand, collapse_exact)
    if not expand:
        signatures = _pin_lazy(signatures)
        members = _minhash_members(signatures, id_col, n_bands, rows_per_band)
        groups = members.groupBy("__sig").agg(
            F.min("m_id").alias("rep_id"), F.count("*").alias("c")
        )
        rep_sigs = signatures.join(
            groups.select(F.col("rep_id").alias(id_col)), id_col, "left_semi"
        )
        rep_pairs = _minhash_lsh_pairs_core(
            rep_sigs, id_col, n_bands, rows_per_band
        )
        return _collapsed_pair_form(rep_pairs, groups)
    checkpointed = False
    if collapse_exact is None:
        # Materialize the signature table once (k int64s per doc — tiny
        # next to the corpus at any scale) so the probe AND both sides of
        # the banded self-join read the materialized rows. Probing the raw
        # lineage re-ran the whole shingle+minhash subtree just to pick a
        # plan (~2x the query at sf1); a persist() instead of a
        # checkpoint forces the self-join through an InMemoryRelation
        # that defeats the reused-exchange plan (measured 3x at sf0.1).
        # eager=False: the probe action below does the materializing, so
        # merely BUILDING this plan (tests, plan dumps) runs no job.
        # Lifetime: checkpoint blocks live until the session ends or the
        # handle is unpersisted — long-lived sessions looping over
        # corpora should drop spent handles (see bench.py run_one).
        signatures = _pin_lazy(signatures)
        checkpointed = True
        collapse_exact = _auto_collapse(
            signatures, _minhash_sig_key(n_bands, rows_per_band)
        )
    if not collapse_exact:
        return _minhash_lsh_pairs_core(signatures, id_col, n_bands, rows_per_band)
    # The collapse-expand plan references the signature table from several
    # branches (members, the rep semi-join, the banded join) — make the
    # shingle+signature subtree compute once. Only persist when the
    # caller forced this path on raw lineage: re-wrapping the checkpoint
    # in an InMemoryRelation would both duplicate storage and reintroduce
    # the reused-exchange-defeating cache node.
    if not checkpointed:
        signatures = eager_persist(signatures)
    members = _minhash_members(signatures, id_col, n_bands, rows_per_band)
    reps = members.groupBy("__sig").agg(F.min("m_id").alias("rep_id"))
    rep_sigs = signatures.join(
        reps.select(F.col("rep_id").alias(id_col)), id_col, "left_semi"
    )
    rep_pairs = _minhash_lsh_pairs_core(rep_sigs, id_col, n_bands, rows_per_band)
    sig_of = reps.select("rep_id", "__sig")
    cross = (
        rep_pairs.join(
            sig_of.select(F.col("rep_id").alias("doc_a"), F.col("__sig").alias("sig_a")),
            "doc_a",
        )
        .join(
            sig_of.select(F.col("rep_id").alias("doc_b"), F.col("__sig").alias("sig_b")),
            "doc_b",
        )
        .join(members.select(F.col("m_id").alias("id_a"), F.col("__sig").alias("sig_a")), "sig_a")
        .join(members.select(F.col("m_id").alias("id_b"), F.col("__sig").alias("sig_b")), "sig_b")
        .select(
            F.least("id_a", "id_b").alias("doc_a"),
            F.greatest("id_a", "id_b").alias("doc_b"),
        )
    )
    m1, m2 = members.alias("m1"), members.alias("m2")
    within = (
        m1.join(
            m2,
            (F.col("m1.__sig") == F.col("m2.__sig"))
            & (F.col("m1.m_id") < F.col("m2.m_id")),
        )
        .select(F.col("m1.m_id").alias("doc_a"), F.col("m2.m_id").alias("doc_b"))
    )
    return cross.unionByName(within)


def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 32
) -> DataFrame:
    """32-bit SimHash: per-token md5-derived hash; each bit position sums
    +1/-1 over tokens (with multiplicity); sign → bit.

    Explode → groupBy(id) with 32 conditional sums — all map-side
    partial-agg, one shuffle.
    """
    toks = df.select(F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("tok"))
    h = F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("bigint")
    sums = [
        F.sum(
            F.when(F.shiftright(h, i).bitwiseAND(1) == 1, 1).otherwise(-1)
        ).alias(f"s{i}")
        for i in range(bits)
    ]
    per_bit = toks.groupBy(id_col).agg(*sums)
    sig = None
    for i in range(bits):
        bit = F.when(F.col(f"s{i}") > 0, F.lit(2**i)).otherwise(F.lit(0))
        sig = bit if sig is None else sig + bit
    return per_bit.select(F.col(id_col), sig.cast("bigint").alias("simhash"))


def _simhash_pairs_core(
    sig_df: DataFrame,
    id_col: str,
    max_hamming: int,
    bits: int,
    n_chunks: int,
) -> DataFrame:
    """Chunk-banded hamming join over the given (id, simhash) rows.

    Bands come from a single explode over an array of per-chunk structs —
    ONE scan of the signature rows. The previous ``n_chunks``-way union
    re-evaluated the upstream explode+groupBy signature subtree once per
    branch (same lesson as _minhash_lsh_pairs_core)."""
    chunk_bits = bits // n_chunks
    mask = (1 << chunk_bits) - 1
    chunk_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                (F.shiftright("simhash", i * chunk_bits).bitwiseAND(mask)).alias(
                    "chunk"
                ),
            )
            for i in range(n_chunks)
        ]
    )
    bands = sig_df.select(
        F.col(id_col), F.col("simhash"), F.explode(chunk_structs).alias("__c")
    ).select(
        F.col(id_col),
        F.col("simhash"),
        F.col("__c.band").alias("band"),
        F.col("__c.chunk").alias("chunk"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    pairs = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.chunk") == F.col("b.chunk"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(
        F.col(f"a.{id_col}").alias("doc_a"),
        F.col(f"b.{id_col}").alias("doc_b"),
        F.col("a.simhash").alias("sh_a"),
        F.col("b.simhash").alias("sh_b"),
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    # hamming is a pure function of the pair row: filtering BEFORE the
    # distinct shrinks the dedup shuffle from every candidate to only
    # the qualifying pairs
    return (
        pairs.filter(hamming <= max_hamming)
        .distinct()
        .select("doc_a", "doc_b", hamming.cast("bigint").alias("hamming"))
    )


def simhash_pairs(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bits: int = 32,
    n_chunks: int = 4,
    collapse_exact: bool | None = None,
    expand: bool = True,
) -> DataFrame:
    """Near-dup pairs: hamming(simhash) <= k via chunk banding.

    Pigeonhole: distance <= n_chunks-1 implies at least one equal chunk.
    Chunks are unpivoted into one (id, band, chunk, simhash) table and
    self-joined on (band, chunk) — ONE shuffled equi-join whose two
    sides share a reused exchange, instead of n_chunks separate joins
    each recomputing the signature. The exact hamming check then
    filters candidates. No cross join at any scale; skewed chunk values
    are split by AQE like any equi-join.

    The pigeonhole guarantee requires ``max_hamming <= n_chunks - 1``:
    with k differing bits spread across n_chunks chunks, some chunk is
    untouched only if k < n_chunks. A larger ``max_hamming`` would
    silently miss qualifying pairs, so it raises instead.

    ``collapse_exact`` (default on): duplicate-heavy corpora put many
    documents on the *same* signature, and every such group pairs
    quadratically inside one band bucket. Identical signatures collapse
    to one representative before the banded join (work scales 1/d² in
    the duplication factor); pairs expand back through two equi-joins —
    cross-group pairs inherit the rep pair's hamming, within-group
    pairs are hamming 0. Output is identical either way (equivalence
    asserted in tests; measured 3× at a 10-fold-replicated sf1).
    ``None`` (default) probes the signature duplication factor and
    collapses only when it pays (see ``_auto_collapse``).

    ``expand=False`` returns the COLLAPSED pair form ``(rep_a, rep_b,
    c_a, c_b, hamming)`` — see :func:`minhash_lsh_pairs` for the
    row conventions and the 100 TB rationale; within-group rows carry
    hamming 0 (identical signatures). ``expand=False`` implies the
    collapse path unconditionally — combining it with an explicit
    ``collapse_exact=False`` raises ``ValueError``.
    """
    if max_hamming > n_chunks - 1:
        raise ValueError(
            f"pigeonhole banding is complete only for max_hamming <= "
            f"n_chunks - 1; got max_hamming={max_hamming}, n_chunks={n_chunks} "
            f"— raise n_chunks to at least max_hamming + 1"
        )
    _check_expand_collapse(expand, collapse_exact)
    if not expand:
        sig_df = _pin_lazy(sig_df)
        members = sig_df.select(F.col(id_col).alias("m_id"), F.col("simhash"))
        groups = members.groupBy("simhash").agg(
            F.min("m_id").alias("rep_id"), F.count("*").alias("c")
        )
        rep_sigs = groups.select(F.col("rep_id").alias(id_col), "simhash")
        rep_pairs = _simhash_pairs_core(
            rep_sigs, id_col, max_hamming, bits, n_chunks
        )
        return _collapsed_pair_form(
            rep_pairs,
            groups,
            extra_cols=("hamming",),
            within_extra={"hamming": F.lit(0).cast("bigint")},
        )
    if collapse_exact is None:
        # materialize once so the probe and both join sides read the tiny
        # (id, simhash) rows instead of re-running the explode+groupBy
        # signature subtree; eager=False — the probe action materializes
        # (see minhash_lsh_pairs for lifetime notes)
        sig_df = _pin_lazy(sig_df)
        collapse_exact = _auto_collapse(sig_df, F.col("simhash"))
    if not collapse_exact:
        return _simhash_pairs_core(sig_df, id_col, max_hamming, bits, n_chunks)
    members = sig_df.select(F.col(id_col).alias("m_id"), F.col("simhash"))
    reps = members.groupBy("simhash").agg(F.min("m_id").alias("rep_id"))
    rep_sigs = reps.select(F.col("rep_id").alias(id_col), "simhash")
    rep_pairs = _simhash_pairs_core(rep_sigs, id_col, max_hamming, bits, n_chunks)
    sig_of = reps.select("rep_id", "simhash")
    cross = (
        rep_pairs.join(
            sig_of.select(
                F.col("rep_id").alias("doc_a"), F.col("simhash").alias("sig_a")
            ),
            "doc_a",
        )
        .join(
            sig_of.select(
                F.col("rep_id").alias("doc_b"), F.col("simhash").alias("sig_b")
            ),
            "doc_b",
        )
        .join(
            members.select(F.col("m_id").alias("id_a"), F.col("simhash").alias("sig_a")),
            "sig_a",
        )
        .join(
            members.select(F.col("m_id").alias("id_b"), F.col("simhash").alias("sig_b")),
            "sig_b",
        )
        .select(
            F.least("id_a", "id_b").alias("doc_a"),
            F.greatest("id_a", "id_b").alias("doc_b"),
            F.col("hamming"),
        )
    )
    m1, m2 = members.alias("m1"), members.alias("m2")
    within = (
        m1.join(
            m2,
            (F.col("m1.simhash") == F.col("m2.simhash"))
            & (F.col("m1.m_id") < F.col("m2.m_id")),
        )
        .select(
            F.col("m1.m_id").alias("doc_a"),
            F.col("m2.m_id").alias("doc_b"),
            F.lit(0).cast("bigint").alias("hamming"),
        )
    )
    return cross.unionByName(within)


#: default hot-shingle document-frequency cap: a shingle in more than
#: this many documents is a stopword n-gram whose candidate pairs are
#: quadratic in its df — at 100 TB a single hot shingle would otherwise
#: dominate the self-join. 10k² = 10⁸ candidate rows is the most one
#: capped shingle can contribute; AQE splits that comfortably.
JACCARD_DF_CAP = 10_000


def _pair_stats_core(
    df: DataFrame,
    n: int,
    text_col: str,
    id_col: str,
    df_cap: int | None,
    persist: bool = True,
    shingled: DataFrame | None = None,
    hot_set: DataFrame | None = None,
    hashed: DataFrame | None = None,
) -> DataFrame:
    """Candidate-pair statistics (doc_a, doc_b, common, n_a, n_b) from
    the inverted-index shingle join — the shared core every set-overlap
    metric (Jaccard, containment) projects from.

    ``shingled``: optional precomputed ``shingle(df)`` long table
    (e.g. the memoized ``corpus_shingles`` working set) — must be the
    shingles OF ``df`` with the same ``n``/``text_col``/``id_col``;
    the caller owns that contract.

    ``hot_set``: optional precomputed single-column (``sh_h``) exclusion
    set replacing the internal per-``df`` document-frequency cap — the
    collapse-exact rewrite passes the FULL-CORPUS-weighted hot set here
    so the cap regime is identical whether or not the corpus was
    collapsed to representatives first (a cap computed on representative
    df would keep shingles the uncollapsed join drops).

    ``hashed``: optional precomputed, already-persisted (id, sh_h)
    table — the collapse rewrite shares ONE hashed materialization
    across the hot-set weighting, the within-group counts and this
    core, instead of re-running the md5 pass per consumer (the r6
    parity fix initially persisted the RAW shingle strings, so every
    cached read re-hashed ~10M rows — x77 measured 1.9× at sf1)."""
    # join on the 60-bit shingle hash, not the string: 8-byte shuffle
    # keys; both engines hash identically so any collision is shared
    if hashed is not None:
        sh = hashed
    else:
        base = (
            shingled
            if shingled is not None
            else shingle(df, n=n, text_col=text_col, id_col=id_col)
        )
        sh = base.select(
            F.col(id_col), token_hash60(F.col("shingle")).alias("sh_h")
        )
        if persist:
            # the shingle table feeds three consumers (hot-set agg + both
            # self-join sides): materialize the tokenize→explode→hash pass
            # once instead of three times (4× on the sf1 core). One
            # spillable disk write beats three recomputes at any scale.
            sh = eager_persist(sh)
    sh_uncapped = sh
    if hot_set is not None:
        sh = sh.join(hot_set, "sh_h", "left_anti")
    elif df_cap is not None:
        # the hot set is tiny (few distinct stopword shingles), so the
        # anti-join broadcasts; cost is one partial-agg pass over sh
        hot = (
            sh.groupBy("sh_h")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") > df_cap)
            .select("sh_h")
        )
        sh = sh.join(hot, "sh_h", "left_anti")
    if hashed is not None or shingled is not None or persist:
        # |A| per doc from the (persisted, UNCAPPED — |A| stays exact)
        # shingle table: a map-side-combined count over cached rows
        # beats re-running the interpreted HOF gram build over raw
        # text. Zero-shingle docs are absent here, but they are absent
        # from `common` too (sharing nothing), so the inner joins below
        # see identical semantics.
        sizes = sh_uncapped.groupBy(id_col).agg(
            F.count(F.lit(1)).alias("n_sh")
        )
    else:
        # unpersisted path: sh already feeds three consumers — a fourth
        # would recompute the shingle pass again; the narrow
        # distinct-gram-array length is cheaper (no explode, no shuffle)
        toked, grams = _gram_array(df, n, text_col)
        sizes = toked.select(
            F.col(id_col), F.size(F.array_distinct(grams)).alias("n_sh")
        )
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.sh_h") == F.col("b.sh_h"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("n_b"))
    return common.join(sa, "doc_a").join(sb, "doc_b")


def _jaccard_pairs_core(
    df: DataFrame,
    n: int,
    threshold: float,
    text_col: str,
    id_col: str,
    df_cap: int | None,
    persist: bool = True,
    shingled: DataFrame | None = None,
    hot_set: DataFrame | None = None,
    hashed: DataFrame | None = None,
) -> DataFrame:
    """The inverted-index Jaccard join: ``_pair_stats_core`` with the
    symmetric-resemblance projection and threshold filter."""
    stats = _pair_stats_core(
        df, n, text_col, id_col, df_cap, persist=persist, shingled=shingled,
        hot_set=hot_set, hashed=hashed,
    )
    jac = F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common"))
    return (
        stats.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.6,
    text_col: str = "text",
    id_col: str = "doc_id",
    df_cap: int | None = JACCARD_DF_CAP,
    collapse_exact: bool | None = None,
    shingled: DataFrame | None = None,
    expand: bool = True,
) -> DataFrame:
    """Asymmetric near-dup pairs by shingle-set CONTAINMENT,
    max(|A∩B|/|A|, |A∩B|/|B|) — the quote/boilerplate-inclusion screen
    symmetric Jaccard misses: a 50-shingle doc embedded verbatim in a
    5000-shingle doc has containment 1.0 but Jaccard ≈ 0.01, so no
    Jaccard threshold that keeps real pairs ever surfaces it
    (Broder 1997's two resemblance measures; the same distinction CCNet
    draws between dup and quote removal).

    Same inverted-index machinery as ``ngram_jaccard_pairs`` — only
    pairs sharing ≥1 surviving shingle are ever materialized, hot
    shingles df-capped out of the intersection join only (|A|/|B| stay
    exact, so reported containment is a lower bound) — and the same
    8-byte hash join keys, the same auto-probed collapse-exact rewrite
    on duplicate-heavy corpora (containment is a pure function of
    (|A∩B|, |A|, |B|), so it expands across identical-text members
    exactly like Jaccard; within-group pairs score from the group's
    post-cap shingle intersection — 1.0 exactly when none of the
    group's shingles are df-capped out, the naive capped join's answer
    otherwise, see ``_collapse_expand_pairs``). At 100 TB the candidate set IS
    the Jaccard join's candidate set; only the final projection
    differs, so scale behavior is identical. Output: (doc_a, doc_b,
    common, containment, jaccard) — jaccard carried so consumers can
    see exactly which pairs only containment finds. ``expand=False``
    returns the collapsed form (rep_a, rep_b, c_a, c_b, common,
    containment, jaccard) — see :func:`ngram_jaccard_pairs`.
    """

    def core(
        d: DataFrame,
        sh: DataFrame | None,
        hot: DataFrame | None = None,
        hashed: DataFrame | None = None,
    ) -> DataFrame:
        stats = _pair_stats_core(
            d, n, text_col, id_col, df_cap, persist=True, shingled=sh,
            hot_set=hot, hashed=hashed,
        )
        cont = F.greatest(
            F.col("common") / F.col("n_a"), F.col("common") / F.col("n_b")
        )
        jac = F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common"))
        return (
            stats.withColumn("containment", cont)
            .filter(F.col("containment") >= threshold)
            .withColumn("jaccard", jac)
            .select("doc_a", "doc_b", "common", "containment", "jaccard")
        )

    _check_expand_collapse(expand, collapse_exact)
    if not expand:
        collapse_exact = True
    elif collapse_exact is None:
        collapse_exact = _auto_collapse(df, F.md5(F.col(text_col)))
    if not collapse_exact:
        return core(df, shingled)
    return _collapse_expand_pairs(
        df,
        n,
        text_col,
        id_col,
        True,
        shingled,
        rep_pairs_fn=lambda d, h, hot: core(d, None, hot, hashed=h),
        value_cols=("common", "containment", "jaccard"),
        within_values=lambda eff, nsh: [
            eff.alias("common"),
            (eff / nsh).alias("containment"),
            (eff / (nsh + nsh - eff)).alias("jaccard"),
        ],
        within_filter=lambda eff, nsh: (eff / nsh) >= F.lit(threshold),
        df_cap=df_cap,
        expand=expand,
    )


def source_overlap(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    shingled: DataFrame | None = None,
) -> DataFrame:
    """Corpus-level overlap matrix: pairwise Jaccard of the DISTINCT
    shingle sets of each source — the crawl-snapshot / supplier-feed
    audit run before mixing corpora (two sources with high overlap are
    re-crawls of each other; deduplicating within a mixture without
    knowing this reads as mysterious yield loss).

    One shingle pass → distinct (source, sh_h) → self-join on the
    60-bit hash. The join fan-out per shingle is bounded by
    |sources|² regardless of document frequency — a shingle present in
    every source contributes at most sources·(sources-1)/2 rows — so
    unlike the document-pair join no df cap is needed; output is
    |sources|² rows, driver-safe at any corpus size. The group label is
    recovered by joining the (id → group) projection onto the shingle
    table; at 100 TB carry ``group_col`` through the shingle build
    instead (one wide column through one explode) to skip that join.
    """
    base = (
        shingled
        if shingled is not None
        else shingle(df, n=n, text_col=text_col, id_col=id_col)
    )
    labeled = base.join(df.select(id_col, group_col), id_col)
    ss = labeled.select(
        F.col(group_col), token_hash60(F.col("shingle")).alias("sh_h")
    ).distinct()
    # feeds the size agg + both self-join sides: one materialization
    ss = eager_persist(ss)
    sizes = ss.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = ss.alias("a"), ss.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.sh_h") == F.col("b.sh_h"))
            & (F.col(f"a.{group_col}") < F.col(f"b.{group_col}")),
        )
        .groupBy(
            F.col(f"a.{group_col}").alias("source_a"),
            F.col(f"b.{group_col}").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(
        F.col(group_col).alias("source_a"), F.col("n_sh").alias("n_a")
    )
    sb = sizes.select(
        F.col(group_col).alias("source_b"), F.col("n_sh").alias("n_b")
    )
    jac = F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common"))
    return (
        common.join(sa, "source_a")
        .join(sb, "source_b")
        .select("source_a", "source_b", "common", jac.alias("jaccard"))
    )


#: duplication factor (rows / distinct keys) above which the
#: collapse-expand rewrite pays for its extra joins. Below it the
#: rewrite is pure overhead: measured 2× slower on a duplicate-free
#: corpus at sf0.1, 10× faster on a 10-fold-replicated sf1.
COLLAPSE_DUP_FACTOR = 1.05


def _auto_collapse(df: DataFrame, key: Column) -> bool:
    """Decide the collapse-exact rewrite from the corpus itself: one
    single-pass count + HLL distinct probe. approx_count_distinct
    instead of exact countDistinct on purpose — the exact form shuffles
    every distinct key between its two aggregate stages, which made the
    probe cost as much as the pair join it was sizing (x07 measured:
    0.76 s probe vs 0.78 s for the entire exact-blocked plan at sf0.1);
    the HLL form folds to O(registers) state map-side (measured 0.29 s
    at rsd=0.03; tighter rsd flips HLL++ into its slower high-precision
    mode and loses the win). The decision is a performance heuristic
    over a semantics-preserving rewrite — output is identical whichever
    path is picked — so the estimate error can never change a result,
    only (rarely, near the 5% duplication threshold) the plan."""
    return _auto_collapse_n(df, key)[0]


def _auto_collapse_n(df: DataFrame, key: Column) -> tuple[bool, int]:
    """``(_auto_collapse decision, row count)`` — the probe aggregates
    ``count(1)`` alongside the HLL anyway, so callers that also need
    the cardinality (cosine_pairs' LSH-vs-blocked path pick) reuse it
    instead of paying a second full pass (r9 review finding)."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.approx_count_distinct(key, rsd=0.03).alias("nd"),
    ).first()
    n = int(row["n"]) if row else 0
    return (
        bool(row and row["nd"] and n >= COLLAPSE_DUP_FACTOR * row["nd"]),
        n,
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.2,
    text_col: str = "text",
    id_col: str = "doc_id",
    df_cap: int | None = JACCARD_DF_CAP,
    collapse_exact: bool | None = None,
    persist: bool = True,
    shingled: DataFrame | None = None,
    expand: bool = True,
) -> DataFrame:
    """Exact n-gram Jaccard over an inverted-index join.

    |A∩B| comes from the shingle self-join (only pairs sharing >=1 shingle
    are ever materialized); |A∪B| = |A|+|B|-|A∩B|. At 100 TB, hot shingles
    dominate the join: a shingle appearing in d documents contributes
    d(d-1)/2 candidate rows, so one stopword n-gram ("one of the") in 10⁷
    docs yields ~5×10¹³ pairs — a quadratic blow-up no shuffle survives.
    ``df_cap`` drops shingles whose document frequency exceeds the cap
    *from the intersection join only*; |A| and |B| stay exact, so the
    reported jaccard is a lower bound that can only lose pairs whose
    similarity rests on stopword shingles. Pass ``df_cap=None`` for the
    exact (cap-free) semantics on bounded inputs.

    ``collapse_exact`` (default on) is a semantics-preserving rewrite
    for duplicate-heavy corpora — which near-dup dedup corpora *are*:
    byte-identical texts are collapsed to one representative before the
    shingle join, and result pairs expand back to all members via two
    equi-joins (identical texts ⇒ identical shingle sets ⇒ identical
    jaccard; within-group pairs score the naive capped join's value —
    exactly 1.0 unless a df_cap removes some of the group's shingles —
    and zero-shingle texts are excluded, which the naive join also
    never pairs; the df_cap hot set is computed on full-corpus df via
    group-size weighting so both regimes agree, see
    ``_collapse_expand_pairs``). The
    shingle self-join then runs on distinct texts only: a corpus with
    duplication factor d does 1/d² of the join work (measured 10× at a
    10-fold-replicated sf1). Output is bitwise identical either way.

    ``collapse_exact=None`` (default) probes the corpus duplication
    factor with one cheap aggregate and collapses only when it pays —
    on a duplicate-free corpus the rewrite's expansion joins are pure
    overhead (2× at sf0.1).

    ``shingled``: optional precomputed/persisted ``shingle(df)`` table
    (same ``n``/``text_col``/``id_col`` — caller's contract). Used by
    callers that already hold the shingle working set (x59's truth arm
    shares it with the LSH pred arm). Composes with the collapse
    rewrite: the representative subset is carved out of the shared
    table by one semi-join (a precomputed table must never bypass the
    collapse — the bypass ran the pair join on the duplicated corpus,
    d² the work, 9.7 s → 118 s on the 10×-replicated sf1).

    ``expand=False`` returns the COLLAPSED pair form ``(rep_a, rep_b,
    c_a, c_b, jaccard)`` — see :func:`minhash_lsh_pairs` for the row
    conventions; membership for :func:`expand_collapsed_pairs` comes
    from :func:`text_fingerprint_groups`. The collapse machinery always
    runs in this mode (its group tables ARE the output's c columns).
    """
    _check_expand_collapse(expand, collapse_exact)
    if not expand:
        collapse_exact = True
    elif collapse_exact is None:
        collapse_exact = _auto_collapse(df, F.md5(F.col(text_col)))
    if not collapse_exact:
        return _jaccard_pairs_core(
            df, n, threshold, text_col, id_col, df_cap, persist,
            shingled=shingled,
        )
    return _collapse_expand_pairs(
        df,
        n,
        text_col,
        id_col,
        persist,
        shingled,
        rep_pairs_fn=lambda rep_docs, rep_hashed, hot: _jaccard_pairs_core(
            rep_docs, n, threshold, text_col, id_col, df_cap, persist,
            hot_set=hot, hashed=rep_hashed,
        ),
        value_cols=("jaccard",),
        within_values=lambda eff, nsh: [
            (eff / (nsh + nsh - eff)).alias("jaccard")
        ],
        within_filter=lambda eff, nsh: (eff / (nsh + nsh - eff))
        >= F.lit(threshold),
        df_cap=df_cap,
        expand=expand,
    )


def text_fingerprint_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Membership table ``(m_id, rep_id)`` of the md5(text) equality
    groups the shingle-set pair metrics collapse on — the companion
    input to :func:`expand_collapsed_pairs` for
    :func:`ngram_jaccard_pairs` / :func:`containment_pairs`
    ``expand=False`` output."""
    members = df.select(
        F.col(id_col).alias("m_id"), F.md5(F.col(text_col)).alias("fp")
    )
    reps = members.groupBy("fp").agg(F.min("m_id").alias("rep_id"))
    return members.join(reps, "fp").select("m_id", "rep_id")


def _collapse_expand_pairs(
    df: DataFrame,
    n: int,
    text_col: str,
    id_col: str,
    persist: bool,
    shingled: DataFrame | None,
    rep_pairs_fn,
    value_cols: tuple[str, ...],
    within_values,
    within_filter,
    df_cap: int | None,
    expand: bool = True,
) -> DataFrame:
    """Collapse-to-representatives / expand-to-members rewrite shared by
    the shingle-set pair metrics (Jaccard, containment).

    Byte-identical texts have identical shingle sets, so any pure
    function of (|A∩B|, |A|, |B|) is constant across member pairs of
    the same representative pair — the pair join runs on distinct texts
    only (1/d² the work at duplication factor d) and results expand
    back via two fp equi-joins.

    ``df_cap`` regime parity: the hot-shingle exclusion set is computed
    on FULL-CORPUS document frequency — each representative's shingle
    occurrences weighted by its group size (identical texts have
    identical shingle sets, so corpus df of a shingle is exactly the
    sum of the group sizes that contain it) — never on representative
    df. A rep-df cap would diverge from the uncollapsed join on any
    corpus where duplication pushes a shingle's corpus df over the cap
    while its rep df stays under (round-5 advice, dedup.py:649): the
    rewrite must stay semantics-preserving in BOTH regimes so engine
    and oracle agree whichever path ``_auto_collapse`` picks.

    ``rep_pairs_fn(rep_docs, rep_hashed, hot_set)`` computes
    (doc_a, doc_b, *value_cols) on representatives under that shared
    exclusion set, where ``rep_hashed`` is the persisted (id, sh_h)
    working set (None only when no df_cap and no shared table exist —
    the core then builds its own). ``within_values(eff, nsh)`` builds the value columns
    for identical-text pairs from the group's shingle count ``nsh`` and
    its post-cap effective intersection ``eff = nsh - |hot shingles|``
    (the naive capped join scores identical docs common=eff with exact
    sizes, NOT 1.0); ``within_filter(eff, nsh)`` is the metric's
    threshold test over those columns. Groups whose shingles are all
    hot (eff = 0) are excluded — the naive capped join materializes no
    pair for them; zero-shingle groups likewise.

    ``expand=False`` returns the COLLAPSED pair form ``(rep_a, rep_b,
    c_a, c_b, *value_cols)`` instead of fanning out to members — same
    row conventions as :func:`minhash_lsh_pairs`; membership for
    :func:`expand_collapsed_pairs` comes from
    :func:`text_fingerprint_groups`."""
    members = df.select(
        F.col(id_col).alias("m_id"), F.md5(F.col(text_col)).alias("fp")
    )
    reps = members.groupBy("fp").agg(F.min("m_id").alias("rep_id"))
    rep_docs = df.join(
        reps.select(F.col("rep_id").alias(id_col), "fp"), id_col
    )
    if persist:
        # the collapsed working set feeds the shingle join, the doc-size
        # projection AND the within-group fan-out — without pinning it,
        # every consumer re-runs the full-corpus md5→groupBy→join
        # lineage (3× the work on the sf1 core measured end-to-end)
        rep_docs = eager_persist(rep_docs)
    # restrict a shared full-corpus shingle table to the reps (one
    # semi-join beats re-running the interpreted HOF gram build even
    # over 1/d of the docs), or build the rep shingles fresh when a
    # df_cap needs them up-front — then materialize the HASHED
    # projection exactly once. The hashed (id, sh_h) table is what
    # every consumer (weighted hot-set agg, within-group counts, both
    # pair-core self-join sides, the exact |A| sizes) actually reads;
    # persisting the raw strings instead made each cached read re-run
    # the md5 pass (x77 1.9× at sf1).
    rep_hashed = None
    if shingled is not None or df_cap is not None:
        rep_shingled = (
            shingled.join(
                reps.select(F.col("rep_id").alias(id_col)),
                id_col,
                "left_semi",
            )
            if shingled is not None
            else shingle(rep_docs, n=n, text_col=text_col, id_col=id_col)
        )
        rep_hashed = rep_shingled.select(
            F.col(id_col), token_hash60(F.col("shingle")).alias("sh_h")
        )
        if persist:
            rep_hashed = eager_persist(rep_hashed)
    # per-fingerprint group sizes: ONE aggregation shared by the df_cap
    # hot-set weighting and the collapsed form's c_a/c_b columns
    gcnt = (
        members.groupBy("fp").agg(F.count(F.lit(1)).alias("__g"))
        if (df_cap is not None or not expand)
        else None
    )
    hot = None
    if df_cap is not None:
        # full-corpus df = Σ group sizes over groups containing the
        # shingle (rep shingle sets are distinct per doc). The hot set
        # is tiny (stopword shingles) and feeds two consumers; the
        # (rep_id → group size) weight table is |reps| rows, so the
        # join against the long hashed table broadcasts under AQE.
        weights = reps.select(F.col("rep_id").alias(id_col), "fp").join(
            gcnt, "fp"
        )
        hot = (
            rep_hashed.join(weights, id_col)
            .groupBy("sh_h")
            .agg(F.sum("__g").alias("__df"))
            .filter(F.col("__df") > df_cap)
            .select("sh_h")
        )
        if persist:
            hot = eager_persist(hot)
    rep_pairs = rep_pairs_fn(rep_docs, rep_hashed, hot)
    # within-group pairs: identical texts — per-group values from the
    # group's shingle count and (under a df_cap) its hot-shingle count
    if rep_hashed is not None:
        # count the persisted hashed rows (shingle() emits distinct
        # grams, so count == |set|; zero-shingle reps have no rows —
        # the >0 exclusion is implicit) instead of re-running the
        # interpreted HOF gram build over every representative
        marked = rep_hashed
        if hot is not None:
            marked = marked.join(
                hot.select("sh_h", F.lit(1).alias("__ish")), "sh_h", "left"
            )
        else:
            marked = marked.withColumn("__ish", F.lit(None).cast("int"))
        gsz = (
            marked.groupBy(id_col)
            .agg(
                F.count(F.lit(1)).alias("__nsh"),
                F.sum(F.coalesce(F.col("__ish"), F.lit(0))).alias("__nhot"),
            )
            .join(reps.select(F.col("rep_id").alias(id_col), "fp"), id_col)
            .select(F.col("fp").alias("__wfp"), "__nsh", "__nhot")
        )
    else:
        toked, grams = _gram_array(rep_docs, n, text_col)
        gsz = toked.select(
            F.col("fp").alias("__wfp"),
            F.size(F.array_distinct(grams)).cast("bigint").alias("__nsh"),
            F.lit(0).cast("bigint").alias("__nhot"),
        ).filter(F.col("__nsh") > 0)
    # eff = |A∩B| the naive capped join would compute for identical
    # docs; eff = 0 groups share nothing post-cap → no pair there
    eff = (F.col("__nsh") - F.col("__nhot")).cast("bigint")
    nsh = F.col("__nsh").cast("bigint")
    if not expand:
        sizes = reps.join(gcnt, "fp")
        sa = sizes.select(
            F.col("rep_id").alias("doc_a"), F.col("__g").alias("c_a")
        )
        sb = sizes.select(
            F.col("rep_id").alias("doc_b"), F.col("__g").alias("c_b")
        )
        cross_c = (
            rep_pairs.join(sa, "doc_a")
            .join(sb, "doc_b")
            .select(
                F.col("doc_a").alias("rep_a"),
                F.col("doc_b").alias("rep_b"),
                F.col("c_a").cast("bigint").alias("c_a"),
                F.col("c_b").cast("bigint").alias("c_b"),
                *[F.col(c) for c in value_cols],
            )
        )
        within_c = (
            gsz.join(sizes, F.col("__wfp") == F.col("fp"))
            .filter((F.col("__g") >= 2) & (eff > 0) & within_filter(eff, nsh))
            .select(
                F.col("rep_id").alias("rep_a"),
                F.col("rep_id").alias("rep_b"),
                F.col("__g").cast("bigint").alias("c_a"),
                F.col("__g").cast("bigint").alias("c_b"),
                *within_values(eff, nsh),
            )
        )
        return cross_c.unionByName(within_c)
    # attach the two groups' fingerprints, then fan out to members
    fp_of = reps.select(F.col("rep_id"), F.col("fp"))
    cross = (
        rep_pairs.join(
            fp_of.select(F.col("rep_id").alias("doc_a"), F.col("fp").alias("fp_a")),
            "doc_a",
        )
        .join(
            fp_of.select(F.col("rep_id").alias("doc_b"), F.col("fp").alias("fp_b")),
            "doc_b",
        )
        .join(members.select(F.col("m_id").alias("id_a"), F.col("fp").alias("fp_a")), "fp_a")
        .join(members.select(F.col("m_id").alias("id_b"), F.col("fp").alias("fp_b")), "fp_b")
        .select(
            F.least("id_a", "id_b").alias("doc_a"),
            F.greatest("id_a", "id_b").alias("doc_b"),
            *[F.col(c) for c in value_cols],
        )
    )
    m1, m2 = members.alias("m1"), members.alias("m2")
    within = (
        m1.join(
            m2,
            (F.col("m1.fp") == F.col("m2.fp"))
            & (F.col("m1.m_id") < F.col("m2.m_id")),
        )
        .join(gsz, F.col("m1.fp") == F.col("__wfp"))
        .filter((eff > 0) & within_filter(eff, nsh))
        .select(
            F.col("m1.m_id").alias("doc_a"),
            F.col("m2.m_id").alias("doc_b"),
            *within_values(eff, nsh),
        )
    )
    return cross.unionByName(within)


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    flag_threshold: float = 0.5,
) -> DataFrame:
    """Benchmark decontamination: per-document n-gram overlap against a
    held-out benchmark corpus — the step that keeps eval questions out
    of a training mix. Returns one row per document:
    ``(id, n_grams, contaminated_grams, contamination, flagged)`` where
    ``contamination`` = |grams(doc) ∩ grams(benchmark)| / |grams(doc)|.

    Scale design: the benchmark gram set is the *small* side by
    construction (eval suites are KBs-to-MBs against a 100 TB corpus),
    so it broadcasts — the corpus-side shingle pass is embarrassingly
    parallel with no shuffle for candidate generation, and the only
    shuffle is the per-doc hit count (map-side partial agg). Grams join
    on the 60-bit md5 hash, not strings: 8-byte keys, engine-portable.
    """
    doc_sh = shingle(docs, n=n, text_col=text_col, id_col=id_col).select(
        F.col(id_col), token_hash60(F.col("shingle")).alias("g_h")
    )
    bench_sh = (
        shingle(benchmark, n=n, text_col=text_col, id_col=id_col)
        .select(token_hash60(F.col("shingle")).alias("g_h"))
        .distinct()
    )
    hits = (
        doc_sh.join(F.broadcast(bench_sh), "g_h")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("contaminated_grams"))
    )
    # |grams(doc)| as a narrow map-side expression — no second shuffle
    toked, grams = _gram_array(docs, n, text_col)
    sizes = toked.select(
        F.col(id_col), F.size(F.array_distinct(grams)).alias("n_grams")
    )
    ratio = F.when(F.col("n_grams") == 0, F.lit(0.0)).otherwise(
        F.coalesce("contaminated_grams", F.lit(0)) / F.col("n_grams")
    )
    return (
        sizes.join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_grams").cast("bigint").alias("n_grams"),
            F.coalesce("contaminated_grams", F.lit(0))
            .cast("bigint")
            .alias("contaminated_grams"),
            F.round(ratio, 6).alias("contamination"),
            (ratio >= flag_threshold).alias("flagged"),
        )
    )


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame | None = None,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    id_col: str = "doc_id",
    max_iter: int = 50,
) -> DataFrame:
    """Duplicate clustering: candidate pairs → (doc_id, component_id),
    component_id = min doc id reachable through the pair graph. This is
    the step that turns pair generators (minhash_lsh_pairs,
    simhash_pairs, ngram_jaccard_pairs, cosine_pairs) into an actual
    dedup decision: keep component_id, drop the rest.

    Distributed min-label propagation: each round every node adopts the
    minimum label among itself and its neighbors — one equi-join + one
    partial-agg shuffle per round, lineage truncated by
    ``localCheckpoint`` so plans stay flat. Rounds needed = the pair
    graph's component diameter, which for near-dup clusters (LSH bucket
    quasi-cliques) is 1-3; ``max_iter`` bounds adversarial chains. The
    per-round convergence check is one count() on the changed set —
    driver-side control flow, executor-side data (the GraphX/Pregel
    pattern, not a driver loop over rows).

    ``nodes`` (optional, a frame with ``id_col``) adds isolated
    documents as singleton components so every document gets a cluster
    assignment — attached AFTER convergence via one left join, so the
    iteration only ever touches edge-endpoint nodes. In a dedup corpus
    the pair graph covers a small fraction of documents; propagating
    over |V_edges| instead of |V| shrinks every per-round shuffle and
    checkpoint by orders of magnitude at 100 TB (isolated nodes can
    never change their label anyway).
    """
    # symmetrize via a narrow explode fan-out, NOT a union of two selects
    # over `pairs` — a union re-executes the (expensive) pair-generator
    # lineage once per branch before the checkpoint below pins it
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
                    ),
                    F.struct(
                        F.col(b_col).alias("src"), F.col(a_col).alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
    )
    # LAZY checkpoint + count: the sizing count below is the first (and
    # only pre-loop) action, so it materializes the checkpoint blocks
    # inside its own job — the old eager checkpoint ran a whole separate
    # job for the materialization and then ANOTHER for the count (guide
    # §1.2: the heavy batch queries here are driver-job-bound, ~70 ms of
    # planning gap per job). No concurrent consumer exists before the
    # count, so there is no stampede window.
    edges = edges.localCheckpoint(eager=False)
    # Size the propagation loop to the EDGE GRAPH, not the corpus: the
    # count doubles as the checkpoint materialization, and a near-dup
    # pair graph is orders of magnitude smaller than the corpus that
    # produced it.
    # Running 3-5 rounds x 4 stages at the corpus-wide shuffle width
    # makes task-launch overhead the dominant cost (measured 8.4s -> low
    # single digits at sf1 on a 250k-edge graph); at 100 TB the same
    # sizing keeps a 10B-edge graph at thousands of partitions while a
    # small residual graph collapses to a handful.
    spark = pairs.sparkSession
    wide = int(spark.conf.get("spark.sql.shuffle.partitions"))
    n_edges = edges.count()
    loop_parts = max(4, min(wide, n_edges // 1_000_000 + 1))
    if loop_parts < wide:
        # narrow coalesce VIEW of the already-checkpointed blocks — the
        # old second localCheckpoint(eager) here re-materialized the
        # (just materialized) edge table purely to change its width,
        # one whole extra job + write per components build; a coalesce
        # on top of a checkpoint is recompute-safe since the lineage
        # below it is the checkpoint itself
        edges = edges.coalesce(loop_parts)
    # symmetric edges: src alone covers every endpoint
    members = edges.select(F.col("src").alias("id")).distinct()
    labels = members.withColumn("lbl", F.col("id"))
    # Width control WITHOUT touching session state (the r3/r4 versions
    # mutated spark.sql.shuffle.partitions around the loop, restored in
    # finally — an honest but global hack): every frame the loop
    # CARRIES (the eager localCheckpoints) is coalesced to loop_parts,
    # so each round launches loop_parts checkpoint tasks instead of
    # `wide`; the transient per-round join/agg exchanges are left to
    # AQE's partition coalescing, which sizes them to the (tiny) label
    # table at runtime. A concurrent query in the same session now
    # never observes a mutated width.
    # eager=False: the first propagation round materializes it inside
    # its own job (the round's two references are in dependent stages,
    # so there is no concurrent-build race) — an eager checkpoint here
    # was one more job barrier per components build for nothing
    labels = labels.coalesce(loop_parts).localCheckpoint(eager=False)
    out = _propagate_min_labels(edges, labels, max_iter, loop_parts)
    out = out.select(
        F.col("id").alias(id_col), F.col("lbl").alias("component_id")
    )
    if nodes is not None:
        out = (
            nodes.select(F.col(id_col))
            .join(out, id_col, "left")
            .select(
                F.col(id_col),
                F.coalesce("component_id", F.col(id_col)).alias("component_id"),
            )
        )
    return out


def collapsed_components(
    collapsed: DataFrame,
    membership: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 50,
) -> DataFrame:
    """Duplicate clustering straight from the COLLAPSED pair form
    (``expand=False`` output) without ever materializing member pairs:
    min-label propagation runs on the REPRESENTATIVE edge graph (one
    node per distinct signature), then every member inherits its
    representative's component through ONE membership equi-join.

    Output ``(id_col, component_id)`` set-equals
    ``connected_components`` over the ``expand=True`` pairs
    (test-asserted). Why: a within-group row expands to a clique on
    one rep, a cross-group row to a complete bipartite graph between
    two groups (so even a group WITHOUT a within row is internally
    connected through any cross partner), and rep-graph connectivity
    therefore IS member-graph connectivity — for every group that
    appears in at least one collapsed row. A group appearing in NO row
    (possible in the shingle-metric families: zero-shingle texts,
    groups whose shingles are all df-capped out, self-similarity below
    threshold — their within row is filtered, unlike minhash/simhash
    where identical signatures always pair) has no expanded edge at
    all, so its members stay SINGLETONS; only members of active reps
    inherit the rep component. And because every ``rep_id`` is its
    group's MIN member id, the component label — min reachable id —
    is the same min either way.

    This is the consumer pattern the collapsed form exists for at
    100 TB: propagation cost scales with DISTINCT texts; the
    duplication factor enters only through the final join (and a
    membership table is linear in the corpus, not quadratic like the
    expanded pair set).

    ``membership``: ``(m_id, rep_id)`` as produced by
    :func:`minhash_signature_groups` / :func:`simhash_groups` /
    :func:`text_fingerprint_groups` — the same companion input
    :func:`expand_collapsed_pairs` takes. Every document in scope must
    appear in it (singleton groups included), so isolated docs come
    back as singleton components.
    """
    # membership feeds two consumers (the rep node set and the final
    # inherit join) — pin it so one action doesn't re-derive the
    # signature-group lineage (itself a members⋈reps self-join over
    # the full signature subtree) once per consumer. eager=False: the
    # first action materializes it, merely building the plan is free.
    membership = _pin_lazy(membership)
    # collapsed feeds three branches (the edge list and both arms of
    # the active-rep union) — pin it so one action doesn't re-run the
    # banded-LSH pair lineage once per branch
    collapsed = _pin_lazy(collapsed)
    rep_edges = collapsed.filter(F.col("rep_a") != F.col("rep_b")).select(
        F.col("rep_a").alias("doc_a"), F.col("rep_b").alias("doc_b")
    )
    # Propagate over ACTIVE reps only — those with at least one
    # collapsed row. An edge-free group expands to no member pair, so
    # inheriting the rep label there would merge docs the expanded path
    # leaves as singletons (the zero-shingle / df-capped-out case).
    active_reps = (
        collapsed.select(F.col("rep_a").alias(id_col))
        .unionByName(collapsed.select(F.col("rep_b").alias(id_col)))
        .distinct()
    )
    rep_comp = connected_components(
        rep_edges, nodes=active_reps, id_col=id_col, max_iter=max_iter
    ).withColumnRenamed(id_col, "rep_id")
    return membership.join(rep_comp, "rep_id", "left").select(
        F.col("m_id").alias(id_col),
        F.coalesce("component_id", F.col("m_id")).alias("component_id"),
    )


def _propagate_min_labels(
    edges: DataFrame, labels: DataFrame, max_iter: int, loop_parts: int
) -> DataFrame:
    """Min-label rounds until a fixpoint (see connected_components).
    ``loop_parts`` pins the width of each round's carried checkpoint —
    the narrow-width contract the caller sized to the edge graph."""
    for _ in range(max_iter):
        nbr = (
            edges.join(labels.withColumnRenamed("id", "dst"), "dst")
            .groupBy("src")
            .agg(F.min("lbl").alias("nlbl"))
            .withColumnRenamed("src", "id")
        )
        # fold the convergence flag into the same pass — a separate
        # old-vs-new join would re-shuffle the whole label table per
        # round just to count changes. The checkpoint is LAZY and the
        # convergence agg right below materializes it: one job per
        # round carries the new labels AND counts the changes, where
        # the eager form paid a materialization job plus a count job
        # (2 driver-job gaps per round for a 3-5 round loop). The agg
        # is the only reference until `labels` is reassigned, so no
        # concurrent consumer can race the lazy build.
        new_labels = (
            labels.join(nbr, "id", "left")
            .select(
                "id",
                F.least(F.col("lbl"), F.coalesce("nlbl", "lbl")).alias("lbl"),
                (F.coalesce("nlbl", "lbl") < F.col("lbl"))
                .cast("int")
                .alias("__chg"),
            )
            .coalesce(loop_parts)
            .localCheckpoint(eager=False)
        )
        changed = new_labels.agg(F.sum("__chg")).first()[0] or 0
        labels = new_labels.drop("__chg")
        if changed == 0:
            break
    else:
        # silently returning mid-propagation labels would split real
        # components — refuse instead (rounds needed = graph diameter)
        raise RuntimeError(
            f"connected_components did not converge within {max_iter} "
            f"rounds; the pair graph has a longer path — raise max_iter"
        )
    return labels


def estimate_jaccard(
    signatures: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    k: int = N_HASHES,
) -> DataFrame:
    """MinHash Jaccard ESTIMATE for candidate pairs: the fraction of the
    k signature components on which the two documents agree — an
    unbiased estimator of the true Jaccard (each min-hash collides with
    probability J). This is the 100 TB decision path: signatures are k
    int64s per document, so scoring a candidate needs two equi-joins on
    a tiny table instead of re-reading both documents' text (what the
    exact re-verify x06 pays). Output: (doc_a, doc_b, est_jaccard).
    """
    mh = [f"mh{i}" for i in range(k)]
    sa = signatures.select(
        F.col(id_col).alias("doc_a"), *[F.col(c).alias(f"a_{c}") for c in mh]
    )
    sb = signatures.select(
        F.col(id_col).alias("doc_b"), *[F.col(c).alias(f"b_{c}") for c in mh]
    )
    agree = sum(
        (F.col(f"a_{c}") == F.col(f"b_{c}")).cast("int") for c in mh
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(agree / F.lit(float(k)), 6).alias("est_jaccard"),
        )
    )


def lsh_sensitivity_curve(
    spark,
    n_bands: int = N_BANDS,
    rows_per_band: int = ROWS_PER_BAND,
    grid: int = 20,
) -> DataFrame:
    """Analytic S-curve of the banded-LSH family: for the configured
    (b bands, r rows/band), P(candidate | jaccard = s) = 1 - (1 - s^r)^b
    over a similarity grid — the planning query every LSH deployment
    runs before picking (b, r), published next to the empirical x59
    precision/recall audit so the configured operating point is
    inspectable. The rule-of-thumb threshold (1/b)^(1/r) is where the
    curve inflects — read it off the returned grid (for b = r = 4 it
    sits between the s = 0.70 and 0.75 rows); the output itself is
    just (s, p_candidate).

    Determinism: powers are expanded to explicit multiplication chains
    (s*s*…), never pow() — repeated IEEE multiplications are identical
    in Spark and DuckDB, while pow() goes through each platform's libm.
    20 rows from a range() — no data read; cost is nil at any scale.
    """

    def _chain(col: Column, k: int) -> Column:
        out = col
        for _ in range(k - 1):
            out = out * col
        return out

    s = (F.col("id").cast("double") / F.lit(float(grid))).alias("s")
    base = spark.range(1, grid + 1).select(s)
    p = F.lit(1.0) - _chain(
        F.lit(1.0) - _chain(F.col("s"), rows_per_band), n_bands
    )
    return base.select(
        F.col("s"),
        F.round(p, 6).alias("p_candidate"),
    )


def lsh_bucket_histogram(
    signatures: DataFrame,
    id_col: str = "doc_id",
    n_bands: int = N_BANDS,
    rows_per_band: int = ROWS_PER_BAND,
) -> DataFrame:
    """Bucket-size histogram of the banded LSH join — the skew audit
    run BEFORE the pair join at scale: a bucket of size c produces
    c(c-1)/2 candidate pairs, so the histogram's tail is exactly the
    skew that decides whether the self-join needs AQE skew splitting
    or a hot-bucket cap (the x06 df_cap discipline applied to bands).
    Output: one row per observed bucket size — (bucket_size, n_buckets,
    pair_candidates) — integer-exact in any engine.

    Scale shape: one explode over the signature table (b rows/doc),
    one partial-agg shuffle on (band, sig), one tiny agg on the counts.
    The histogram has at most |distinct bucket sizes| rows — KBs."""
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "_",
                    *[
                        F.col(f"mh{b * rows_per_band + r}").cast("string")
                        for r in range(rows_per_band)
                    ],
                ).alias("sig"),
            )
            for b in range(n_bands)
        ]
    )
    buckets = (
        signatures.select(F.col(id_col), F.explode(band_structs).alias("__bs"))
        .groupBy(F.col("__bs.band").alias("band"), F.col("__bs.sig").alias("sig"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        buckets.groupBy(F.col("c").alias("bucket_size"))
        .agg(F.count(F.lit(1)).alias("n_buckets"))
        .select(
            "bucket_size",
            "n_buckets",
            (
                F.col("n_buckets")
                * (F.col("bucket_size") * (F.col("bucket_size") - 1) / 2)
            )
            .cast("bigint")
            .alias("pair_candidates"),
        )
    )


def edit_distance_verify(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    prefix: int = 200,
    collapse: bool = True,
) -> DataFrame:
    """Edit-distance confirmation of candidate pairs: Levenshtein over
    bounded text prefixes, the cheap exact-ish verify a dedup review
    runs on LSH candidates when shingle Jaccard is too coarse (e.g.
    short docs) — RETSim-style pipelines do the same with a budget cap.

    ``prefix`` bounds the O(len²) DP per pair (full-document
    Levenshtein on a 100 KB doc is 10¹⁰ cells — never run it unbounded
    at scale; production uses banded DP or an early-exit threshold,
    which Spark's 3-arg levenshtein exposes). The cap is part of the
    audit's declared semantics and identical in the oracle.

    Scale shape: |pairs| is LSH-bounded, the two text joins are plain
    equi-joins, and only (ids, two ints, one double) leave the
    projection. ``collapse`` (default on) applies the collapse-exact
    discipline to the verify stage: the O(prefix²) DP runs once per
    DISTINCT (prefix_a, prefix_b) fingerprint pair and re-expands
    through one AQE-broadcast equi-join on the 16-byte keys. On a
    duplicate-heavy corpus the candidate graph pairs replicated docs
    quadratically while their prefixes collapse to a handful of
    distinct strings — measured at the 10x-replicated sf1: 250,600
    pairs, 4,980 distinct prefix pairs, 11.8s → 5.8s min-of-3. On a
    dup-free corpus the rep table is pair-sized and the collapse is a
    wash (2.2s → 2.1s at sf0.1: the map-side combine absorbs the
    groupBy and the saved DPs pay for the re-expand join), so it
    stays on — output is identical either way. Output: (doc_a, doc_b,
    edit_distance, edit_sim = 1 - lev/max(len_a, len_b))."""
    t = df.select(
        F.col(id_col),
        F.substring(F.col(text_col), 1, prefix).alias("__t"),
    )

    def _score(a: str, b: str) -> list:
        lev = F.levenshtein(F.col(a), F.col(b))
        longest = F.greatest(F.length(a), F.length(b))
        return [
            lev.cast("bigint").alias("edit_distance"),
            F.round(
                F.when(longest > 0, F.lit(1.0) - lev / longest).otherwise(
                    F.lit(1.0)
                ),
                6,
            ).alias("edit_sim"),
        ]

    if not collapse:
        ta = t.select(F.col(id_col).alias("doc_a"), F.col("__t").alias("__ta"))
        tb = t.select(F.col(id_col).alias("doc_b"), F.col("__t").alias("__tb"))
        return (
            pairs.select("doc_a", "doc_b")
            .join(ta, "doc_a")
            .join(tb, "doc_b")
            .select("doc_a", "doc_b", *_score("__ta", "__tb"))
        )

    tf = t.withColumn("__f", F.md5("__t"))
    ta = tf.select(
        F.col(id_col).alias("doc_a"),
        F.col("__t").alias("__ta"),
        F.col("__f").alias("__fa"),
    )
    tb = tf.select(
        F.col(id_col).alias("doc_b"),
        F.col("__t").alias("__tb"),
        F.col("__f").alias("__fb"),
    )
    joined = pairs.select("doc_a", "doc_b").join(ta, "doc_a").join(tb, "doc_b")
    # one DP per distinct prefix pair: __ta/__tb are functions of the
    # fingerprint key, so min() just picks THE value deterministically
    reps = joined.groupBy("__fa", "__fb").agg(
        F.min("__ta").alias("__ta"), F.min("__tb").alias("__tb")
    )
    scored = reps.select("__fa", "__fb", *_score("__ta", "__tb"))
    return (
        joined.select("doc_a", "doc_b", "__fa", "__fb")
        .join(scored, ["__fa", "__fb"])
        .select("doc_a", "doc_b", "edit_distance", "edit_sim")
    )


def shingle_novelty(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingled: DataFrame | None = None,
) -> DataFrame:
    """Per-document marginal novelty in ``id_col`` order: of a doc's
    distinct shingles, how many appear in NO earlier document. The
    diminishing-returns curve of a growing corpus — novelty falling
    toward zero over an id-ordered (≈ crawl-ordered) corpus means new
    data is re-crawl, not new content; the aggregate view is the
    data-acquisition stopping rule.

    Two shuffles, both linear in the shingle table: min(id) per shingle
    hash (the inverted index's cheapest aggregate — map-side combine
    collapses duplicates early), then a join back and a per-doc count.
    No pair join anywhere, so unlike the similarity family there is no
    quadratic candidate step to cap. Zero-shingle docs are restored
    with (0, 0, 0.0) via the final left join.
    """
    base = (
        shingled
        if shingled is not None
        else shingle(df, n=n, text_col=text_col, id_col=id_col)
    )
    sh = base.select(
        F.col(id_col), token_hash60(F.col("shingle")).alias("sh_h")
    )
    # feeds the first-occurrence agg AND the join back
    sh = eager_persist(sh)
    first = sh.groupBy("sh_h").agg(F.min(id_col).alias("__first"))
    per = (
        sh.join(first, "sh_h")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_sh"),
            F.sum(
                F.when(F.col("__first") == F.col(id_col), 1).otherwise(0)
            ).alias("n_novel"),
        )
    )
    return df.select(id_col).join(per, id_col, "left").select(
        F.col(id_col),
        F.coalesce("n_sh", F.lit(0)).cast("bigint").alias("n_sh"),
        F.coalesce("n_novel", F.lit(0)).cast("bigint").alias("n_novel"),
        F.when(
            F.coalesce("n_sh", F.lit(0)) > 0,
            F.col("n_novel") / F.col("n_sh"),
        )
        .otherwise(F.lit(0.0))
        .alias("novelty"),
    )


def dedup_threshold_curve(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    base_threshold: float = 0.1,
    df_cap: int | None = JACCARD_DF_CAP,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """Operating curve for the near-dup threshold decision: for every
    candidate threshold t in 0.1 … 0.9, how many pairs fire and how
    many documents the keep-min-id policy would remove — computed from
    ONE pair materialization at ``base_threshold``, not nine pair
    joins. This is the audit a curator reads before committing a dedup
    threshold (the x59 precision/recall eval scores ONE configured
    point; this shows the whole curve).

    The per-threshold reduction is histogram-cumulative, never a
    re-scan: each pair lands in bucket floor(10·j); each doc_b keeps
    its MAX bucket (a doc is removed at t iff some pair ≥ t names it
    as the greater id — so distinct-doc counts become additive over
    the max-bucket histogram); the ≤10-row histograms then join a
    9-row threshold spine on b ≥ t. Everything after the pair join
    is bounded by 10 rows regardless of corpus size.

    ``est_docs_removed`` is the standard quick estimate (greater id of
    each firing pair), not the connected-components answer — transitive
    clusters can keep fewer docs; the estimate is exact when clusters
    are pairs and an upper bound otherwise... strictly it counts docs
    that lose at least one pairwise contest, which components-based
    keeper selection also always removes, so it is a LOWER bound on
    removal under min-id clustering.
    """
    pairs = ngram_jaccard_pairs(
        df,
        n=n,
        threshold=base_threshold,
        text_col=text_col,
        id_col=id_col,
        df_cap=df_cap,
        shingled=shingled,
    )
    # feeds the pair histogram AND the per-doc max pass
    pb = eager_persist(
        pairs.withColumn(
            "b", F.least(F.floor(F.col("jaccard") * 10), F.lit(9)).cast("int")
        )
    )
    ph = pb.groupBy("b").agg(F.count(F.lit(1)).alias("np"))
    dh = (
        pb.groupBy("doc_b")
        .agg(F.max("b").alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("nd"))
    )
    hist = (
        ph.join(dh, "b", "full")
        .select(
            "b",
            F.coalesce("np", F.lit(0)).alias("np"),
            F.coalesce("nd", F.lit(0)).alias("nd"),
        )
    )
    spine = df.sparkSession.range(1, 10).select(
        F.col("id").cast("int").alias("t")
    )
    return (
        spine.join(hist, hist.b >= spine.t, "left")
        .groupBy("t")
        .agg(
            F.coalesce(F.sum("np"), F.lit(0)).cast("bigint").alias("n_pairs"),
            F.coalesce(F.sum("nd"), F.lit(0))
            .cast("bigint")
            .alias("est_docs_removed"),
        )
        .select(
            F.round(F.col("t").cast("double") / 10, 1).alias("threshold"),
            "n_pairs",
            "est_docs_removed",
        )
    )


def segment_dedup_stats(
    df: DataFrame,
    width: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Chunk-level duplication audit: split each document into
    consecutive non-overlapping ``width``-token segments and report,
    per document, how many of its segments occur more than once in the
    corpus — ``(id, n_segments, n_dup_segments, dup_fraction)``. This
    is the screen for boilerplate stitching and template reuse that
    whole-document dedup misses (two distinct pages sharing a licence
    header or nav block) and near-dup thresholds under-weight — the
    practical approximation of exact substring dedup (Lee et al. 2022
    used suffix arrays; fixed windows are its shuffle-friendly stand-in
    at a coarser granularity).

    A segment instance counts as duplicated when its corpus-wide
    occurrence count is >= 2 — within-document repeats included, since
    a training pipeline removes those for the same memorization reason.
    Documents shorter than ``width`` tokens have no full segment and
    are absent from the output (the oracle's inner-join contract, like
    ``bigram_nll``); the trailing partial window is dropped.

    Scale: one narrow tokenize→transform→explode pass at ~tokens/width
    rows per doc (8x FEWER exploded rows than the shingle join's
    per-token fan-out), segments carried as 60-bit md5 hashes (8-byte
    shuffle keys, identical in DuckDB), one vocab-sized groupBy for the
    occurrence counts, one broadcast-or-shuffle join back, one
    partial-agg shuffle on the id. No self-join anywhere — the count
    table is segment-vocabulary-bounded, so there is no hot-key
    quadratic risk to cap.
    """
    from twitter_kafka_etl_spark.operators.text import tokenize

    toked = df.withColumn("__toks", tokenize(text_col))
    nseg = F.floor(F.size("__toks") / width).cast("int")
    segs = F.when(
        nseg >= 1,
        F.transform(
            F.sequence(F.lit(0), nseg - 1),
            lambda i: F.concat_ws(
                " ", F.slice("__toks", (i * width + 1).cast("int"), width)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    seg = toked.select(
        F.col(id_col), F.explode(segs).alias("__seg")
    ).select(F.col(id_col), token_hash60(F.col("__seg")).alias("seg_h"))
    # per-(doc, segment) multiplicity first: the join back to the
    # occurrence counts then runs on distinct (doc, segment) rows, not
    # raw instances — smaller probe side, same sums. Persisted because
    # it feeds BOTH the occurrence re-aggregation and the join probe:
    # without the pin each consumer re-runs the tokenize→transform→
    # explode corpus pass (the plan showed two FileScans).
    d = eager_persist(
        seg.groupBy(id_col, "seg_h").agg(F.count(F.lit(1)).alias("cnt"))
    )
    # corpus occurrence counts by re-aggregating the (doc, segment)
    # table — segment-vocab-sized, never a second corpus scan
    c = d.groupBy("seg_h").agg(F.sum("cnt").alias("tc"))
    dup = F.when(F.col("tc") >= 2, F.col("cnt")).otherwise(F.lit(0))
    return (
        d.join(c, "seg_h")
        .groupBy(id_col)
        .agg(
            F.sum("cnt").cast("bigint").alias("n_segments"),
            F.sum(dup).cast("bigint").alias("n_dup_segments"),
        )
        .withColumn(
            "dup_fraction",
            F.round(
                F.col("n_dup_segments")
                / F.col("n_segments").cast("double"),
                6,
            ),
        )
    )


#: incremented on every actual components-working-set build (memo
#: misses only) — see the counter note inside ``corpus_components``
COMPONENTS_BUILDS = {"n": 0}


def corpus_components(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Memoized, persisted near-dup cluster assignment — minhash-LSH
    pairs over ``corpus_signatures`` fed through
    ``connected_components`` with singleton attachment, built once per
    (session, corpus plan). The cluster table is the smallest working
    set in the family (two int64s per document) and feeds three
    registered consumers (x25's assignment, x36's keeper selection,
    x89's size profile), each of which previously re-ran the entire
    shingle→minhash→band-join→propagation lineage — the suite's most
    expensive subtree — from scratch."""
    from twitter_kafka_etl_spark.operators._cache import plan_memo

    def build() -> DataFrame:
        # build counter, NOT a metric: tests assert the five registered
        # consumers (x25/x36/x89/x99/x100) share ONE build per
        # (session, corpus plan) so memo eviction churn or a key change
        # can't silently restore five full rebuilds of the suite's most
        # expensive subtree
        COMPONENTS_BUILDS["n"] += 1
        # persist the pair graph: connected_components executes it at
        # least twice (edge-count probe + checkpoint/propagation)
        pairs = minhash_lsh_pairs(
            corpus_signatures(df, n=n, text_col=text_col, id_col=id_col),
        ).persist()
        return connected_components(pairs, nodes=df, id_col=id_col)

    # the result is localCheckpoint-backed (propagation truncates
    # lineage): memo eviction unpersists only its cache buffers, so an
    # earlier caller still holding it recomputes from the checkpoint
    # blocks, and a hit whose checkpoint blocks are gone fails
    # plan_memo's probe and is rebuilt
    return plan_memo(df, ("components", n, text_col, id_col), build)


def cluster_size_profile(
    components: DataFrame,
    component_col: str = "component_id",
    id_col: str = "doc_id",
) -> DataFrame:
    """Duplicate-cluster size distribution: ``(cluster_size,
    n_clusters, n_docs, docs_removed)`` per distinct size, ascending —
    the one-page audit a curator reads before committing a dedup pass.
    The shape answers the questions that drive the threshold decision:
    a long tail of giant clusters means boilerplate (tighten the
    threshold or add containment screening), mass concentrated at size
    2 means genuine near-dups (keep-one removal is safe), and
    ``docs_removed = Σ (size-1) · n_clusters`` IS the dedup yield loss,
    exactly — unlike x84's pair-based estimate, this counts transitive
    clusters the way keeper selection actually removes them.

    Input is any (id, component) assignment (``corpus_components`` /
    ``connected_components`` output). Two partial-agg shuffles, the
    second over at most |distinct sizes| ≤ √(2·|docs|) groups; output
    is histogram-sized, never corpus-sized.
    """
    sizes = components.groupBy(component_col).agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(
            F.col("cluster_size").cast("bigint").alias("cluster_size"),
            F.col("n_clusters").cast("bigint").alias("n_clusters"),
            (F.col("cluster_size") * F.col("n_clusters"))
            .cast("bigint")
            .alias("n_docs"),
            ((F.col("cluster_size") - 1) * F.col("n_clusters"))
            .cast("bigint")
            .alias("docs_removed"),
        )
    )


def cross_source_pairs(
    df: DataFrame,
    pairs: DataFrame | None = None,
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-duplicate leakage matrix BETWEEN sources: LSH candidate
    pairs aggregated by the (source_a, source_b) of their endpoints —
    ``(source_a, source_b, n_pairs)`` with the pair normalized so
    source_a <= source_b. This is the doc-granular complement to
    ``source_overlap`` (which compares whole shingle sets): x78 says
    two feeds share vocabulary; this says N specific documents are
    near-copies across them — the audit that catches a vendor
    re-selling another vendor's crawl, and the train/eval-split risk
    when splits are drawn per-source (cross-source duplicates leak
    across any source-keyed split).

    Cost on top of the memoized signature working set is two
    (id → source) equi-joins against a projection of the corpus and a
    |sources|²-bounded aggregate — the pair table is the LSH-banded
    one, never all-pairs.
    """
    if pairs is None:
        pairs = minhash_lsh_pairs(
            corpus_signatures(df, id_col=id_col), id_col=id_col
        )
    src = df.select(F.col(id_col), F.col(group_col))
    lab = pairs.join(
        src.select(
            F.col(id_col).alias("doc_a"), F.col(group_col).alias("__sa")
        ),
        "doc_a",
    ).join(
        src.select(
            F.col(id_col).alias("doc_b"), F.col(group_col).alias("__sb")
        ),
        "doc_b",
    )
    return (
        lab.select(
            F.least("__sa", "__sb").alias("source_a"),
            F.greatest("__sa", "__sb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )


def dup_growth_curve(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    levels: Sequence[int] = (25, 50, 75, 100),
    salt: str = "growth",
) -> DataFrame:
    """Duplicate-fraction growth curve over nested deterministic corpus
    samples: for each sample level p, the exact-dedup statistics of the
    sub-corpus {docs : hash_bucket(id) < p}. Duplicate rate GROWS with
    corpus size (a doc's twin is more likely already present in a
    bigger crawl), so the dedup budget measured on a pilot sample
    undershoots production — this curve is how the 100 TB dedup pass is
    sized from affordable prefixes, and its extrapolation slope is the
    scaling-study input (how much unique data is actually left).

    Samples are NESTED (bucket < 25 ⊂ bucket < 50 ⊂ …) and md5-keyed —
    the same rows on every engine/run/retry, so the curve is monotone
    by construction rather than up to sampling noise.

    Plan shape: one scan computing (16-byte fingerprint, bucket); an
    array-filter explode fans each doc to the ≤|levels| samples that
    contain it; one partial-agg shuffle on (level, fingerprint); a
    |levels|-keyed re-agg. The exchange carries ≤ |levels|·n rows of
    ~20 bytes — at 100 TB this is the x01 exact-dedup shuffle repeated
    |levels| times, with text never leaving the scan.
    """
    from twitter_kafka_etl_spark.operators.curation import hash_bucket

    lv = F.array(*[F.lit(int(p)) for p in levels])
    base = df.select(
        F.md5(fingerprint_norm(F.col(text_col))).alias("__fp"),
        hash_bucket(id_col, salt).alias("__b"),
    )
    # a doc belongs to every level above its bucket — nested samples
    lev = base.select(
        "__fp", F.explode(F.filter(lv, lambda p: p > F.col("__b"))).alias("pct")
    )
    g = lev.groupBy("pct", "__fp").agg(F.count(F.lit(1)).alias("__c"))
    return (
        g.groupBy("pct")
        .agg(
            F.sum("__c").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
            F.sum(F.when(F.col("__c") >= 2, F.col("__c")).otherwise(0))
            .cast("bigint")
            .alias("n_dup_docs"),
            (F.sum(F.col("__c")) - F.count(F.lit(1)))
            .cast("bigint")
            .alias("n_excess"),
        )
        .select(
            F.col("pct").cast("bigint").alias("pct"),
            "n_docs",
            "n_distinct",
            "n_dup_docs",
            "n_excess",
            F.round(
                F.col("n_excess").cast("double") / F.col("n_docs"), 6
            ).alias("dup_frac"),
        )
    )


def dedup_method_agreement(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Agreement matrix across the three cheap pair detectors — exact
    fingerprint, banded MinHash-LSH candidates, SimHash hamming ≤ 3 —
    as ``(in_exact, in_minhash, in_simhash, n_pairs)``, one row per
    non-empty membership combination. The method-calibration read
    taken before committing a 100 TB dedup stack: the exact∖minhash
    cell exposes LSH's sub-shingle blind spot (documents shorter than
    the shingle width carry no signature, so byte-identical short docs
    land at (1,0,1)), the simhash-only cell sizes the bag-of-words
    false-positive surface, and the minhash∩simhash∖exact mass is the
    near-dup yield the threshold decision is actually about.

    NO pair is ever enumerated per member document (the r6 verdict's
    scale finding: the previous exact-arm ``fp ⋈ fp`` emitted C(c,2)
    rows per duplicate group — one boilerplate text duplicated 10⁶×
    is ~5·10¹¹ rows). All three detectors are pure functions of the
    RAW text, so the corpus collapses ONCE on ``md5(text)`` (one
    map-side-combined shuffle; the exchange carries ~distinct-text
    rows) and every member pair's cell is decided combinatorially:

    - within a raw-identical group of size c: same normalized
      fingerprint (exact=1), same simhash (hamming 0 ⇒ simhash=1),
      same MinHash signature — in the LSH pair set iff a signature
      exists, i.e. iff the text has ≥ ``n`` tokens. C(c,2) pairs land
      in cell (1, has_sig, 1) by integer arithmetic, zero rows.
    - across groups: the three detectors run on REPRESENTATIVES only
      (their banded/indexed plans unchanged — duplication factor d
      does 1/d² of the join work), and each rep pair's cell gets
      weight c_a·c_b. The exact arm degenerates to a self-join over
      distinct raw texts sharing a normalized fingerprint
      (whitespace/case variants) — group sizes are variant counts,
      not duplicate counts, so the quadratic hazard is gone.

    The MinHash arm semi-joins the memoized full-corpus
    ``corpus_signatures`` working set (shared with x03/x46/x59/x60)
    down to representatives when a sibling query already built it;
    otherwise it signatures the rep subset directly (cheaper than
    forcing a full-corpus build it would use 1/d of). Flags are
    BIGINT 0/1 so the output hashes identically cross-engine; the
    oracle enumerates pairs naively — equivalence is exactly the
    collapse-exact argument above, asserted per-cell in tests.
    """
    from twitter_kafka_etl_spark.operators._cache import peek_memo

    # one shuffle: map-side partial agg collapses duplicate texts, so
    # the exchange carries ~distinct-text rows; text is constant per
    # md5(text) group, so min(text) IS the group's text
    # null texts contribute no pairs in any arm (null keys never
    # equi-join; no tokens ⇒ no signature rows) — drop them before the
    # collapse or a null "group" would fabricate within-mass
    reps = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.md5(F.col(text_col)).alias("__rt"),
            F.col(id_col),
            F.col(text_col),
        )
        .groupBy("__rt")
        .agg(
            F.min(F.col(id_col)).alias(id_col),
            F.count(F.lit(1)).cast("bigint").alias("__c"),
            F.min(F.col(text_col)).alias(text_col),
        )
        # read by both arms + both weight joins. Lazy: the arms'
        # broadcast-side query stages materialize it sequentially, and
        # an eager barrier here measured +1.5 s in-suite (the racy
        # duplicate builds it avoids are cheaper and overlap)
        .localCheckpoint(eager=False)
    )
    rep_docs = reps.select(F.col(id_col), F.col(text_col))

    full_sigs = peek_memo(df, ("minhash_sigs", n, text_col, id_col, None))
    if full_sigs is not None:
        rep_sigs = full_sigs.join(
            reps.select(F.col(id_col)), id_col, "left_semi"
        )
    else:
        rep_sigs = minhash_signatures(
            shingle(rep_docs, n=n, text_col=text_col, id_col=id_col),
            id_col=id_col,
        ).localCheckpoint(eager=False)  # both sides of the banded self-join
    mh = _minhash_lsh_pairs_core(
        rep_sigs, id_col, N_BANDS, ROWS_PER_BAND
    ).select("doc_a", "doc_b")
    sh = _simhash_pairs_core(
        simhash(rep_docs, text_col=text_col, id_col=id_col).localCheckpoint(
            eager=False
        ),
        id_col,
        max_hamming=3,
        bits=32,
        n_chunks=4,
    ).select("doc_a", "doc_b")
    fpr = reps.select(
        F.col(id_col), F.md5(fingerprint_norm(F.col(text_col))).alias("__fp")
    )
    exact = fpr.alias("a").join(fpr.alias("b"), "__fp").filter(
        F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    ).select(
        F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
    )

    def _tag(pairs: DataFrame, e: int, m: int, s: int) -> DataFrame:
        return pairs.select(
            "doc_a",
            "doc_b",
            F.lit(e).alias("__e"),
            F.lit(m).alias("__m"),
            F.lit(s).alias("__s"),
        )

    tagged = (
        _tag(exact, 1, 0, 0)
        .unionByName(_tag(mh, 0, 1, 0))
        .unionByName(_tag(sh, 0, 0, 1))
    )
    per_pair = tagged.groupBy("doc_a", "doc_b").agg(
        F.max("__e").alias("in_exact"),
        F.max("__m").alias("in_minhash"),
        F.max("__s").alias("in_simhash"),
    )
    w = reps.select(F.col(id_col), F.col("__c"))
    cross = (
        per_pair.join(
            w.select(F.col(id_col).alias("doc_a"), F.col("__c").alias("__ca")),
            "doc_a",
        )
        .join(
            w.select(F.col(id_col).alias("doc_b"), F.col("__c").alias("__cb")),
            "doc_b",
        )
        .select(
            "in_exact",
            "in_minhash",
            "in_simhash",
            (F.col("__ca") * F.col("__cb")).alias("__w"),
        )
    )
    # has_sig mirrors shingle()'s guard exactly: a doc yields shingles
    # (hence a MinHash signature) iff size(split(text)) >= n
    within = reps.filter(F.col("__c") >= 2).select(
        F.lit(1).alias("in_exact"),
        F.when(
            F.size(F.split(F.col(text_col), " ")) >= n, F.lit(1)
        ).otherwise(F.lit(0)).alias("in_minhash"),
        F.lit(1).alias("in_simhash"),
        F.expr("(__c * (__c - 1)) div 2").alias("__w"),  # integer-exact C(c,2)
    )
    return cross.unionByName(within).groupBy(
        F.col("in_exact").cast("bigint").alias("in_exact"),
        F.col("in_minhash").cast("bigint").alias("in_minhash"),
        F.col("in_simhash").cast("bigint").alias("in_simhash"),
    ).agg(F.sum("__w").cast("bigint").alias("n_pairs"))


def dedup_source_yield(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """Per-source yield loss under near-dup dedup (min-id keeper per
    LSH component): ``(source, n_docs, n_removed, removed_frac,
    n_lost_other)`` where ``n_lost_other`` counts removed docs whose
    keeper lives in a DIFFERENT source. The mixture-impact audit run
    before committing a dedup pass: a source losing most of its mass
    is a re-sold or mirrored crawl (x91 finds the pairs; this prices
    the decision), and a large ``n_lost_other`` means the dedup pass
    silently REWEIGHTS the training mixture — the per-source token
    budgets x50/x86 planned no longer hold after the pass.

    Reads the memoized ``corpus_components`` working set (two
    int64s/doc, shared with x25/x36/x89). Two narrow co-keyed joins —
    components to sources on id, then the keeper's source on
    component id — and one |sources|-row agg; nothing carries text.
    At 100 TB both joins are int64-keyed exchanges of three columns.
    """
    comps = corpus_components(df, text_col=text_col, id_col=id_col)
    src = df.select(F.col(id_col), F.col(group_col))
    labeled = comps.join(src, id_col)
    keeper_src = src.select(
        F.col(id_col).alias("component_id"),
        F.col(group_col).alias("__keeper_src"),
    )
    j = labeled.join(keeper_src, "component_id")
    removed = F.col(id_col) != F.col("component_id")
    return (
        j.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(removed.cast("int")).cast("bigint").alias("n_removed"),
            F.sum(
                (removed & (F.col("__keeper_src") != F.col(group_col))).cast(
                    "int"
                )
            )
            .cast("bigint")
            .alias("n_lost_other"),
        )
        .select(
            group_col,
            "n_docs",
            "n_removed",
            F.round(
                F.col("n_removed").cast("double") / F.col("n_docs"), 6
            ).alias("removed_frac"),
            "n_lost_other",
        )
    )
