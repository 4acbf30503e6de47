"""Side-state compaction and manifest visibility (streaming/side_state.py):
content preservation under folds, tiered write-amplification bounds,
replay safety, the checksum gate, atomic-publish crash semantics at
EVERY filesystem step, torn manifests, torn published snapshots, replay
idempotence, the pure tiered-merge planning bounds (hypothesis, no
Spark), and the end-to-end oracle equivalence of every ingest fold with
compaction forced live mid-stream."""

from __future__ import annotations

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from twitter_kafka_etl_spark.streaming import side_state as S


def _write_delta(spark, path: str, b: int, lo: int, n: int) -> None:
    spark.range(lo, lo + n).select(
        F.col("id").alias("k"), F.md5(F.col("id").cast("string")).alias("v")
    ).write.mode("overwrite").parquet(os.path.join(path, f"__b={b}"))


def _visible(spark, path: str) -> list[tuple]:
    return sorted(
        (r.k, r.v)
        for r in S.read_side(spark, path).select("k", "v").collect()
    )


def _expected(n_batches: int, per: int = 10) -> list[tuple]:
    return sorted(
        (i, hashlib.md5(str(i).encode()).hexdigest())
        for i in range(n_batches * per)
    )


def _registered(spark, path: str, n_batches: int) -> None:
    """``n_batches`` committed deltas of 10 rows each, all published."""
    os.makedirs(path)
    for b in range(n_batches):
        _write_delta(spark, path, b, lo=b * 10, n=10)
        S.register_batch(path, b)


def test_compaction_preserves_content_and_bounds_dirs(spark, tmp_path):
    """40 batches, every=8: visible content is exactly every row
    written, live dirs stay bounded, snapshot generations are negative
    so the folds' own-batch ``__b != batch_id`` exclusion can never hit
    one, and on-disk garbage does not accumulate (GC keeps the root
    close to the live set)."""
    path = str(tmp_path / "state")
    os.makedirs(path)
    folds = 0
    for b in range(40):
        # compaction first, then the batch's own write and publish —
        # the fold-start call order the ingest callbacks use
        folds += S.maybe_compact(spark, path, b, every=8)
        _write_delta(spark, path, b, lo=b * 10, n=10)
        S.register_batch(path, b)
    assert folds >= 3
    assert _visible(spark, path) == _expected(40)
    live = S.live_partitions(path)
    assert live is not None and len(live) <= 8 + 4
    # tiered bound: snapshot count grows logarithmically, not linearly
    snaps = [b for b in live if b < 0]
    assert snaps and len(snaps) <= 4
    # the root holds live dirs plus at most the in-flight margin —
    # folded sources are GC'd, not abandoned
    assert len(S._partitions(path)) <= len(live) + 1
    # row accounting is manifest-aware
    assert S.live_rows(path) == 400


def test_compaction_never_folds_own_or_future_batch(spark, tmp_path):
    """Replay safety: only strictly-earlier (checkpoint-committed)
    batches fold. The replaying batch's own already-published partition
    and a not-yet-published higher id stay untouched."""
    path = str(tmp_path / "state")
    _registered(spark, path, 5)
    _write_delta(spark, path, 5, lo=50, n=10)  # in flight, unpublished
    before = _visible(spark, path)
    assert S.maybe_compact(spark, path, batch_id=4, every=2)
    live = S.live_partitions(path)
    assert 4 in live  # own: still live
    assert [b for b in live if 0 <= b < 4] == []  # earlier: folded
    assert 5 in S._partitions(path) and 5 not in live  # future: intact
    assert _visible(spark, path) == before


def test_merge_variant_preserves_groupwise_sums(spark, tmp_path):
    """qs15's shape: additive count-min cells fold via a groupBy-sum
    merge, gated by a merge-preserved invariant; the folded table
    serves the same totals as the raw history."""
    path = str(tmp_path / "cells")
    os.makedirs(path)
    for b in range(4):
        spark.createDataFrame(
            [(d, c, 1) for d in range(2) for c in range(8)],
            "depth int, cell int, counts long",
        ).write.mode("overwrite").parquet(os.path.join(path, f"__b={b}"))
        S.register_batch(path, b)
    merge = lambda df: df.groupBy("depth", "cell").agg(  # noqa: E731
        F.sum("counts").alias("counts")
    )
    inv = lambda df: df.agg(  # noqa: E731
        F.sum("counts").cast("bigint").alias("s"),
        F.countDistinct("depth", "cell").alias("d"),
    )
    assert S.maybe_compact(
        spark, path, batch_id=4, every=2, merge=merge, invariant=inv
    )
    got = {
        (r.depth, r.cell): r.counts
        for r in merge(S.read_side(spark, path)).collect()
    }
    assert got == {(d, c): 4 for d in range(2) for c in range(8)}
    # merged snapshot is 16 rows, not 64
    snap = [b for b in S.live_partitions(path) if b < 0]
    assert len(snap) == 1
    assert spark.read.parquet(
        os.path.join(path, f"__b={snap[0]}")
    ).count() == 16


def test_merge_without_invariant_is_refused(spark, tmp_path):
    path = str(tmp_path / "cells")
    _registered(spark, path, 3)
    with pytest.raises(ValueError, match="invariant"):
        S.maybe_compact(
            spark, path, batch_id=3, every=2, merge=lambda df: df
        )


def test_checksum_gate_aborts_and_leaves_sources(spark, tmp_path):
    """A fold whose merge drops rows goes loudly red BEFORE it is
    published — x55's compute-from-the-rewritten-files contract: no new
    manifest generation, no snapshot dir left behind, same content."""
    path = str(tmp_path / "state")
    _registered(spark, path, 4)
    before = _visible(spark, path)
    gen, _ = S._latest_manifest(path)
    bad_merge = lambda df: df.filter(F.col("k") % 2 == 0)  # noqa: E731
    identity_inv = S._default_invariant  # NOT preserved by bad_merge
    with pytest.raises(RuntimeError, match="content.*invariant"):
        S.maybe_compact(
            spark,
            path,
            batch_id=4,
            every=2,
            merge=bad_merge,
            invariant=identity_inv,
        )
    assert S._latest_manifest(path)[0] == gen
    assert sorted(S._partitions(path)) == [0, 1, 2, 3]
    assert sorted(S.live_partitions(path)) == [0, 1, 2, 3]
    assert _visible(spark, path) == before


def test_manifest_protocol_is_rename_free(spark, tmp_path, monkeypatch):
    """The visibility protocol performs no os.rename: drive a full
    fold with rename booby-trapped. (Scope per the module docs: this
    is about the publish/GC protocol — Spark's own parquet committer
    renames inside a partition write, which is the platform
    committer's job on a real object store — so the trap arms only
    around the side_state calls, not the data writes.)"""

    def bomb(*a, **k):
        raise AssertionError("os.rename in manifest visibility protocol")

    path = str(tmp_path / "state")
    os.makedirs(path)
    for b in range(4):
        _write_delta(spark, path, b, lo=b * 10, n=10)
        monkeypatch.setattr(S.os, "rename", bomb)
        S.register_batch(path, b)
        monkeypatch.setattr(S.os, "rename", os.rename)
    monkeypatch.setattr(S.os, "rename", bomb)
    assert S.maybe_compact(spark, path, batch_id=4, every=2)
    monkeypatch.setattr(S.os, "rename", os.rename)
    assert _visible(spark, path) == _expected(4)
    assert [b for b in S.live_partitions(path) if b < 0]


def test_reader_sees_pre_or_post_fold_at_every_crash_point(
    spark, tmp_path, monkeypatch
):
    """Systematic crash injection over every destructive/commit fs op
    in the fold (manifest publishes via os.replace, GC/sweep via
    shutil.rmtree, retention pruning via os.remove). After EVERY crash
    point, WITHOUT recovery, a reader must see exactly the pre-fold or
    the post-fold row set, and after the next fold-start call
    (recovery) the same must hold with the garbage swept."""
    import itertools

    real_replace, real_rmtree, real_remove = (
        os.replace,
        S.shutil.rmtree,
        os.remove,
    )
    pre, post = _expected(4), _expected(4)
    for crash_at in itertools.count(1):
        path = str(tmp_path / f"state_{crash_at}")
        _registered(spark, path, 4)
        calls = {"n": 0}

        def _tick(_c=calls, _ca=crash_at):
            _c["n"] += 1
            if _c["n"] == _ca:
                raise RuntimeError("injected crash")

        def bomb_replace(src, dst, *, _t=_tick):
            _t()
            return real_replace(src, dst)

        def bomb_rmtree(p, *a, _t=_tick, **k):
            _t()
            return real_rmtree(p, *a, **k)

        def bomb_remove(p, *, _t=_tick):
            _t()
            return real_remove(p)

        monkeypatch.setattr(S.os, "replace", bomb_replace)
        monkeypatch.setattr(S.shutil, "rmtree", bomb_rmtree)
        monkeypatch.setattr(S.os, "remove", bomb_remove)
        try:
            S.maybe_compact(spark, path, batch_id=4, every=2)
            crashed = False
        except RuntimeError as e:
            assert "injected crash" in str(e)
            crashed = True
        finally:
            monkeypatch.setattr(S.os, "replace", real_replace)
            monkeypatch.setattr(S.shutil, "rmtree", real_rmtree)
            monkeypatch.setattr(S.os, "remove", real_remove)
        # no recovery yet: the reader's view is already exactly pre or
        # post (the publish is the only visibility transition)
        assert _visible(spark, path) in (pre, post), f"crash {crash_at}"
        # recovery = the next fold-start call
        S.maybe_compact(spark, path, batch_id=4, every=8)
        assert _visible(spark, path) in (pre, post), f"crash {crash_at}"
        live = set((S.live_partitions(path) or {}).values())
        on_disk = set(S._partitions(path).values())
        assert on_disk <= live, f"unswept garbage at crash {crash_at}"
        if not crashed:
            break


def test_torn_manifest_falls_back_to_previous_generation(spark, tmp_path):
    path = str(tmp_path / "state")
    _registered(spark, path, 3)
    before = _visible(spark, path)
    gen, _ = S._latest_manifest(path)
    # a torn local write / truncated PUT: garbage bytes under the next
    # generation's name — readers must skip it (sha mismatch), not
    # error and not see a partial part list
    with open(
        os.path.join(S._mdir(path), f"m-{gen + 1:012d}.json"), "w"
    ) as fh:
        fh.write('{"gen": %d, "parts": ["__b=' % (gen + 1))
    assert _visible(spark, path) == before
    # and the writer path keeps going: the next publish overwrites the
    # torn object deterministically
    _write_delta(spark, path, 3, lo=30, n=10)
    S.register_batch(path, 3)
    assert _visible(spark, path) == _expected(4)


def test_torn_published_snapshot_rolls_back_to_sources(
    spark, tmp_path, monkeypatch
):
    """Power-loss emulation in the publish→GC window: the manifest
    committed (snapshot live, rows recorded) but the snapshot's pages
    are gone. Recovery must publish a rollback manifest naming the
    still-present sources — never serve the truncated snapshot."""
    path = str(tmp_path / "state")
    _registered(spark, path, 4)
    before = _visible(spark, path)
    # crash on the FIRST destructive op after the publish: the fold is
    # committed, GC never starts, sources intact
    real_rmtree = S.shutil.rmtree
    real_publish = S._publish_manifest
    state = {"published": False}

    def tracking_publish(*a, **k):
        out = real_publish(*a, **k)
        state["published"] = True
        return out

    def bomb_rmtree(p, *a, **k):
        if state["published"]:
            raise RuntimeError("injected crash")
        return real_rmtree(p, *a, **k)

    monkeypatch.setattr(S, "_publish_manifest", tracking_publish)
    monkeypatch.setattr(S.shutil, "rmtree", bomb_rmtree)
    with pytest.raises(RuntimeError, match="injected crash"):
        S.maybe_compact(spark, path, batch_id=4, every=2)
    monkeypatch.setattr(S.shutil, "rmtree", real_rmtree)
    monkeypatch.setattr(S, "_publish_manifest", real_publish)
    # the fold committed; now tear the published snapshot's data
    live = S.live_partitions(path)
    snap = next(d for b, d in live.items() if b < 0)
    for root_, _dirs, files in os.walk(os.path.join(path, snap)):
        for f in files:
            if f.endswith(".parquet"):
                os.remove(os.path.join(root_, f))
    # recovery at the next fold-start call
    assert S.maybe_compact(spark, path, batch_id=4, every=8) is False
    assert _visible(spark, path) == before
    live = S.live_partitions(path)
    assert sorted(b for b in live) == [0, 1, 2, 3]
    assert not os.path.exists(os.path.join(path, snap))


def test_register_batch_is_replay_idempotent(spark, tmp_path):
    path = str(tmp_path / "state")
    os.makedirs(path)
    _write_delta(spark, path, 0, lo=0, n=5)
    S.register_batch(path, 0)
    gen1, _ = S._latest_manifest(path)
    # replay: overwrite + re-register publishes nothing new
    _write_delta(spark, path, 0, lo=0, n=5)
    S.register_batch(path, 0)
    gen2, _ = S._latest_manifest(path)
    assert gen1 == gen2
    assert _visible(spark, path) == _expected(1, per=5)


def test_unpublished_partition_is_invisible_until_replay_publishes(
    spark, tmp_path
):
    """Crash between the data write and the publish: the dir exists
    but readers don't see it; a replayed batch overwrites and
    publishes it — exactly-once visible contents."""
    path = str(tmp_path / "state")
    _registered(spark, path, 1)
    _write_delta(spark, path, 1, lo=10, n=10)  # crash before publish
    assert _visible(spark, path) == _expected(1)
    _write_delta(spark, path, 1, lo=10, n=10)  # replay
    S.register_batch(path, 1)
    assert _visible(spark, path) == _expected(2)


def test_plan_fold_tiered_bounds_property():
    """The pure planning function upholds the module's two asserted
    bounds over random (batch count, every, ratio) — simulated without
    Spark, so hypothesis can actually explore: live snapshot count
    stays O(log_ratio B) and no row is rewritten more than
    O(log_ratio B) times across a whole run."""
    import math

    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=200, deadline=None)
    @given(
        batches=st.integers(min_value=8, max_value=400),
        every=st.integers(min_value=2, max_value=16),
        ratio=st.floats(min_value=1.2, max_value=4.0),
        per=st.integers(min_value=1, max_value=50),
    )
    def run(batches, every, ratio, per):
        parts: dict[int, str] = {}
        rows: dict[str, int] = {}
        rewrites: dict[str, int] = {}  # dir -> max rewrite depth inside
        for b in range(batches):
            planned = S._plan_fold(parts, rows, b, every, ratio=ratio)
            if planned is not None:
                fold, dest = planned
                rows[dest] = sum(rows[d] for d in fold)
                rewrites[dest] = 1 + max(rewrites.get(d, 0) for d in fold)
                for d in fold:
                    del rows[d]
                    rewrites.pop(d, None)
                parts = {
                    k: v for k, v in parts.items() if v not in fold
                }
                parts[-int(dest.split("-")[1])] = dest
            parts[b] = f"__b={b}"
            rows[f"__b={b}"] = per
            rewrites[f"__b={b}"] = 0
        n_rows = batches * per
        # a snapshot of size s absorbs a fold of t rows only when
        # s <= ratio*t, so every rewrite multiplies the containing
        # snapshot's size by >= (1 + 1/ratio) — the growth base the
        # logarithmic bounds actually follow
        base = 1.0 + 1.0 / ratio
        bound = 2 + math.log(max(n_rows / max(per * every, 1), 1), base)
        snaps = [b for b in parts if b < 0]
        assert len(snaps) <= bound + 1, (
            f"{len(snaps)} snapshots vs bound {bound}"
        )
        # every row's rewrite count is logarithmic, not linear
        assert all(v <= bound + 1 for v in rewrites.values()), (
            f"max rewrite depth {max(rewrites.values())} vs {bound}"
        )
        # live dir count: deltas cap at `every` + snapshots
        n_deltas = len([b for b in parts if b >= 0])
        assert n_deltas <= every + 1

    run()


def _assert_live_compaction_matches_oracle(
    spark, sf_dir, oracle_con, monkeypatch, query: str, every: int,
    on_fold=None,
) -> list[str]:
    """Build ``query`` with compaction forced every ``every`` batches,
    assert it matches the oracle exactly and that at least one fold ran;
    return the side-table paths that folded. ``on_fold(path)`` runs
    right after each fold, while the side table still exists."""
    from twitter_kafka_etl_spark.plans import REGISTRY
    from twitter_kafka_etl_spark.plans.oracle import compare

    real_compact = S.maybe_compact
    folded = []

    def counting_compact(spark_, path, *a, **k):
        if real_compact(spark_, path, *a, **k):
            folded.append(path)
            if on_fold is not None:
                on_fold(path)
            return True
        return False

    monkeypatch.setattr(S, "maybe_compact", counting_compact)
    monkeypatch.setenv("SPARK_GRAFT_SIDE_COMPACT_EVERY", str(every))
    out = REGISTRY[query].build(spark, sf_dir)
    ok, msg = compare(out, oracle_con, REGISTRY[query].oracle)
    assert ok, msg
    assert folded, "compaction never fired"
    return folded


def test_qs12_with_live_compaction_matches_oracle(
    spark, sf_dir, oracle_con, monkeypatch
):
    """End-to-end: qs12 with compaction forced live mid-stream
    (every=2 over the 4-batch oracle schedule) produces the exact
    oracle result — the fold is invisible to query semantics."""
    _assert_live_compaction_matches_oracle(
        spark, sf_dir, oracle_con, monkeypatch,
        "qs12_stream_incremental_dedup", every=2,
    )


def test_qs17_with_live_compaction_matches_oracle(
    spark, sf_dir, oracle_con, monkeypatch
):
    """Same end-to-end gate for the near-dup ingest: its one side
    table (the kept corpus, bands inline) compacts mid-stream and the
    4-level recursion oracle still matches exactly."""
    _assert_live_compaction_matches_oracle(
        spark, sf_dir, oracle_con, monkeypatch,
        "qs17_stream_neardup_ingest", every=2,
    )


@pytest.mark.parametrize(
    "query",
    ["qs14_stream_novelty", "qs15_stream_heavy_hitters"],
    ids=lambda q: q.split("_", 1)[0],
)
def test_live_compaction_matches_oracle(
    spark, sf_dir, oracle_con, monkeypatch, query
):
    """The same gate for the remaining ingest folds, so all four run
    with compaction live: qs14's novelty state, and qs15, the one fold
    whose compaction uses a custom merge/invariant pair."""
    _assert_live_compaction_matches_oracle(
        spark, sf_dir, oracle_con, monkeypatch, query, every=2
    )
