"""The side-state manifest log itself (streaming/side_state.py): what
each ``_manifests/m-<gen>.json`` generation records, that the log stays
bounded and self-verifying over a long drive, that a merging fold
records its post-merge row count, and that the ingest folds publish a
well-formed fold generation while matching the oracle at a compaction
cadence that leaves an unfolded delta beside the snapshot.

Content, replay-safety and crash-point tests live in test_side_state.py;
this file checks the generations they publish."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from tests.test_side_state import (
    _assert_live_compaction_matches_oracle,
    _expected,
    _visible,
    _write_delta,
)
from twitter_kafka_etl_spark.streaming import side_state as S


def _generations(path: str) -> list[dict]:
    mdir = S._mdir(path)
    out = []
    for name in sorted(os.listdir(mdir)):
        if name.startswith("m-") and name.endswith(".json"):
            with open(os.path.join(mdir, name), encoding="utf-8") as fh:
                out.append(json.load(fh))
    return out


def _assert_fold_generation(path: str) -> None:
    """The newest generation is a fold: it names its snapshot, whose
    footer row count it recorded, and its folded sources are neither
    referenced nor left on disk."""
    _gen, m = S._latest_manifest(path)
    assert m is not None and m.get("snapshot") in m["parts"]
    snap = m["snapshot"]
    assert S._by_batch([snap]) and min(S._by_batch([snap])) < 0
    assert S._dir_stats(os.path.join(path, snap))[0] == m["rows"]
    assert m["folded"] and not set(m["folded"]) & set(m["parts"])
    on_disk = set(S._partitions(path).values())
    assert not set(m["folded"]) & on_disk


def test_manifest_drive_preserves_content_and_bounds_dirs(spark, tmp_path):
    """40 batches, every=8, checked through the log: one generation per
    publish (40 registrations + one per fold), gapless and increasing;
    ``_manifests/`` keeps only the retention window; every retained
    generation verifies its sha; every fold generation is well formed;
    and the newest names exactly the dirs that serve every row."""
    path = str(tmp_path / "state")
    os.makedirs(path)
    folds = 0
    for b in range(40):
        if S.maybe_compact(spark, path, b, every=8):
            folds += 1
            _assert_fold_generation(path)
        _write_delta(spark, path, b, lo=b * 10, n=10)
        S.register_batch(path, b)
    assert folds >= 3
    gen, m = S._latest_manifest(path)
    assert gen == 40 + folds
    kept = _generations(path)
    assert len(kept) == S._MANIFEST_KEEP
    assert [g["gen"] for g in kept] == list(
        range(gen - S._MANIFEST_KEEP + 1, gen + 1)
    )
    assert all(g["sha"] == S._manifest_sha(g) for g in kept)
    assert all(g["parts"] == sorted(g["parts"]) for g in kept)
    assert not [
        n for n in os.listdir(S._mdir(path)) if n.endswith(".tmp")
    ]
    assert all(os.path.isdir(os.path.join(path, d)) for d in m["parts"])
    assert _visible(spark, path) == _expected(40)
    assert S.live_rows(path) == 400


def test_merge_variant_preserves_groupwise_sums_manifest(spark, tmp_path):
    """qs15's additive count-min shape, folded twice: each fold
    generation records the MERGED snapshot's row count (16 cells, not
    the 64 or 80 input rows), live-row accounting follows the log, and
    the second fold, whose input includes the first snapshot, keeps
    the cell totals exact."""
    path = str(tmp_path / "cells")
    os.makedirs(path)
    merge = lambda df: df.groupBy("depth", "cell").agg(  # noqa: E731
        F.sum("counts").alias("counts")
    )
    inv = lambda df: df.agg(  # noqa: E731
        F.sum("counts").cast("bigint").alias("s"),
        F.countDistinct("depth", "cell").alias("d"),
    )
    n_batches = 0
    for target in (4, 8):
        while n_batches < target:
            spark.createDataFrame(
                [(d, c, 1) for d in range(2) for c in range(8)],
                "depth int, cell int, counts long",
            ).write.mode("overwrite").parquet(
                os.path.join(path, f"__b={n_batches}")
            )
            S.register_batch(path, n_batches)
            n_batches += 1
        assert S.maybe_compact(
            spark, path, batch_id=n_batches, every=2,
            merge=merge, invariant=inv,
        )
        _assert_fold_generation(path)
        _gen, m = S._latest_manifest(path)
        assert m["rows"] == 16
        assert S.live_rows(path) == sum(
            S._dir_stats(os.path.join(path, d))[0] for d in m["parts"]
        )
        got = {
            (r.depth, r.cell): r.counts
            for r in merge(S.read_side(spark, path)).collect()
        }
        assert got == {
            (d, c): n_batches for d in range(2) for c in range(8)
        }


def test_qs12_manifest_mode_matches_oracle(
    spark, sf_dir, oracle_con, monkeypatch
):
    """qs12 with compaction every 3 over the 4-batch oracle schedule:
    the fold at batch 3 leaves batch 3's delta live beside the
    snapshot, the fold publishes a well-formed generation, and the
    result matches the oracle exactly."""
    _assert_live_compaction_matches_oracle(
        spark, sf_dir, oracle_con, monkeypatch,
        "qs12_stream_incremental_dedup", every=3,
        on_fold=_assert_fold_generation,
    )


def test_qs17_manifest_mode_matches_oracle(
    spark, sf_dir, oracle_con, monkeypatch
):
    """The same gate for the near-dup ingest, whose one side table —
    the kept corpus, bands inline — publishes the fold generation."""
    folded = _assert_live_compaction_matches_oracle(
        spark, sf_dir, oracle_con, monkeypatch,
        "qs17_stream_neardup_ingest", every=3,
        on_fold=_assert_fold_generation,
    )
    assert {os.path.basename(p) for p in folded} == {"corpus"}
