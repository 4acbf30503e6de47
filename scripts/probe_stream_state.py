#!/usr/bin/env python
"""Long-horizon streaming-state probe (r10 verdict item 4).

Drives the REGISTERED qs12/qs14/qs15/qs17 builders — not replicas of
their fold logic — at ~100 micro-batches over a replicated corpus, via
the ``$SPARK_GRAFT_STREAM_BATCHES`` arrival-schedule knob, and records
what the 100 TB crawl-ingest story rests on:

- per-batch wall time from the streaming CHECKPOINT the run leaves
  behind: ``offsets/<k>`` records the trigger-start batchTimestampMs,
  ``commits/<k>``'s mtime marks completion — duration_k is their
  difference (the Python StreamingQueryListener is not delivered
  events in this classic-mode deployment, so the checkpoint is the
  ground truth). The claim is a FLAT slope: each record carries
  ``slope_ms_per_batch`` (least squares over batches 21 onward, past
  warm-up) and ``decile_median_ms`` (the medians of ten equal
  consecutive slices of the run);
- state growth per batch, read back exactly from the ``__b=<batch>``
  hive partitions each ingest fold writes (parquet footer row counts,
  no data scan) — the claim is growth linear in KEPT rows only.

Usage::

    python scripts/probe_stream_state.py [sf_dir] [n_batches] [q ...]

Defaults: a 50x replication of sf0.1 (built on first use with
``make_sf_scale.py`` into /tmp/tkes_probe_sf5), 100 batches, all four
queries. Emits one JSON document on stdout; the summary lands in
SURVEY.md §6.
"""

from __future__ import annotations

import json
import os
import sys
import time

_HERE = os.path.dirname(os.path.abspath(__file__))
_REPO = os.path.dirname(_HERE)
sys.path.insert(0, _REPO)

DEFAULT_SF = "/tmp/tkes_probe_sf5"
QUERIES = (
    "qs12_stream_incremental_dedup",
    "qs14_stream_novelty",
    "qs15_stream_heavy_hitters",
    "qs17_stream_neardup_ingest",
)
#: state table(s) each query's fold appends per batch, relative to its
#: work dir (derived from the result frame's input files)
STATE_TABLES = {
    "qs12_stream_incremental_dedup": ("index", "corpus"),
    "qs14_stream_novelty": ("shindex", "stats"),
    "qs15_stream_heavy_hitters": ("cells", "raw"),
    "qs17_stream_neardup_ingest": ("corpus",),
}


def _ensure_corpus(sf_dir: str, factor: int = 50) -> str:
    if os.path.exists(os.path.join(sf_dir, ".probe_densified")):
        return sf_dir
    import subprocess

    if not os.path.exists(os.path.join(sf_dir, "documents.parquet")):
        subprocess.run(
            [
                sys.executable,
                os.path.join(_HERE, "make_sf_scale.py"),
                str(factor),
                "/root/testdata/sf0.1",
                sf_dir,
            ],
            check=True,
        )
    _densify(sf_dir)
    return sf_dir


def _densify(sf_dir: str) -> None:
    """Reshape the key-shifted replication for the long-horizon probe.

    DESTRUCTIVE — rewrites doc_id/event_id and text columns in place,
    so it refuses to touch any directory without a ``.make_sf_scale``
    provenance marker (r11 advice): the only corpora this probe may
    mutate are the replicas it staged itself via make_sf_scale.py.
    A pre-existing dataset that merely LOOKS like one (documents.parquet
    present) is left alone with a loud error instead of being reshaped.

    ``make_sf_scale`` shifts keys by 1e9 per copy (referential
    integrity), which breaks the probe two ways: id-range bucketing
    over the sparse key space collapses ~100 requested batches onto
    ~copies buckets, and verbatim text replication means every batch
    after the first is 100% exact duplicates — state never grows, so
    "per-batch cost flat while state grows" is untestable. Densify:

    - doc_id/event_id -> copy*base + original (contiguous, replica
      order preserved, so n requested batches = n equal id ranges);
    - each copy>0 document's text gets a ``' v<copy>'`` suffix: an
      exact-dedup ingest (qs12) now sees every copy as NOVEL (state
      grows linearly across the whole run — the index-growth stress),
      while a near-dup ingest (qs17) still rejects them (minhash bands
      collide on the shared prefix — the static-index probe-cost
      stress). The two queries thus cover both growth regimes.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    if not os.path.exists(os.path.join(sf_dir, ".make_sf_scale")):
        raise SystemExit(
            f"refusing to densify {sf_dir}: no .make_sf_scale provenance "
            "marker — _densify rewrites key/text columns in place and "
            "only runs on corpora this probe staged itself. Delete the "
            "directory to let the probe restage it."
        )
    offset = 1_000_000_000
    for table, key in (("documents", "doc_id"), ("events", "event_id")):
        path = os.path.join(sf_dir, f"{table}.parquet")
        t = pq.read_table(path)
        ids = t[key].to_numpy()
        if ids.max() < offset:
            continue
        copy = ids // offset
        orig = ids % offset
        base = int(orig.max()) + 1
        new_ids = copy * base + orig
        t = t.set_column(
            t.schema.get_field_index(key),
            t.schema.field(key),
            pa.array(new_ids, type=t.schema.field(key).type),
        )
        if table == "documents":
            texts = t["text"].to_pandas()
            suffix = np.where(copy > 0, [f" v{c}" for c in copy], "")
            t = t.set_column(
                t.schema.get_field_index("text"),
                t.schema.field("text"),
                pa.array(texts + suffix, type=t.schema.field("text").type),
            )
        pq.write_table(t, path)
    with open(os.path.join(sf_dir, ".probe_densified"), "w") as fh:
        fh.write("1\n")


def _partition_rows(table_dir: str) -> dict:
    """__b=<batch> -> row count, from parquet footers only (negative
    keys = compaction snapshot generations since r12). Tables without
    __b= partitions report one "total" entry — a STRING key, so the
    fallback can never collide with the real __b=-1 snapshot key
    (r12 review finding; none of the probed folds write this shape
    since qs15's r12 conversion, kept as a fallback)."""
    from twitter_kafka_etl_spark.streaming.side_state import (
        _dir_stats,
        _partitions,
    )

    out: dict = {}
    if not os.path.isdir(table_dir):
        return out
    # _partitions, not a re-parse: it already guards non-integer
    # values (a NULL label writes __b=__HIVE_DEFAULT_PARTITION__,
    # which int() would crash the probe on — r12 review)
    for b, d in _partitions(table_dir).items():
        out[b] = _dir_stats(os.path.join(table_dir, d))[0]
    if not out:
        n = _dir_stats(table_dir)[0]
        if n:
            out["total"] = n
    return out


def _trend(per_batch_ms: list[int]) -> dict:
    """Flat-slope summary of per-batch wall times: the least-squares
    slope (ms per batch) over batches 21 onward — the first 20 are
    warm-up — and the medians of ten equal consecutive slices. Batches
    whose window could not be read (-1) are left out of both."""
    import numpy as np

    ms = np.asarray(per_batch_ms, dtype=float)
    k = np.arange(1, len(ms) + 1)
    tail = (ms >= 0) & (k >= 21)
    slope = (
        round(float(np.polyfit(k[tail], ms[tail], 1)[0]), 2)
        if tail.sum() >= 2
        else None
    )
    deciles = [
        float(np.median(c[c >= 0])) if (c >= 0).any() else None
        for c in np.array_split(ms, 10)
    ] if len(ms) >= 10 else []
    return {"slope_ms_per_batch": slope, "decile_median_ms": deciles}


def _batch_windows(ckpt: str) -> list[tuple[int, int]]:
    """Per-batch (start_ms, end_ms) epoch windows in batch order, from
    the checkpoint the run left behind: start = offsets/<k>'s
    batchTimestampMs, end = commits/<k>'s mtime."""
    offsets_dir = os.path.join(ckpt, "offsets")
    commits_dir = os.path.join(ckpt, "commits")
    if not (os.path.isdir(offsets_dir) and os.path.isdir(commits_dir)):
        return []
    out = []
    for k in sorted(
        (int(f) for f in os.listdir(commits_dir) if f.isdigit())
    ):
        try:
            with open(os.path.join(offsets_dir, str(k))) as fh:
                lines = fh.read().splitlines()
            start_ms = json.loads(lines[1])["batchTimestampMs"]
            end_ms = os.stat(os.path.join(commits_dir, str(k))).st_mtime * 1000
            out.append((int(start_ms), int(end_ms)))
        except (OSError, ValueError, KeyError, IndexError):
            out.append((-1, -1))
    return out


class _LoadSampler:
    """Background 1-min-loadavg sampler, mapped onto batch windows after
    the fact — the r11 probe couldn't distinguish a mid-run cost band
    (qs12 batches 64–72 read 3→10 s and back) from host contention, so
    every per-batch duration now carries the mean host load over its
    own [start, end] window (r11 verdict task 3)."""

    def __init__(self, interval_s: float = 2.0) -> None:
        import threading

        self.samples: list[tuple[float, float]] = []  # (epoch_ms, load1)
        self._stop = threading.Event()

        def run() -> None:
            while not self._stop.wait(interval_s):
                self.samples.append(
                    (time.time() * 1000, os.getloadavg()[0])
                )

        self._t = threading.Thread(target=run, daemon=True)
        self._t.start()

    def stop(self) -> None:
        self._stop.set()
        self._t.join(timeout=5)

    def mean_in(self, start_ms: int, end_ms: int) -> float | None:
        inside = [v for t, v in self.samples if start_ms <= t <= end_ms]
        if not inside:
            # sub-interval batch: nearest sample to the window midpoint
            if not self.samples:
                return None
            mid = (start_ms + end_ms) / 2
            return min(self.samples, key=lambda s: abs(s[0] - mid))[1]
        return round(sum(inside) / len(inside), 2)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else DEFAULT_SF
    if not sf_dir.startswith("/root/testdata"):
        # never rewrites driver-provided test data; probe corpora only
        _ensure_corpus(sf_dir)
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 100
    names = sys.argv[3:] or list(QUERIES)

    os.environ["SPARK_GRAFT_STREAM_BATCHES"] = str(n_batches)

    from twitter_kafka_etl_spark.plans import REGISTRY
    from twitter_kafka_etl_spark.session import get_spark

    spark = get_spark("tkes-stream-probe")

    report: dict = {
        "sf_dir": sf_dir,
        "n_batches": n_batches,
        "queries": {},
    }
    for name in names:
        sampler = _LoadSampler()
        t0 = time.perf_counter()
        df = REGISTRY[name].build(spark, sf_dir)
        out_rows = df.count()
        wall = time.perf_counter() - t0
        sampler.stop()
        files = [f.removeprefix("file:") for f in df.inputFiles()]
        work = None
        if files:
            # walk up to the run dir (the one holding the checkpoint):
            # partitioned state tables sit one level deeper than
            # plain-append ones
            d = os.path.dirname(files[0])
            while d not in ("/", ""):
                if os.path.isdir(os.path.join(d, "ckpt")):
                    work = d
                    break
                d = os.path.dirname(d)
        windows = _batch_windows(os.path.join(work, "ckpt")) if work else []
        per_batch = [
            (e - s) if s >= 0 else -1 for s, e in windows
        ]
        entry = {
            "wall_sec": round(wall, 1),
            "result_rows": out_rows,
            "n_batches_ran": len(per_batch),
            "per_batch_ms": per_batch,
            **_trend(per_batch),
            "per_batch_load1": [
                sampler.mean_in(s, e) if s >= 0 else None
                for s, e in windows
            ],
            "state_rows_per_batch": {},
        }
        if work:
            for t in STATE_TABLES[name]:
                entry["state_rows_per_batch"][t] = _partition_rows(
                    os.path.join(work, t)
                )
        report["queries"][name] = entry
        # hygiene between query runs (bench.py's justification)
        spark.catalog.clearCache()
        try:
            for rdd in dict(
                spark.sparkContext._jsc.getPersistentRDDs()
            ).values():
                rdd.unpersist(True)
            spark.sparkContext._jvm.System.gc()
        except Exception:  # noqa: BLE001
            pass
        print(f"## {name}: {wall:.1f}s, {len(per_batch)} batches",
              file=sys.stderr)
    print(json.dumps(report))


if __name__ == "__main__":
    main()
