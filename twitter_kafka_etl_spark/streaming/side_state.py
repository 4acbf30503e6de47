"""Compaction and visibility of the streaming ingest folds' ``__b=``
side-state tables.

The id-range ingest folds (qs12–qs17) accumulate their cross-batch
state — fingerprint indexes, shingle indexes, band indexes, sketch
cells, kept corpora, monitor counts — as one hive partition
``__b=<batch_id>`` per micro-batch (``batch_dir``; the folds never spell
the name themselves), because per-batch OVERWRITE partitions are what makes
the folds replay-idempotent under foreachBatch's at-least-once delivery
(each table's write lands outside the checkpoint transaction; see
queries.py's qs12 ingest comment). The r11 100-batch probe isolated the
ONE growing per-batch cost term in that design: not state compute — flat
at horizon — but the file-listing/footer walk over the accumulating
partition dirs, +9–10 ms/batch at 100 dirs (SURVEY.md §6). Harmless in
every measured regime, linear-in-history in principle: at a crawl's
10k-th micro-batch the listing alone would cost ~1 s/batch.

``maybe_compact`` is the production fix: every ``every`` batches the
fold rolls its committed delta partitions into a SNAPSHOT partition
(``__b=-g`` — negative, so it can never collide with a real batch id
and never matches the folds' own-batch ``__b != batch_id`` exclusion),
bounding the live dir count. Three properties carry the design:

- **Size-tiered merging, not rewrite-everything.** Folding all history
  into one snapshot every N batches rewrites O(history) bytes each time
  — O(B²/N) total write amplification over a B-batch crawl. Instead the
  deltas always fold together, and an existing snapshot joins the merge
  only while it is no larger than ``ratio``× the rows already being
  folded (the Lucene/LSM tiered-merge rule). Each row is then rewritten
  O(log B) times total, and the live dir count stays ≤ every + O(log B)
  snapshots. Both bounds are asserted in tests.
- **Checksum-gated, x55's content-oracle pattern** (extensions.py x55:
  invariants computed FROM THE REWRITTEN FILES). The snapshot is read
  back and an invariant — by default row count plus a summed 60-bit
  md5 row fingerprint, the same ``_CK_MOD`` construction x55 uses — is
  compared against the same invariant over the input runs. A compaction
  that drops, duplicates or mangles one row aborts loudly BEFORE it is
  published; an additive merge (qs15's count-min cells) passes its own
  merge-preserved invariant instead.
- **One commit point: the manifest publish.** Visibility never comes
  from the directory listing. An immutable, generation-numbered
  manifest under ``_manifests/`` names the live partition dirs, and
  readers plan from the newest complete one — the metadata log
  Structured Streaming's own file sink uses. ``register_batch``
  publishes each batch's partition after its overwrite; a fold writes
  its snapshot under the final ``__b=-g`` name (unreferenced, so
  invisible), gates and fsyncs it, then publishes one manifest that
  swaps the folded dirs for the snapshot. A reader sees exactly the
  pre- or post-fold row set at every instant, with no recovery step;
  deleting the folded sources afterwards is garbage collection. See the
  manifest section below.

Replay safety: only partitions with ``0 <= __b < batch_id`` are ever
folded — strictly earlier batches, which foreachBatch has already
committed to the checkpoint before batch ``batch_id`` runs. A replayed
batch therefore always finds its own leftover partition intact (still
excluded from reads, still overwritten by the re-run, published at most
once), and a snapshot never absorbs rows the checkpoint might
re-deliver.

Call discipline: inline compaction is for tables the fold READS every
batch (the fingerprint/shingle/band indexes and the kept corpora whose
listing cost lands on every micro-batch's plan) plus bounded-size
merge-collapsible state (qs15's count-min cells). A write-only landed
layer (qs15's raw events) gets NOTHING from an inline fold — no batch
ever lists it — and rewriting a linearly-growing corpus inline costs
real scans (+21% on qs15's 100-batch probe before the split); its
small-file maintenance is the offline x55 ``layout.compact`` job, like
any other landed table.

The default trigger (16 dirs) never fires in the 4-batch oracle
harness — the committed query plans are unchanged there — and fires ~6
times per table in the 100-batch probe, which re-measures the listing
slope with compaction live.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: delta-dir count that triggers a fold (env-overridable; the 4-batch
#: oracle harness never reaches it, the 100-batch probe does ~6 times)
DEFAULT_EVERY = 16
#: an existing snapshot joins the merge only while its rows are <= this
#: multiple of the rows already folding (tiered-merge rule)
RATIO = 2.0
#: x55's checksum modulus — summable without overflow (n rows × <1e9)
_CK_MOD = 1_000_000_007


def _every() -> int:
    n = int(os.environ.get("SPARK_GRAFT_SIDE_COMPACT_EVERY", DEFAULT_EVERY))
    if n < 2:
        raise ValueError(f"SPARK_GRAFT_SIDE_COMPACT_EVERY={n}: need >= 2")
    return n


def _part(batch_id: int) -> str:
    """The partition dir name of ``batch_id`` — the one place the
    ``__b=`` format is built (per-batch writes, publishes, snapshots)."""
    return f"__b={batch_id}"


def batch_dir(path: str, batch_id: int) -> str:
    """The ``__b=<batch_id>`` partition dir of side table ``path``: where
    a fold's per-batch overwrite lands."""
    return os.path.join(path, _part(batch_id))


def _by_batch(names: Iterable[str]) -> dict[int, str]:
    """``__b`` value -> dir name for the ``__b=<int>`` names given."""
    out: dict[int, str] = {}
    for d in names:
        if d.startswith("__b="):
            try:
                out[int(d.split("=", 1)[1])] = d
            except ValueError:
                continue
    return out


def _partitions(path: str) -> dict[int, str]:
    """``__b`` value -> dir name of every partition dir ON DISK, live or
    not (the sweep's input; readers use ``live_partitions``)."""
    try:
        return _by_batch(os.listdir(path))
    except OSError:
        return {}


def _dir_stats(path: str) -> tuple[int, int]:
    """(rows, bytes) of one partition dir, from parquet footers/sizes —
    the planner is never consulted, no Spark job runs."""
    import pyarrow.parquet as pq

    rows = 0
    size = 0
    for root_, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root_, f)
                rows += pq.ParquetFile(p).metadata.num_rows
                size += os.path.getsize(p)
    return rows, size


def _default_invariant(df: DataFrame) -> DataFrame:
    """Row count + summed 60-bit md5 row fingerprint mod ``_CK_MOD``
    over ALL data columns (x55's construction lifted to arbitrary
    schemas via to_json(struct(*)) — column order fixes the serialized
    form, so the same rows always hash the same)."""
    ck = (
        F.conv(
            F.substring(F.md5(F.to_json(F.struct(*df.columns))), 1, 15),
            16,
            10,
        ).cast("bigint")
        % _CK_MOD
    )
    return df.agg(
        F.count(F.lit(1)).alias("__n"),
        F.coalesce(F.sum(ck), F.lit(0)).cast("bigint").alias("__ck"),
    )


def _fsync_tree(path: str) -> None:
    """fsync every file under ``path`` plus the dirs themselves, so the
    snapshot's data pages are durable BEFORE the manifest that commits
    it — without this, a power loss (not just a process crash) could
    persist the tiny manifest but lose the just-written parquet pages to
    delayed allocation, and readers would be served a truncated
    snapshot (r12 review finding)."""
    for root_, dirs, files in os.walk(path, topdown=False):
        for name in files:
            fd = os.open(os.path.join(root_, name), os.O_RDONLY)
            try:
                os.fsync(fd)
            finally:
                os.close(fd)
        fd = os.open(root_, os.O_RDONLY)
        try:
            os.fsync(fd)
        finally:
            os.close(fd)


def _fsync_dir(path: str) -> None:
    """fsync one directory's metadata (its entry list): a manifest is
    durably published only once its directory entry is."""
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def _plan_fold(
    parts: dict[int, str],
    rows: dict[str, int],
    batch_id: int,
    every: int,
    ratio: float | None = None,
) -> tuple[list[str], str] | None:
    """Pure fold planning (property-tested without Spark): given the
    live partitions and their row counts, return (dirs to fold,
    snapshot dest name), or None while the trigger hasn't fired.

    Policy: all committed deltas (0 <= __b < batch_id) fold; an
    existing snapshot joins the merge only while its rows are <=
    ``ratio`` x the rows already folding, smallest snapshot first so
    absorbing one can qualify the next (the Lucene/LSM tiered-merge
    rule — this is what bounds per-row rewrites to O(log B) and the
    live snapshot count to O(log_ratio B))."""
    deltas = {b: d for b, d in parts.items() if 0 <= b < batch_id}
    if len(deltas) < every:
        return None
    fold = [parts[b] for b in sorted(deltas)]
    total_rows = sum(rows[d] for d in fold)
    r = RATIO if ratio is None else ratio
    snaps = sorted((parts[b] for b in parts if b < 0), key=lambda d: rows[d])
    for d in snaps:
        if rows[d] <= r * max(total_rows, 1):
            fold.append(d)
            total_rows += rows[d]
    gen = 1 + max((-b for b in parts if b < 0), default=0)
    return fold, _part(-gen)


# ---------------------------------------------------------------------------
# Manifest visibility — the commit protocol
# ---------------------------------------------------------------------------
# Visibility is never derived from the directory listing: on S3-class
# object stores "rename" is copy+delete and a listing is eventually
# consistent. The production-standard design (Iceberg/Delta/Structured
# Streaming's own file sink) instead keeps an immutable,
# generation-numbered MANIFEST object naming the live partition dirs,
# and readers plan from the newest complete manifest instead of
# listdir. Object creation (a single PUT) is atomic, so the manifest
# publish IS the commit point — no journal, no trash, no rename, no
# rollback machinery:
#
# - ``register_batch`` publishes gen+1 = live ∪ {__b=<batch_id>} after
#   each per-batch partition overwrite (set-idempotent: a replayed
#   batch whose dir is already live publishes nothing). A crash between
#   the data write and the publish leaves an invisible dir that the
#   replay overwrites and then publishes — exactly-once table contents.
# - ``maybe_compact`` writes the snapshot DIRECTLY under its final
#   ``__b=-g`` name (unreferenced ⇒ invisible; no staging dir needed),
#   checksum-gates it from the written files, fsyncs, then publishes
#   gen+1 = (live − folded) ∪ {snapshot} with the fold recorded in the
#   manifest (``snapshot``/``rows``/``folded``). Source deletion is
#   pure GC after the commit: a crash anywhere leaves either the old
#   manifest (sources live, snapshot swept as garbage) or the new one
#   (snapshot live, leftover sources swept as garbage). A reader at ANY
#   instant — not just after recovery — sees exactly the pre- or
#   post-fold row set.
# - Recovery needs no journal: the latest manifest's ``rows`` field
#   re-verifies the published snapshot from its parquet footers while
#   the folded sources still exist (the publish→GC window — the
#   defense against a filesystem that loses fsynced pages); a torn
#   snapshot publishes a rollback manifest naming the still-present
#   sources. Unreferenced dirs are swept: any negative ``__b``
#   (abandoned snapshot) and any delta with ``__b`` < ``batch_id`` (GC
#   leftovers — a committed batch is always published, so an
#   unreferenced earlier delta can only be a folded source); ``__b`` >=
#   ``batch_id`` is an in-flight batch awaiting its publish and is
#   never touched.
# - A table with no committed manifest has published nothing: its
#   listing holds at most the first batch's in-flight partition, which
#   the folds' own-batch exclusion already hides, so ``read_side`` and
#   ``live_rows`` fall back to the listing and ``maybe_compact`` has
#   nothing to fold.
#
# Torn-manifest defense (local filesystems; S3 PUTs are all-or-
# nothing): every manifest embeds a sha256 of its canonical payload;
# readers walk generations downward to the newest manifest that parses
# and checks. Old manifests are retained ``_MANIFEST_KEEP`` deep —
# which is also the concurrent-reader grace window: a long-running read
# planned from gen G stays valid until G falls out of the window AND
# its dirs are folded+GC'd. This harness serializes reads with folds
# (foreachBatch); a production deployment sizes the window to its
# longest query, exactly like Iceberg's expire-snapshots grace.
#
# Scope note: "rename-free" is a claim about the VISIBILITY protocol
# (this module performs no os.rename — asserted in tests). Spark's
# local parquet committer still renames task files inside a single
# partition write; on a real object store that job is the platform
# committer's (S3A magic committer et al.), orthogonal to how committed
# partitions become visible.

_MANIFEST_DIR = "_manifests"
#: manifests retained (and thus the concurrent-reader grace depth)
_MANIFEST_KEEP = 8


def _mdir(path: str) -> str:
    return os.path.join(path, _MANIFEST_DIR)


def _manifest_sha(payload: dict) -> str:
    body = {k: v for k, v in payload.items() if k != "sha"}
    return hashlib.sha256(
        json.dumps(body, sort_keys=True).encode()
    ).hexdigest()


def _latest_manifest(path: str) -> tuple[int, dict | None]:
    """(generation, manifest) of the newest COMPLETE manifest — parse
    failures and sha mismatches (a torn local write) are skipped, so a
    crash mid-publish degrades to the previous generation, never to an
    error or a partial part list."""
    mdir = _mdir(path)
    try:
        names = sorted(os.listdir(mdir), reverse=True)
    except OSError:
        return 0, None
    for name in names:
        if not (name.startswith("m-") and name.endswith(".json")):
            continue
        try:
            with open(os.path.join(mdir, name), encoding="utf-8") as fh:
                m = json.load(fh)
            if m.get("sha") == _manifest_sha(m) and isinstance(
                m.get("parts"), list
            ):
                return int(m["gen"]), m
        except (OSError, ValueError, KeyError):
            continue
    return 0, None


def _publish_manifest(path: str, gen: int, parts: list[str], **meta) -> None:
    """Durably create manifest ``gen`` (tmp + fsync + atomic create +
    dir fsync — the local simulation of an object-store PUT), then
    prune generations beyond the retention window."""
    mdir = _mdir(path)
    os.makedirs(mdir, exist_ok=True)
    payload = {"gen": gen, "parts": sorted(parts), **meta}
    payload["sha"] = _manifest_sha(payload)
    # best-effort sweep of tmp files stranded by publish crashes
    # (readers never consult them — pure clutter control)
    for stale in os.listdir(mdir):
        if stale.endswith(".tmp"):
            try:
                os.remove(os.path.join(mdir, stale))
            except OSError:
                pass
    name = f"m-{gen:012d}.json"
    tmp = os.path.join(mdir, name + ".tmp")
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(payload, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, os.path.join(mdir, name))
    _fsync_dir(mdir)
    old = sorted(
        n
        for n in os.listdir(mdir)
        if n.startswith("m-") and n.endswith(".json")
    )
    for n in old[:-_MANIFEST_KEEP]:
        try:
            os.remove(os.path.join(mdir, n))
        except OSError:
            pass


def live_partitions(path: str) -> dict[int, str] | None:
    """``__b`` → dir name of the partitions the newest committed
    manifest names, or None when the table has none yet (an empty
    ``_manifests/`` dir — a crash between its mkdir and the first
    publish — counts as none: nothing ever committed)."""
    _gen, m = _latest_manifest(path)
    return None if m is None else _by_batch(m["parts"])


def register_batch(path: str, batch_id: int) -> None:
    """Make ``__b=<batch_id>`` visible; set-idempotent on replay."""
    gen, m = _latest_manifest(path)
    parts = set(m["parts"]) if m is not None else set()
    part = _part(batch_id)
    if part in parts:
        return  # replay: already visible, nothing to publish
    _publish_manifest(path, gen + 1, sorted(parts | {part}))


def read_side(
    spark: SparkSession, path: str, exclude: int | None = None
) -> DataFrame:
    """Read a side-state table's live partitions, without batch
    ``exclude``'s partition when given. ``basePath`` is pinned so the
    listed leaf dirs still yield the ``__b`` partition column.

    ``exclude`` is the folds' own-batch exclusion: a batch replayed
    after a crash between its side-table write and the checkpoint
    commit must not see its own rows as history. It is a filter on the
    partition column, so Spark prunes the partition at the scan."""
    live = live_partitions(path)
    if live is None:
        df = spark.read.parquet(path)
    elif not live:
        raise FileNotFoundError(
            f"manifest table {path} has no live partitions"
        )
    else:
        df = spark.read.option("basePath", path).parquet(
            *[os.path.join(path, d) for d in live.values()]
        )
    return df if exclude is None else df.filter(F.col("__b") != exclude)


def live_rows(path: str) -> int:
    """Footer row count over the VISIBLE partitions only — walking the
    whole table root would also count invisible garbage awaiting GC."""
    live = live_partitions(path)
    if live is None:
        return _dir_stats(path)[0]
    return sum(
        _dir_stats(os.path.join(path, d))[0] for d in live.values()
    )


def _recover_manifest(path: str, batch_id: int) -> None:
    """Crash recovery: re-verify the last published snapshot while its
    folded sources still exist, then sweep unreferenced dirs per the
    garbage rule."""
    gen, m = _latest_manifest(path)
    if m is None:
        return
    snap, rows, folded = m.get("snapshot"), m.get("rows"), m.get("folded")
    parts = set(m["parts"])
    if snap and snap in parts and rows is not None and folded:
        sources_intact = all(
            os.path.isdir(os.path.join(path, d)) for d in folded
        )
        if sources_intact:
            # publish→GC window: GC starts only after this check
            # passes, so a torn snapshot always still has its full
            # replacement material on disk.
            spath = os.path.join(path, snap)
            try:
                ok = (
                    os.path.isdir(spath)
                    and _dir_stats(spath)[0] == int(rows)
                )
            except Exception:  # unreadable footer = torn write
                ok = False
            if not ok:
                _publish_manifest(
                    path, gen + 1, sorted((parts - {snap}) | set(folded))
                )
                shutil.rmtree(spath, ignore_errors=True)
                parts = (parts - {snap}) | set(folded)
    # sweep: abandoned snapshots (negative __b, never published) and
    # folded deltas left by an interrupted GC. In-flight deltas
    # (__b >= batch_id, written but not yet published) are never touched.
    for b, d in _partitions(path).items():
        if d not in parts and (b < 0 or b < batch_id):
            shutil.rmtree(os.path.join(path, d), ignore_errors=True)


def maybe_compact(
    spark: SparkSession,
    path: str,
    batch_id: int,
    every: int | None = None,
    merge: Callable[[DataFrame], DataFrame] | None = None,
    invariant: Callable[[DataFrame], DataFrame] | None = None,
    target_file_mb: int = 128,
) -> bool:
    """Fold committed ``__b=`` delta partitions of ``path`` into a
    snapshot partition when ``every`` or more are live; otherwise only
    recovery runs (manifest reads and one listdir, no footer walk).
    Returns True when a fold ran.

    ``merge``: optional whole-frame reduction applied to the unioned
    runs (e.g. qs15's cell-wise count-min sum). Must be idempotent over
    already-merged data. ``invariant``: 1-row aggregate preserved by
    ``merge`` (REQUIRED when merge is given — the default row-identity
    checksum is only valid for pure rewrites); computed over the input
    union and over the written snapshot files, compared exactly.
    """
    if merge is not None and invariant is None:
        # validated BEFORE the trigger early-return: a mis-wired call
        # site must fail on its first batch in every harness, not at
        # batch >= every mid-production (r12 review finding)
        raise ValueError(
            "maybe_compact: a custom merge changes row identity — pass "
            "the merge-preserved invariant explicitly"
        )
    _recover_manifest(path, batch_id)
    gen, m = _latest_manifest(path)
    if m is None:
        return False  # nothing published, so nothing committed to fold
    live = _by_batch(m["parts"])
    ev = every if every is not None else _every()
    # cheap trigger check FIRST: the no-op path (every batch but the
    # folding ones) must not walk footers
    if sum(1 for b in live if 0 <= b < batch_id) < ev:
        return False
    stats = {d: _dir_stats(os.path.join(path, d)) for d in live.values()}
    planned = _plan_fold(
        live, {d: s[0] for d, s in stats.items()}, batch_id, ev
    )
    if planned is None:
        return False
    fold, dest = planned
    inv = invariant or _default_invariant
    dpath = os.path.join(path, dest)
    # an unreferenced dir under the dest name can only be an abandoned
    # snapshot the sweep above already removed; be safe against races
    shutil.rmtree(dpath, ignore_errors=True)

    src_paths = [os.path.join(path, d) for d in fold]
    union = spark.read.parquet(*src_paths)
    out = merge(union) if merge is not None else union
    n_files = max(
        1,
        math.ceil(
            sum(stats[d][1] for d in fold) / (target_file_mb * 1024 * 1024)
        ),
    )
    # direct write to the FINAL name: unreferenced ⇒ invisible, so no
    # staging dir and no install rename exist
    out.coalesce(n_files).write.mode("overwrite").parquet(dpath)

    # checksum gate BEFORE the publish, from the written files (x55: a
    # fold that drops/duplicates/mangles one row must go red here,
    # leaving the live set exactly as it was). The expected side is
    # computed over the RAW input union — a merge-preserved invariant
    # must survive the merge, so this also catches a merge that loses
    # counts, not just a bad write.
    expect = inv(union).collect()[0]
    got = inv(spark.read.parquet(dpath)).collect()[0]
    if tuple(expect) != tuple(got):
        shutil.rmtree(dpath, ignore_errors=True)
        raise RuntimeError(
            f"side-state compaction of {path} failed its content "
            f"invariant (expected {tuple(expect)}, snapshot has "
            f"{tuple(got)}); sources left untouched"
        )

    # durability fence: the snapshot's pages reach disk before the
    # manifest that commits them, and the manifest carries the row
    # count recovery re-verifies the snapshot against
    snap_rows = _dir_stats(dpath)[0]
    _fsync_tree(dpath)
    # the commit point: one atomic object creation
    _publish_manifest(
        path,
        gen + 1,
        sorted((set(m["parts"]) - set(fold)) | {dest}),
        snapshot=dest,
        rows=snap_rows,
        folded=sorted(fold),
    )
    # source deletion is pure GC now — idempotent, crash-resumable via
    # the sweep in _recover_manifest
    for d in fold:
        shutil.rmtree(os.path.join(path, d), ignore_errors=True)
    return True
