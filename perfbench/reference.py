"""Reference results computed outside Spark, and the output checks.

Every check returns the number of failed operations it found (0 when the
output is right). References come from DuckDB over the generated inputs
and from plain Python; streaming timings come from the checkpoints the
engine leaves behind.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os

import duckdb
import pyarrow.parquet as pq


def _con() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    return con


def topic_counts(inputs: str) -> dict[str, int]:
    with _con() as con:
        rows = con.execute(
            "SELECT event_type, count(*) FROM read_parquet(?) GROUP BY 1",
            [os.path.join(inputs, "events.parquet")],
        ).fetchall()
    return dict(rows)


def check_serve(expected: dict[str, int], sinks: list[str], pdf, emotions: list[str]) -> int:
    """Per-topic totals and emotion pivot sums equal the event counts in
    both sinks; the pandas hand-off has topics x emotions rows whose
    counts equal the pivot."""
    fails = 0
    tables = []
    with _con() as con:
        for path in sinks:
            df = con.execute(
                f"SELECT * FROM read_parquet('{path}/*.parquet') ORDER BY topic_agg"
            ).df()
            tables.append(df)
            totals = dict(zip(df["topic_agg"], df["counts"]))
            pivot = dict(zip(df["topic_agg"], df[emotions].sum(axis=1)))
            fails += int(totals != expected) + int(pivot != expected)
    fails += int(not tables[0].equals(tables[1]))
    if len(pdf) != len(expected) * len(emotions):
        fails += 1
    wide = tables[0].set_index("topic_agg")
    got = {(r.topic_agg, r.emotion): r.counts for r in pdf.itertuples()}
    want = {(t, e): wide.at[t, e] for t in wide.index for e in emotions}
    return fails + int(got != want)


def curated_digest(sink: str, allowed: set[int]) -> tuple[str, bool]:
    """Digest of the curated sink, and whether its ids are distinct,
    non-empty and drawn from ``allowed``."""
    with _con() as con:
        rows = con.execute(
            f"SELECT doc_id, source, n_tokens, split, seq_id FROM read_parquet("
            f"'{sink}/*/*.parquet', hive_partitioning = true, hive_types_autocast = false) "
            "ORDER BY doc_id"
        ).fetchall()
    ids = [r[0] for r in rows]
    ok = bool(ids) and len(set(ids)) == len(ids) and set(ids) <= allowed
    return hashlib.sha256(repr(rows).encode()).hexdigest(), ok


def qs17_kept(inputs: str, n_batches: int) -> set[tuple[int, int]]:
    """The kept (doc_id, batch) set of the near-duplicate ingest fold.

    Signatures and band keys come from the registered ``_SIG_CTE`` and
    ``_BAND_BRANCHES`` SQL evaluated in DuckDB; the fold itself is a plain
    loop over the ``n_batches`` id-range batches: within a batch keep the
    minimum id per md5 fingerprint, then reject a document whose
    fingerprint or any band key was kept by an earlier batch.
    """
    from twitter_kafka_etl_spark.plans.extensions import _BAND_BRANCHES, _SIG_CTE

    with _con() as con:
        path = os.path.join(inputs, "documents.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        docs = con.execute("SELECT doc_id, md5(text) FROM documents ORDER BY doc_id").fetchall()
        bands = con.execute(
            f"WITH {_SIG_CTE}, bands AS ({_BAND_BRANCHES}) SELECT doc_id, band, sig FROM bands"
        ).fetchall()
    width = max(d for d, _ in docs) // n_batches + 1
    keys: dict[int, set] = {}
    for d, b, s in bands:
        keys.setdefault(d, set()).add((b, s))
    seen_fp: set[str] = set()
    seen_bands: set = set()
    kept: set[tuple[int, int]] = set()
    for batch in range(n_batches):
        first: dict[str, int] = {}
        for d, fp in docs:
            if d // width == batch and fp not in first:
                first[fp] = d
        now = [
            (d, fp) for fp, d in first.items()
            if fp not in seen_fp and not (keys.get(d, set()) & seen_bands)
        ]
        for d, fp in now:
            kept.add((d, batch))
            seen_fp.add(fp)
            seen_bands |= keys.get(d, set())
    return kept


def _log_entries(path: str) -> list[dict]:
    """JSON lines of one streaming metadata-log file (after its version)."""
    with open(path) as fh:
        lines = fh.read().splitlines()
    return [json.loads(x) for x in lines[1:] if x.strip()]


def checkpoint_batches(ckpt: str) -> list[dict]:
    """Committed micro-batches of a file-source stream: trigger time
    (``batchTimestampMs`` of the offset log), commit time (mtime of the
    commit log entry) and the input files, in batch order."""
    commits = os.path.join(ckpt, "commits")
    if not os.path.isdir(commits):
        return []
    files: dict[int, list[str]] = {}
    src = os.path.join(ckpt, "sources", "0")
    for name in os.listdir(src) if os.path.isdir(src) else []:
        if name.startswith("."):
            continue
        for e in _log_entries(os.path.join(src, name)):
            batch = files.setdefault(e["batchId"], [])
            if e["path"] not in batch:
                batch.append(e["path"])
    out = []
    for name in os.listdir(commits):
        if not name.isdigit():
            continue
        bid = int(name)
        with open(os.path.join(ckpt, "offsets", name)) as fh:
            meta = json.loads(fh.read().splitlines()[1])
        out.append({
            "id": bid,
            "triggered": meta["batchTimestampMs"] / 1000,
            "committed": os.stat(os.path.join(commits, name)).st_mtime,
            "files": files.get(bid, []),
        })
    return sorted(out, key=lambda b: b["id"])


def sink_hour_partitions(raw: str) -> dict[int, int]:
    """Batch id -> distinct (date, hour) directories it wrote, from the
    file sink's metadata log."""
    log = os.path.join(raw, "_spark_metadata")
    out: dict[int, set] = {}
    for name in os.listdir(log) if os.path.isdir(log) else []:
        # a .compact file holds earlier batches' files without their ids
        if name.isdigit():
            entries = _log_entries(os.path.join(log, name))
            out[int(name)] = {os.path.dirname(e["path"]) for e in entries}
    return {b: len(v) for b, v in out.items()}


def wire_hour_counts(wire_dir: str) -> dict[str, int]:
    """Events per ``YYYY-MM-DD/HH`` over the wire files, by DuckDB."""
    with _con() as con:
        rows = con.execute(
            "SELECT substr(ts, 1, 10) || '/' || substr(ts, 12, 2), count(*) FROM ("
            "  SELECT json_extract_string(value, '$.ts') AS ts FROM read_json(?, "
            "  columns = {key: 'VARCHAR', value: 'VARCHAR', topic: 'VARCHAR'}, "
            "  format = 'newline_delimited')) GROUP BY 1",
            [os.path.join(wire_dir, "*.json")],
        ).fetchall()
    return dict(rows)


def raw_hour_counts(raw: str) -> dict[str, int]:
    """Rows per ``YYYY-MM-DD/HH`` in the raw layer; a duplicated event id
    is counted once more under the key ``"duplicates"``."""
    files = glob.glob(os.path.join(raw, "date=*", "hour=*", "*.parquet"))
    if not files:
        return {}
    with _con() as con:
        rows = con.execute(
            "SELECT date || '/' || hour, count(*) FROM read_parquet(?, hive_partitioning = true, "
            "hive_types_autocast = false) GROUP BY 1",
            [files],
        ).fetchall()
        dups = con.execute(
            "SELECT count(*) - count(DISTINCT event_id) FROM read_parquet(?)", [files]
        ).fetchone()[0]
    out = dict(rows)
    if dups:
        out["duplicates"] = dups
    return out


def side_tables(work: str, n_docs: int, n_batches: int) -> dict:
    """Live rows, files, bytes and compacted partitions of the fold's
    side tables. A compacted partition is one whose doc ids span more
    than one id-range batch (parquet footer statistics)."""
    from twitter_kafka_etl_spark.streaming.side_state import live_rows

    width = (n_docs - 1) // n_batches + 1
    out = {"live_rows": 0, "files": 0, "bytes": 0, "compactions": 0}
    for table in ("corpus", "bandidx"):
        path = os.path.join(work, table)
        out["live_rows"] += live_rows(path)
        for part in glob.glob(os.path.join(path, "__b=*")):
            lo, hi = None, None
            for f in glob.glob(os.path.join(part, "*.parquet")):
                out["files"] += 1
                out["bytes"] += os.path.getsize(f)
                meta = pq.ParquetFile(f).metadata
                col = meta.schema.names.index("doc_id")
                for g in range(meta.num_row_groups):
                    st = meta.row_group(g).column(col).statistics
                    if st is not None and st.has_min_max:
                        lo = st.min if lo is None else min(lo, st.min)
                        hi = st.max if hi is None else max(hi, st.max)
            if lo is not None and lo // width != hi // width:
                out["compactions"] += 1
    return out
