"""Seeded input generator for the benchmark.

Everything the engine reads in a benchmark run comes from here, as a pure
function of ``--seed``:

- ``documents.parquet`` in the testdata ``documents`` schema, with stated
  shares of exact duplicates, near duplicates (one token replaced) and
  low-quality (repetitive, stopword-heavy) texts;
- ``events.parquet`` in the testdata ``events`` schema;
- Kafka-wire JSON event files (``key``/``value``/``topic`` lines, the shape
  ``streaming.windows.kafka_shaped`` produces) in event-time order, with a
  stated share of late events stamped 1-24 h before their file's slot.

The ground truth sits beside the inputs in ``truth.json``: the injected
duplicate and low-quality ids and the row count per (date, hour) of the
wire events. ``digest()`` hashes every generated file, so one seed always
yields one digest.

Every workload writes its inputs through ``write_all``. Run:
``python3 perfbench/gen.py --seed 7 --out DIR`` prints the digest.
"""

from __future__ import annotations

import argparse
import datetime as dt
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "view", "error", "purchase", "signup")
LANGS = ("en", "de", "fr", "es", "zh")
STOPWORDS = ("a", "the")
#: the quality filter the curate workload applies; generated normal texts
#: score about 0.9 and low-quality texts about 0.25
QUALITY_MIN = 0.6
#: first event-time instant of every generated table (UTC)
EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

_SYLLABLES = (
    "ka", "lo", "mi", "ne", "ru", "sa", "to", "vi", "ze", "po",
    "da", "fe", "gu", "hi", "jo", "bu", "ce", "wa", "xo", "yi",
)
#: sentiment and emotion words; the serve workload's two classifiers are
#: trained on them, so generated texts spread over every label
LABEL_WORDS = {
    "positive": ("great", "fantastic", "wonderful", "amazing", "superb"),
    "negative": ("terrible", "awful", "horrible", "broken", "failure"),
    "neutral": ("report", "monday", "meeting", "rooms", "rained"),
    "surprise": ("wow", "unexpected", "twist", "shock", "sudden"),
    "fear": ("scared", "terrified", "afraid", "panic", "dread"),
    "joy": ("delighted", "cheerful", "smile", "laughing", "celebration"),
    "sadness": ("tears", "grief", "lonely", "mourning", "loss"),
    "anger": ("furious", "rage", "outraged", "shouting", "unfair"),
    "love": ("adore", "cherish", "embrace", "devoted", "tender"),
}

DOC_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
    ("source", pa.string()), ("n_chars", pa.int64()),
])
EVENT_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us")), ("user_id", pa.int64()),
    ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string()),
])


def vocabulary() -> list[str]:
    """Fixed 400-word filler vocabulary plus the label words."""
    words = [a + b + c for a in _SYLLABLES[:10] for b in _SYLLABLES[10:] for c in ("", "n")]
    return words + [w for ws in LABEL_WORDS.values() for w in ws]


def _normal_text(rng: np.random.Generator, vocab: list[str]) -> list[str]:
    n = int(rng.integers(40, 81))
    toks = [vocab[i] for i in rng.integers(0, len(vocab), n)]
    for i in np.flatnonzero(rng.random(n) < 0.08):
        toks[i] = STOPWORDS[int(rng.integers(0, 2))]
    return toks


def documents(
    seed: int,
    n_docs: int,
    exact_share: float = 0.10,
    near_share: float = 0.10,
    low_quality_share: float = 0.05,
) -> tuple[pa.Table, dict]:
    """``n_docs`` documents and their ground truth.

    Ids are shuffled over roles, so duplicates land both inside and across
    the id ranges the fold workload uses as micro-batches. Exact copies and
    near copies take their text from distinct original normal documents; a
    near copy replaces one token, which keeps its 3-shingle Jaccard similarity
    with the original near 0.9. Texts are lower-case and single-spaced, so
    the engine's normalised fingerprint separates exactly the texts that
    differ here.
    """
    rng = np.random.default_rng([seed, 1])
    vocab = vocabulary()
    n_exact = int(n_docs * exact_share)
    n_near = int(n_docs * near_share)
    n_low = int(n_docs * low_quality_share)
    n_orig = n_docs - n_exact - n_near - n_low
    roles = ["orig"] * n_orig + ["exact"] * n_exact + ["near"] * n_near + ["low"] * n_low
    ids = rng.permutation(n_docs)
    texts: list[str | None] = [None] * n_docs
    seen: set[str] = set()
    orig_ids = [int(i) for i, r in zip(ids, roles) if r == "orig"]
    for i in orig_ids:
        while True:
            t = " ".join(_normal_text(rng, vocab))
            if t not in seen:
                break
        seen.add(t)
        texts[i] = t
    truth: dict = {"exact_dup_of": {}, "near_dup_of": {}, "low_quality": []}
    # every original has at most one exact and one near copy, so each
    # duplicate cluster is a pair and the work it makes (connected-
    # component rounds, say) is the same for every seed
    exact_src = iter(rng.permutation(orig_ids)[:n_exact].tolist())
    near_src = iter(rng.permutation(orig_ids)[:n_near].tolist())
    for i, role in zip(ids, roles):
        i = int(i)
        if role == "exact":
            src = next(exact_src)
            texts[i] = texts[src]
            truth["exact_dup_of"][i] = src
        elif role == "near":
            src = next(near_src)
            while True:
                toks = texts[src].split(" ")
                toks[int(rng.integers(0, len(toks)))] = vocab[int(rng.integers(0, len(vocab)))]
                t = " ".join(toks)
                if t not in seen:
                    break
            seen.add(t)
            texts[i] = t
            truth["near_dup_of"][i] = src
        elif role == "low":
            while True:
                w = vocab[int(rng.integers(0, len(vocab)))]
                t = " ".join(["the", "a", w] * int(rng.integers(10, 30)))
                if t not in seen:
                    break
            seen.add(t)
            texts[i] = t
            truth["low_quality"].append(i)
    truth["low_quality"].sort()
    # exact groups keep their minimum id; every other member is a drop
    groups: dict[str, list[int]] = {}
    low = set(truth["low_quality"])
    for i, t in enumerate(texts):
        if i not in low:
            groups.setdefault(t, []).append(i)
    truth["exact_drops"] = sorted(i for g in groups.values() if len(g) > 1 for i in g[1:])
    truth["exact_dup_of"] = {str(k): v for k, v in sorted(truth["exact_dup_of"].items())}
    truth["near_dup_of"] = {str(k): v for k, v in sorted(truth["near_dup_of"].items())}
    table = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_docs)],
            "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        },
        schema=DOC_SCHEMA,
    )
    return table, truth


def _event_columns(rng: np.random.Generator, first_id: int, ts_us: np.ndarray) -> dict:
    n = len(ts_us)
    return {
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts": ts_us,
        "user_id": rng.integers(0, 1500, n).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, len(EVENT_TYPES), n)],
        "value": np.round(rng.random(n) * 50.0, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }


def events(seed: int, n_events: int, days: int = 30) -> pa.Table:
    """``n_events`` time-ordered events spread over ``days`` days."""
    rng = np.random.default_rng([seed, 2])
    base = int(EPOCH.timestamp() * 1_000_000)
    ts = np.sort(rng.integers(0, days * 86_400_000_000, n_events)) + base
    return pa.table(_event_columns(rng, 0, ts.astype("datetime64[us]")), schema=EVENT_SCHEMA)


def _iso_ms(us: int) -> str:
    t = EPOCH + dt.timedelta(microseconds=us - int(EPOCH.timestamp() * 1_000_000))
    return t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{t.microsecond // 1000:03d}Z"


def wire_files(
    seed: int,
    n_files: int,
    events_per_file: int,
    file_span_s: int = 360,
    late_share: float = 0.05,
) -> list[bytes]:
    """Kafka-wire JSON files ``0 .. n_files - 1``.

    File ``k`` holds the events of event-time slot ``[k, k+1) * file_span_s``
    after ``EPOCH``; a ``late_share`` of them is stamped 1-24 h earlier.
    Each line is ``{"key", "value", "topic"}`` with the key built as
    ``construct_key`` builds it (upper-cased two-letter topic prefix plus
    the event id) and the value the event row as JSON with millisecond
    timestamps. File ``k`` depends only on ``(seed, k)``.
    """
    out = []
    base = int(EPOCH.timestamp() * 1_000_000)
    span = file_span_s * 1_000_000
    for k in range(n_files):
        rng = np.random.default_rng([seed, 3, k])
        ts = base + k * span + np.sort(rng.integers(0, span, events_per_file))
        late = rng.random(events_per_file) < late_share
        ts = ts - late * rng.integers(3_600_000_000, 24 * 3_600_000_000, events_per_file)
        ts = ts // 1000 * 1000  # the wire carries milliseconds
        cols = _event_columns(rng, k * events_per_file, ts)
        lines = []
        for j in range(events_per_file):
            topic = cols["event_type"][j]
            eid = int(cols["event_id"][j])
            value = json.dumps({
                "event_id": eid,
                "ts": _iso_ms(int(ts[j])),
                "user_id": int(cols["user_id"][j]),
                "event_type": topic,
                "value": float(cols["value"][j]),
                "props": cols["props"][j],
            }, separators=(",", ":"))
            lines.append(json.dumps(
                {"key": f"{topic[:2].upper()}{eid}", "value": value, "topic": topic},
                separators=(",", ":"),
            ))
        out.append(("\n".join(lines) + "\n").encode())
    return out


def hour_counts(files: list[bytes]) -> dict[str, int]:
    """Row count per ``"YYYY-MM-DD/HH"`` over wire files."""
    counts: dict[str, int] = {}
    for blob in files:
        for line in blob.splitlines():
            ts = json.loads(json.loads(line)["value"])["ts"]
            key = f"{ts[:10]}/{ts[11:13]}"
            counts[key] = counts.get(key, 0) + 1
    return dict(sorted(counts.items()))


def digest(root: str) -> str:
    """SHA-256 over every file under ``root``: relative path and bytes."""
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(root):
        dirnames.sort()
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode() + b"\0")
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def write_table(table: pa.Table, path: str) -> None:
    """One parquet file, one row group, no wall-clock metadata."""
    pq.write_table(table, path, row_group_size=max(1, table.num_rows), compression="snappy")


def write_all(
    seed: int,
    out: str,
    n_docs: int = 0,
    n_events: int = 0,
    n_files: int = 0,
    events_per_file: int = 0,
) -> str:
    """Write the inputs a workload asks for under ``out`` (a count of 0
    skips that kind) with their ``truth.json``; return their digest."""
    os.makedirs(out, exist_ok=True)
    truth: dict = {}
    if n_docs:
        docs, truth = documents(seed, n_docs)
        write_table(docs, os.path.join(out, "documents.parquet"))
    if n_events:
        write_table(events(seed, n_events), os.path.join(out, "events.parquet"))
    if n_files:
        os.makedirs(os.path.join(out, "wire"))
        files = wire_files(seed, n_files, events_per_file)
        for k, blob in enumerate(files):
            with open(os.path.join(out, "wire", f"part-{k:05d}.json"), "wb") as fh:
                fh.write(blob)
        truth["hour_counts"] = hour_counts(files)
    with open(os.path.join(out, "truth.json"), "w") as fh:
        json.dump(truth, fh, sort_keys=True)
    return digest(out)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--docs", type=int, default=2000)
    ap.add_argument("--events", type=int, default=20000)
    ap.add_argument("--files", type=int, default=20)
    ap.add_argument("--events-per-file", type=int, default=200)
    args = ap.parse_args()
    print(write_all(args.seed, args.out, args.docs, args.events, args.files,
                    args.events_per_file))


if __name__ == "__main__":
    main()
