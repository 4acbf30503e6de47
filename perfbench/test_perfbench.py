"""Tests of the benchmark's generator, output checks and record comparison.
They need no Spark session: ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import json
import os
import types

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import compare, gen, harness, reference
from perfbench.trace import Tracer
from perfbench.workloads import WORKLOADS, Ingest


class _Ctx:
    def __init__(self, work: str, seed: int = 11):
        self.seed, self.seconds, self.work = seed, 2.0, work
        self.inputs = os.path.join(work, "inputs")
        self.input_gen_s = 0.0


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_workload_inputs_same_seed_same_digest(tmp_path, name):
    """The inputs each workload writes, at the sizes it runs them."""
    digests = []
    for seed, sub in ((3, "a"), (3, "b"), (4, "c")):
        ctx = _Ctx(str(tmp_path / sub), seed)
        WORKLOADS[name](ctx).write_inputs()
        digests.append(ctx.input_digest)
    assert digests[0] == digests[1] != digests[2]


def test_truth_matches_documents():
    table, truth = gen.documents(5, 400)
    texts = table.column("text").to_pylist()
    assert len(truth["exact_drops"]) == len(truth["exact_dup_of"]) > 0
    for dup, src in truth["exact_dup_of"].items():
        assert texts[int(dup)] == texts[src]
    for near, src in truth["near_dup_of"].items():
        assert texts[int(near)] != texts[src]
        assert sum(a != b for a, b in zip(texts[int(near)].split(), texts[src].split())) == 1


def _ingest_run(tmp_path) -> tuple[Ingest, dict]:
    """A correct raw layer for a few wire files, written without Spark."""
    wl = Ingest(_Ctx(str(tmp_path)))
    wl.events_per_file, wl.n_open, wl.n_backlogs = 30, 3, 0
    wl.prepare()
    run = {"in": str(tmp_path / "in"), "raw": str(tmp_path / "raw"), "n_files": 3}
    os.makedirs(run["in"])
    rows = []
    for k in range(run["n_files"]):
        with open(os.path.join(run["in"], f"part-{k:05d}.json"), "wb") as fh:
            fh.write(wl.files[k])
        rows += [json.loads(json.loads(x)["value"]) for x in wl.files[k].splitlines()]
    df = pd.DataFrame(rows)
    df["date"], df["hour"] = df["ts"].str[:10], df["ts"].str[11:13]
    for (d, h), part in df.groupby(["date", "hour"]):
        path = os.path.join(run["raw"], f"date={d}", f"hour={h}")
        os.makedirs(path)
        pq.write_table(pa.Table.from_pandas(part.drop(columns=["date", "hour"]),
                                            preserve_index=False),
                       os.path.join(path, "part-0.parquet"))
    return wl, run


def test_ingest_dropped_row_fails(tmp_path):
    wl, run = _ingest_run(tmp_path)
    attempted = run["n_files"] * wl.events_per_file
    assert wl.check(run) == 0
    victim = sorted(
        os.path.join(d, f) for d, _, fs in os.walk(run["raw"]) for f in fs
    )[0]
    t = pq.read_table(victim)
    pq.write_table(t.slice(1), victim)
    assert wl.check(run) / attempted > 0


def test_ingest_duplicated_row_fails(tmp_path):
    wl, run = _ingest_run(tmp_path)
    victim = sorted(
        os.path.join(d, f) for d, _, fs in os.walk(run["raw"]) for f in fs
    )[0]
    t = pq.read_table(victim)
    pq.write_table(pa.concat_tables([t, t.slice(0, 1)]), victim)
    assert wl.check(run) > 0


def test_serve_dropped_row_fails(tmp_path):
    inputs = str(tmp_path / "in")
    os.makedirs(inputs)
    gen.write_table(gen.events(2, 500), os.path.join(inputs, "events.parquet"))
    expected = reference.topic_counts(inputs)
    emotions = ["joy", "fear"]
    wide = pd.DataFrame({
        "topic_agg": sorted(expected),
        "positivity_rate": 0.5,
        "counts": [expected[t] for t in sorted(expected)],
        "topic": sorted(expected),
        "joy": [expected[t] - 1 for t in sorted(expected)],
        "fear": 1,
    })
    sinks = []
    for name in ("a", "b"):
        os.makedirs(tmp_path / name)
        wide.to_parquet(tmp_path / name / "part-0.parquet", index=False)
        sinks.append(str(tmp_path / name))
    long = wide[["topic_agg", *emotions]].melt(
        id_vars=["topic_agg"], var_name="emotion", value_name="counts")
    assert reference.check_serve(expected, sinks, long, emotions) == 0
    assert reference.check_serve(expected, sinks, long.iloc[1:], emotions) > 0
    wide.iloc[1:].to_parquet(tmp_path / "b" / "part-0.parquet", index=False)
    assert reference.check_serve(expected, sinks, long, emotions) > 0


def test_curated_duplicate_or_foreign_row_fails(tmp_path):
    rows = pd.DataFrame({"doc_id": [1, 2, 3], "source": "src0", "n_tokens": 10, "seq_id": 0})
    path = tmp_path / "curated" / "split=train"
    os.makedirs(path)
    rows.to_parquet(path / "part-0.parquet", index=False)
    sink = str(tmp_path / "curated")
    _, ok = reference.curated_digest(sink, {1, 2, 3})
    assert ok
    assert not reference.curated_digest(sink, {1, 2})[1]
    pd.concat([rows, rows.iloc[:1]]).to_parquet(path / "part-0.parquet", index=False)
    assert not reference.curated_digest(sink, {1, 2, 3})[1]


class _FakeSession:
    """Stands in for a session: the cache calls do nothing and the job
    counter counts what ``_Counted`` issues."""

    def __init__(self):
        self.total = 0
        dag = types.SimpleNamespace(numTotalJobs=lambda: self.total)
        jsc = types.SimpleNamespace(getPersistentRDDs=dict,
                                    sc=lambda: types.SimpleNamespace(dagScheduler=lambda: dag))
        self.catalog = types.SimpleNamespace(clearCache=lambda: None)
        self.sparkContext = types.SimpleNamespace(_jsc=jsc)


class _Counted:
    """A workload whose k-th iteration issues ``jobs[k]`` Spark jobs."""

    name, rows = "curate", 1

    def __init__(self, spark, jobs):
        self.spark, self.jobs = spark, iter(jobs)

    def iterate(self, out_dir):
        self.spark.total += next(self.jobs)
        return {}

    def check(self, out):
        return 0


def test_fewer_jobs_than_warm_up_fails(tmp_path, monkeypatch):
    """An iteration served by state the warm-up left behind issues fewer
    jobs than the warm-up did; every such iteration is a failure."""
    monkeypatch.setattr(harness, "jvm_pid", os.getpid)

    def failed(jobs):
        spark = _FakeSession()
        ctx = types.SimpleNamespace(spark=spark, work=str(tmp_path), tracer=Tracer(False, "off"))
        res = harness.run_pass(_Counted(spark, jobs), ctx, 60, max_iters=len(jobs) - 1)
        assert res["jobs"] == jobs
        return res["failed"]

    assert failed([60, 60, 60]) == 0
    assert failed([60, 52, 52]) == 2


def test_compare_refuses_unlike_hosts():
    def rec(nproc, value):
        return {"host": {"nproc": nproc, "spark_graft_cpus": str(nproc)}, "workload": "serve",
                "end_to_end": {"latency_p50_s": {"value": value, "unit": "s"}}}

    assert compare.compare([rec(4, 2.0)], [rec(4, 1.0)])["latency_p50_s"][2] == 0.5
    with pytest.raises(ValueError):
        compare.compare([rec(4, 2.0)], [rec(32, 1.0)])


def test_qs17_reference_folds_batches_in_order(tmp_path):
    """Batch 0 keeps the first of two equal texts; a near copy in batch 1
    shares band keys with a kept document and is dropped; batch 1's new
    text is kept."""
    base = " ".join(f"w{i}" for i in range(40))
    near = base.replace("w39", "x39")  # one of 38 shingles differs
    other = " ".join(f"v{i}" for i in range(40))
    texts = [base, base, near, other]
    table = pa.table({
        "doc_id": pa.array([0, 1, 2, 3], pa.int64()), "text": texts,
        "lang": ["en"] * 4, "source": ["src0"] * 4,
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(table, tmp_path / "documents.parquet")
    assert reference.qs17_kept(str(tmp_path), 2) == {(0, 0), (3, 1)}


def test_self_time_subtracts_children():
    from perfbench.trace import Tracer

    t = Tracer(True, "t")
    t.spans = [
        {"id": 0, "name": "a", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "b", "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "name": "c", "parent": 0, "start": 3.0, "end": 5.0},
    ]
    assert t.self_times() == {0: 6.0, 1: 3.0, 2: 2.0}
