#!/usr/bin/env python
"""Per-query empirical profile: wall time, job/stage/task counts, and
per-stage executor metrics pulled from the local Spark UI's REST API
(guide §1.1/§7.1 — the "open the Stages tab" loop, scripted, since the
sandbox has no browser).

For each named query: one untimed warm run (JIT/scan ramp), then one
timed run bracketed by job-id bookkeeping; afterwards the driver's own
REST endpoint (/api/v1) is queried for the jobs/stages that ran in the
bracket. Emits one block per query:

    x06_dedup_ngram_jaccard  wall=2.913s  jobs=4  stages=11  tasks=214
      stage 12  tasks=32  run=1840ms  shufR=1.2MB  shufW=0.0MB  input=0.0MB  [desc...]

Usage: python scripts/profile_query.py [sf_dir] query [query ...]
Env:   SPARK_GRAFT_PROFILE_RUNS (default 1 timed run, min taken)
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, ".")

from bench import _evict
from twitter_kafka_etl_spark.plans import REGISTRY
from twitter_kafka_etl_spark.session import get_spark


def _api(base: str, path: str):
    with urllib.request.urlopen(base + path, timeout=10) as r:
        return json.loads(r.read())


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> int:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    if args and os.path.isdir(args[0]):
        sf_dir, args = args[0], args[1:]
    if not args:
        print("need at least one query name", file=sys.stderr)
        return 2
    spark = get_spark("tkes-profile")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    ui = sc.uiWebUrl  # e.g. http://host:4040
    app_id = sc.applicationId
    base = f"{ui}/api/v1/applications/{app_id}"

    # scan+shuffle warmup so the first profiled query isn't charged the ramp
    from twitter_kafka_etl_spark.io import read_table

    ev = read_table(spark, sf_dir, "events")
    _noop(ev.groupBy("event_type").count())
    _evict(spark)

    want = []
    for a in args:
        hits = [n for n in REGISTRY if n == a or n.split("_", 1)[0] == a]
        if not hits:
            print(f"unknown query {a}", file=sys.stderr)
            return 2
        want.extend(hits)

    for name in want:
        spec = REGISTRY[name]
        # warm run (untimed)
        sc.setJobDescription(f"warm:{name}")
        _noop(spec.build(spark, sf_dir))
        _evict(spark)
        # timed run
        jobs_before = {j["jobId"] for j in _api(base, "/jobs")}
        sc.setJobDescription(f"timed:{name}")
        t0 = time.perf_counter()
        _noop(spec.build(spark, sf_dir))
        wall = time.perf_counter() - t0
        sc.setJobDescription(None)
        # bracket by id set difference PLUS a description guard (r13
        # advice): drop bracket-interlopers from other profile passes
        # (warm:/timed: of a different query). Jobs with other
        # descriptions stay — a streaming query's foreachBatch inner
        # jobs run on the stream execution thread and carry the
        # stream's own description, not this thread-local one, and
        # they are precisely what a qs profile must include.
        own = f"timed:{name}"
        jobs = [
            j
            for j in _api(base, "/jobs")
            if j["jobId"] not in jobs_before
            and (
                (desc := j.get("description") or "") == own
                or not desc.startswith(("timed:", "warm:"))
            )
        ]
        stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
        stages = []
        for sid in stage_ids:
            try:
                atts = _api(base, f"/stages/{sid}")
            except Exception:  # noqa: BLE001 — skipped stages 404
                continue
            # latest attempt only: summing every attempt double-counts
            # a retried stage's tasks and metrics (r13 advice)
            if atts:
                stages.append(
                    max(atts, key=lambda a: a.get("attemptId", 0))
                )
        n_tasks = sum(s.get("numCompleteTasks", 0) for s in stages)
        print(
            f"\n{name}  wall={wall:.3f}s  jobs={len(jobs)}  "
            f"stages={len(stages)}  tasks={n_tasks}"
        )
        stages.sort(key=lambda s: -(s.get("executorRunTime") or 0))
        import datetime as _dt

        def _ts(v):
            try:
                return _dt.datetime.strptime(
                    v, "%Y-%m-%dT%H:%M:%S.%fGMT"
                ).timestamp()
            except Exception:  # noqa: BLE001
                return None

        for s in stages[:12]:
            mb = 1024 * 1024
            t_sub = _ts(s.get("firstTaskLaunchedTime") or "")
            t_done = _ts(s.get("completionTime") or "")
            stage_wall = (
                f"{(t_done - t_sub) * 1000:6.0f}ms"
                if t_sub and t_done
                else "     ?"
            )
            print(
                f"  stage {s['stageId']:>4}  tasks={s.get('numCompleteTasks', 0):>3}"
                f"  wall={stage_wall}"
                f"  run={s.get('executorRunTime', 0):>6}ms"
                f"  cpu={int((s.get('executorCpuTime') or 0)/1e6):>6}ms"
                f"  gc={s.get('jvmGcTime', 0):>5}ms"
                f"  fetch={s.get('shuffleFetchWaitTime', 0):>4}ms"
                f"  deser={s.get('executorDeserializeTime', 0):>5}ms"
                f"  wrT={s.get('shuffleWriteTime', 0):>4}"
                f"  shufR={(s.get('shuffleReadBytes', 0)) / mb:7.2f}MB"
                f"  shufW={(s.get('shuffleWriteBytes', 0)) / mb:7.2f}MB"
                f"  in={(s.get('inputBytes', 0)) / mb:7.2f}MB"
                f"  {(s.get('name') or '')[:60]}"
            )
        _evict(spark)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
