"""The engine process: the product under test, instrumented from
outside.

Streaming workloads start the packaged app exactly as
``python -m market_data_ingestor_go_spark`` does (``__main__.main``,
configured by the environment the benchmark sets), then wait for
``stop`` on stdin. Batch runs the registered queries through the noop
sink. Either way the engine writes what it observed to ``out.json``
in its run directory and exits; the benchmark process judges it.

    python3 perfbench/engine.py <run_dir>    # reads <run_dir>/spec.json
"""

from __future__ import annotations

import json
import os
import statistics
from concurrent.futures import ThreadPoolExecutor
import sys
import time

MIN_PASSES = 2

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import spans  # noqa: E402
import stats  # noqa: E402


def say(kind: str, payload: dict) -> None:
    print(f"PERFBENCH {kind} {json.dumps(payload)}", flush=True)


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def run_streaming(spec: dict, run_dir: str) -> dict:
    rec = spans.Recorder()
    spans.install(rec, full=spec["trace"])
    from market_data_ingestor_go_spark.session import get_spark
    spark = get_spark("perfbench")
    t_session = time.time()
    listener = None
    if spec["trace"]:
        listener = spans.ProgressListener()
        spark.streams.addListener(listener)
    from market_data_ingestor_go_spark.__main__ import main as app_main
    handle = app_main(block=False)
    say("ready", {"publisher": handle.publisher.url if handle.publisher else None,
                  "jvm_pid": jvm_pid(spark), "t_session": t_session})

    sys.stdin.readline()  # "stop", or EOF if the benchmark died
    if handle.publisher is not None:
        handle.publisher.stop()
        deadline = time.time() + 60
        while ((rec.busy("serve.latest") or rec.busy("serve.tick"))
               and time.time() < deadline):
            time.sleep(0.02)
    query = handle.query
    handle.stop()
    exc = query.exception()
    progress = [json.loads(p.json) for p in query.recentProgress]
    out = {"progress": progress, "spans": rec.spans,
           "exception": None if exc is None else
           {"class": type(exc).__name__, "message": str(exc)[:2000]},
           "listener": listener.events if listener else None}
    return out


def stage_metrics(spark, group: str) -> dict:
    """Jobs, tasks and stage totals of one job group, read from the
    status tracker and the live status store (no UI needed)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = tracker.getJobIdsForGroup(group)
    tot = {"jobs": len(jobs), "tasks": 0, "executor_run_ms": 0,
           "executor_cpu_ms": 0.0, "shuffle_read_bytes": 0,
           "shuffle_write_bytes": 0, "spill_bytes": 0}
    seen = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        for sid in (info.stageIds if info else []):
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # stage never ran (skipped) or evicted
                continue
            tot["tasks"] += st.numTasks()
            tot["executor_run_ms"] += st.executorRunTime()
            tot["executor_cpu_ms"] += st.executorCpuTime() / 1e6
            tot["shuffle_read_bytes"] += st.shuffleReadBytes()
            tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
            tot["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return tot


def run_batch(spec: dict, run_dir: str) -> dict:
    from market_data_ingestor_go_spark.operators.cache import release_pinned
    from market_data_ingestor_go_spark.plans.queries import ALL_QUERIES
    from market_data_ingestor_go_spark.session import get_spark

    t_launch = spec["t_launch"]
    spark = get_spark("perfbench")
    say("ready", {"publisher": None, "jvm_pid": jvm_pid(spark)})
    sc = spark.sparkContext
    data_dir = spec["data_dir"]
    results, errors = {}, {}

    def warm(q):
        try:
            df = ALL_QUERIES[q](spark, data_dir)
            cols = df.columns
            order = sorted(range(len(cols)), key=lambda i: cols[i])
            rows = sorted([stats.canon(r[i]) for i in order] for r in df.collect())
            return {"cols": sorted(cols), "rows": rows}
        finally:
            release_pinned()  # pins are per thread

    # untimed warm-up pass, one driver thread per query: a cold query is
    # mostly per-job latency, so overlapping them shortens set-up. Its
    # collected rows are the ones checked.
    with ThreadPoolExecutor(max_workers=len(spec["queries"])) as pool:
        futures = {q: pool.submit(warm, q) for q in spec["queries"]}
        for q, fut in futures.items():
            try:
                results[q] = fut.result()
            except Exception as exc:  # counted as a failed query, not hidden
                errors.setdefault(q, []).append(type(exc).__name__)
    setup_s = time.time() - t_launch

    # timed passes until --seconds have passed, and at least MIN_PASSES:
    # one execution per query swings by a fifth between passes on a
    # shared 4-core host, so each query reports its median
    times = {q: [] for q in spec["queries"]}
    passes, jobs = [], {q: [] for q in spec["queries"]}
    t_start = time.time()
    attempted = len(spec["queries"])  # the warm-up pass
    while True:
        t_pass = time.perf_counter()
        ok = True
        for q in spec["queries"]:
            group = f"perfbench:{q}:{len(passes)}"
            sc.setJobGroup(group, q)
            attempted += 1
            t0 = time.perf_counter()
            try:
                ALL_QUERIES[q](spark, data_dir).write.format("noop") \
                    .mode("overwrite").save()
                times[q].append(time.perf_counter() - t0)
            except Exception as exc:  # counted as a failed query, not hidden
                errors.setdefault(q, []).append(type(exc).__name__)
                ok = False
            finally:
                release_pinned()
            if spec["trace"]:
                jobs[q].append(stage_metrics(spark, group))
        last = time.perf_counter() - t_pass
        if ok:
            passes.append(last)
        if not ok or (len(passes) >= MIN_PASSES
                      and time.time() - t_start >= spec["seconds"]):
            break
    out = {"setup_s": setup_s, "passes": passes, "times": times,
           "stage_totals": {q: _median_dict(v) for q, v in jobs.items() if v},
           "results": results, "errors": errors, "attempted": attempted}
    return out


def _median_dict(samples: list[dict]) -> dict:
    return {k: statistics.median(s[k] for s in samples) for k in samples[0]}


def main() -> int:
    run_dir = sys.argv[1]
    with open(os.path.join(run_dir, "spec.json")) as fh:
        spec = json.load(fh)
    if spec["workload"] == "batch_queries":
        out = run_batch(spec, run_dir)
    else:
        out = run_streaming(spec, run_dir)
    tmp = os.path.join(run_dir, "out.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(out, fh)
    os.replace(tmp, os.path.join(run_dir, "out.json"))
    sys.stdout.flush()
    # the benchmark stops the JVM with the process group; a graceful
    # SparkContext shutdown here would only lengthen every run
    os._exit(0)


if __name__ == "__main__":
    sys.exit(main())
