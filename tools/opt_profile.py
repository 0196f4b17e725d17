"""Per-query optimization profiler (guide §1: measure first).

Runs ONE conformance query in a fresh JVM with the Spark event log
enabled, then parses the log into the numbers that actually guide
optimization: per-job wall clock (with job group/description), stage
count, task count, shuffle read/write bytes, and input bytes. The
bench measures only end-to-end seconds; this tool answers WHERE the
seconds go — how many actions a query issues, which of them dominate,
and how many exchanges each pays.

Usage:
  python tools/opt_profile.py <query> [sf_dir] [--runs N] [--explain]

--explain additionally writes plans/r11/<query>_profile.txt with the
returned frame's explain("formatted").
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    name = args[0]
    sf_dir = args[1] if len(args) > 1 else "/root/testdata/sf0.1"
    runs = int(sys.argv[sys.argv.index("--runs") + 1]) \
        if "--runs" in sys.argv else 1

    evt_dir = "/tmp/spark-events-optprof"
    import shutil
    shutil.rmtree(evt_dir, ignore_errors=True)
    os.makedirs(evt_dir, exist_ok=True)

    os.environ.setdefault("SPARK_GRAFT_SF_DIR", sf_dir)
    from pyspark.sql import SparkSession

    from api_to_amt_data_lake_spark.session import driver_memory

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.appName(f"optprof-{name}")
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", evt_dir)
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .config("spark.driver.memory", driver_memory())
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    from api_to_amt_data_lake_spark.plans import conformance

    fn = conformance.QUERIES[name]
    t0 = time.time()
    df = fn(spark, sf_dir)
    df.count()
    warm = time.time() - t0

    timed = []
    spark.sparkContext.setJobDescription(f"TIMED:{name}")
    marks = []
    for i in range(runs):
        marks.append(time.time())
        t0 = time.time()
        fn(spark, sf_dir).count()
        timed.append(time.time() - t0)
    marks.append(time.time())
    spark.sparkContext.setJobDescription(None)

    if "--explain" in sys.argv:
        out = Path(REPO / "plans" / "r11")
        out.mkdir(parents=True, exist_ok=True)
        txt = fn(spark, sf_dir)._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted"))
        (out / f"{name}_profile.txt").write_text(txt)

    app_id = spark.sparkContext.applicationId
    spark.stop()

    # Parse the event log: jobs with submission/completion, stage/task
    # counts, shuffle bytes. Keep only jobs submitted inside the timed
    # window (marks[0]..marks[-1]).
    cands = [p for p in Path(evt_dir).glob("*") if app_id in p.name]
    log = cands[0] if cands else Path(evt_dir) / app_id
    if log.is_dir():  # rolling event log: concatenate its parts
        lines = []
        for part in sorted(log.glob("events*")):
            lines.extend(part.read_text().splitlines())
    else:
        lines = log.read_text().splitlines()
    jobs = []          # (t_submit, dur_ms, n_stages, desc)
    stage_info = {}    # stage_id -> dict
    job_of_stage = {}
    if True:
        for line in lines:
            try:
                e = json.loads(line)
            except ValueError:
                continue
            ev = e.get("Event")
            if ev == "SparkListenerJobStart":
                jid = e["Job ID"]
                props = e.get("Properties") or {}
                desc = props.get("spark.job.description", "")
                sids = e.get("Stage IDs", [])
                for s in sids:
                    job_of_stage[s] = jid
                jobs.append({"id": jid, "t0": e["Submission Time"] / 1e3,
                             "desc": desc, "stages": sids, "dur": None})
            elif ev == "SparkListenerJobEnd":
                jid = e["Job ID"]
                for j in jobs:
                    if j["id"] == jid:
                        j["dur"] = e["Completion Time"] / 1e3 - j["t0"]
            elif ev == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                sid = si["Stage ID"]
                accs = {a.get("Name"): a.get("Value")
                        for a in si.get("Accumulables", [])}
                stage_info[sid] = {
                    "name": si.get("Stage Name", "")[:60],
                    "tasks": si.get("Number of Tasks"),
                    "sh_read": accs.get("internal.metrics.shuffle.read"
                                        ".remoteBytesRead", 0) or 0,
                    "sh_write": accs.get("internal.metrics.shuffle.write"
                                         ".bytesWritten", 0) or 0,
                    "input": accs.get("internal.metrics.input.bytesRead",
                                      0) or 0,
                    "ms": (si.get("Completion Time", 0)
                           - si.get("Submission Time", 0)),
                }

    t_lo, t_hi = marks[0], marks[-1]
    timed_jobs = [j for j in jobs if t_lo <= j["t0"] <= t_hi]
    n_runs = max(runs, 1)
    print(f"\n=== {name}: warm {warm:.2f}s; timed "
          f"{[round(t, 2) for t in timed]} (min {min(timed):.2f}s) ===")
    print(f"jobs in timed window: {len(timed_jobs)} "
          f"({len(timed_jobs) / n_runs:.0f} per run)")
    tot_stage = sum(len(j['stages']) for j in timed_jobs)
    print(f"stages: {tot_stage} ({tot_stage / n_runs:.0f} per run)")
    per_run = [j for j in timed_jobs if j["t0"] < marks[1]] \
        if runs > 1 else timed_jobs
    print(f"\n-- jobs of run 1 ({len(per_run)}) --")
    for j in sorted(per_run, key=lambda j: -(j["dur"] or 0))[:30]:
        st = [stage_info.get(s) for s in j["stages"]]
        st = [s for s in st if s]
        tasks = sum(s["tasks"] or 0 for s in st)
        shr = sum(s["sh_read"] for s in st)
        shw = sum(s["sh_write"] for s in st)
        print(f"  job {j['id']:>4} {1e3 * (j['dur'] or 0):7.0f}ms "
              f"stages={len(j['stages'])} tasks={tasks:>4} "
              f"shW={shw:>9} shR={shr:>9}  {j['desc'][:50]}")
    gap = (marks[-1] - marks[0]) - sum(j["dur"] or 0 for j in timed_jobs)
    print(f"\nwall inside timed window: {marks[-1] - marks[0]:.2f}s; "
          f"sum(job dur): {sum(j['dur'] or 0 for j in timed_jobs):.2f}s; "
          f"non-job (driver/planning) time: {gap:.2f}s")


if __name__ == "__main__":
    main()
