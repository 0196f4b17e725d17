"""Gold-pipeline and ANN-operator benchmark.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload gold --seed 1 --seconds 1 --trace 0

Workloads (perfbench/NOTES.md says why each was chosen):

- ``gold``: seeded Ed-Fi silver with 1% attendance churn →
  ``registry.run_all(parallelism=8)`` → ``validate_gold`` → the chrab and
  ews incremental refreshes;
- ``ops_ann``: ANN/IVFPQ/OPQ conformance queries over seeded embeddings,
  each collected.

One run = set-up (inputs, Spark session in a fresh JVM, the workload's
priming), then a closed loop with one client that starts a new timed
operation while fewer than ``--seconds`` have elapsed (the first one
pays the cold JVM), then the correctness checks. The last stdout line
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``). Every file a run writes stays under
``.perfbench-work/`` in the current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

HEAP = "4g"
SETUP_REPEATS = 3
_TICK = os.sysconf("SC_CLK_TCK")


def cpu_seconds(pids: list[int]) -> float:
    """User plus system CPU seconds of the given processes."""
    total = 0
    for pid in pids:
        fields = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()
        total += int(fields[11]) + int(fields[12])  # utime, stime
    return total / _TICK


def reset_peak_rss(pids: list[int]) -> None:
    for pid in pids:
        Path(f"/proc/{pid}/clear_refs").write_text("5")


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of each process's peak resident set since the last reset."""
    kb = 0
    for pid in pids:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                kb += int(line.split()[1])
    return kb / 1024


def pin_environment(work: Path, trace: bool) -> dict:
    """Set the engine's environment the same way on every run, before
    the JVM starts; return what was set, for the record."""
    cores = len(os.sched_getaffinity(0))
    tmp = work / "tmp"
    local = work / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    # spark-submit first runs a small launcher JVM; keep it out of /tmp too.
    os.environ["SPARK_LAUNCHER_OPTS"] = (f"-XX:-UsePerfData "
                                         f"-Djava.io.tmpdir={tmp}")
    import tempfile
    tempfile.tempdir = str(tmp)
    # The heap is pinned (-Xms = -Xmx) but not pre-touched, so the JVM's
    # resident set grows with the heap pages the program touches. No
    # /tmp/hsperfdata file.
    java_opts = f"-Xms{HEAP} -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    submit = (f'--driver-java-options "{java_opts}" '
              "--conf spark.ui.showConsoleProgress=false ")
    if trace:
        from spans import event_log_args
        submit += event_log_args(work / "eventlog")
    os.environ["PYSPARK_SUBMIT_ARGS"] = submit + "pyspark-shell"
    return {"cores": cores, "heap": f"-Xms{HEAP} -Xmx{HEAP}"}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # The program under test must be importable from the checkout root;
    # without it the run fails here, before any set-up.
    repo = Path.cwd()
    sys.path.insert(0, str(repo))
    import api_to_amt_data_lake_spark  # noqa: F401
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; "
                 f"choose from {sorted(WORKLOADS)}")

    base = repo / ".perfbench-work"
    work = base / args.workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    env = pin_environment(work, bool(args.trace))

    # One Spark JVM at a time: share bench.py's lock.
    import fcntl
    lock = open(repo / ".bench.lock", "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    try:
        return run(args, repo, base, work, env)
    finally:
        lock.close()


def run(args, repo: Path, base: Path, work: Path, env: dict) -> int:
    import spans
    from workloads import WORKLOADS, files_written

    load_before = os.getloadavg()[0]
    wl = WORKLOADS[args.workload](work, args.seed, repo)

    # Set-up: the inputs are generated SETUP_REPEATS times and the median
    # kept; the session starts once, as every run has its own JVM, and the
    # workload is primed once (gold: full_build of the maintained facts).
    gen_times = []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        wl.make_inputs()
        gen_times.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    from api_to_amt_data_lake_spark.session import get_spark
    spark = get_spark(f"perfbench-{args.workload}")
    tracer = spans.Tracer(spark, bool(args.trace))
    tracer.tag("setup/session")
    spark.range(1).count()
    session_s = time.perf_counter() - t0
    tracer.tag("setup/prime")
    t0 = time.perf_counter()
    wl.prime(spark)
    prime_s = time.perf_counter() - t0
    setup_s = statistics.median(gen_times) + session_s + prime_s
    tracer.install()

    sc = spark.sparkContext
    pids = [os.getpid(), int(sc._jvm.java.lang.ProcessHandle.current().pid())]
    walls, cpus, rss, outcomes = [], [], [], []
    written = [0, 0, 0]
    timed_since = time.time()
    t_start = time.perf_counter()
    while not walls or time.perf_counter() - t_start < args.seconds:
        wl.prepare()
        reset_peak_rss(pids)
        c0 = cpu_seconds(pids)
        op_since = time.time()
        t0 = time.perf_counter()
        with tracer.span("op"):
            result = wl.op(spark, tracer)
        walls.append(time.perf_counter() - t0)
        cpus.append(cpu_seconds(pids) - c0)
        rss.append(peak_rss_mb(pids))
        tracer.tag("check/outputs")
        outcomes.append(wl.settle(spark, result))
        files, size = files_written(wl.output_roots, op_since)
        written[0] += files
        written[1] += size
        written[2] += files_written(wl.refresh_roots, op_since)[1]

    t0 = time.perf_counter()
    failed, notes = wl.check(spark, outcomes)
    check_s = time.perf_counter() - t0
    attempted = wl.operations_per_op() * len(outcomes)
    app_id = sc.applicationId
    stop_spark(spark)
    load_after = os.getloadavg()[0]

    wall_s = statistics.median(walls)
    record = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, "walls": walls, "cpus": cpus,
              "rss_mb": rss, "setup_s": setup_s, "session_s": session_s,
              "prime_s": prime_s,
              "check_s": check_s, "load_1m_before": load_before,
              "load_1m_after": load_after, **env}
    correct = failed == 0
    if args.trace:
        metrics, checks = layer_metrics(
            tracer, timed_since, len(walls), env["cores"],
            spans.read_event_log(work / "eventlog", app_id))
        metrics.update(wl.layer_values(outcomes))
        metrics.update({
            "session.start_s": session_s,
            "sources.write_files": written[0] / len(walls),
            "sources.write_mb": written[1] / 1e6 / len(walls),
            "sources.refresh_write_mb": written[2] / 1e6 / len(walls),
            "error_rate": failed / attempted,
            "trace.wall_s": wall_s,
        })
        record["trace_checks"] = checks
        for name, ok in checks.items():
            if not ok:
                notes.append(f"trace check failed: {name}")
                correct = False
        metrics = {k: {"value": v, "unit": unit_of(k)}
                   for k, v in sorted(metrics.items())}
    else:
        metrics = {
            "wall_s": {"value": wall_s, "unit": "s"},
            "cpu_s": {"value": statistics.median(cpus), "unit": "s"},
            "peak_rss_mb": {"value": statistics.median(rss), "unit": "MB"},
            "setup_s": {"value": setup_s, "unit": "s"},
        }
    record["notes"] = notes
    with open(base / "history.jsonl", "a") as f:
        f.write(json.dumps(record) + "\n")
    for note in notes:
        print(f"# {note}", file=sys.stderr)
    print(f"# host: {env['cores']} cores, heap {env['heap']}, seed "
          f"{args.seed}, load 1m {load_before:.2f} -> {load_after:.2f}, "
          f"{len(walls)} timed op(s)", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def unit_of(name: str) -> str:
    parts = name.split(".")
    if any(p.endswith("_mb") for p in parts):
        return "MB"
    if any(p.endswith("_s") for p in parts):
        return "s"
    if parts[-1].endswith(("share", "rate")):
        return "ratio"
    return "count"


def layer_metrics(tracer, since: float, n_ops: int, cores: int,
                  events: list[dict]) -> tuple[dict, dict]:
    """Per-layer metrics of the timed operations, from the spans and the
    event log, and the trace's own checks. Layers the workload does not
    reach read 0."""
    import spans
    from workloads import ANN_QUERIES, REFRESHED

    from api_to_amt_data_lake_spark.amt import registry

    def per_op(name: str) -> float:
        return tracer.total(name, since) / n_ops

    m = {
        "sources.json_read_s": per_op("sources.json_read"),
        "sources.json_reads": tracer.count("sources.json_read", since) / n_ops,
        "amt.validate_s": per_op("phase.validate"),
        "amt.build_s": sum(per_op(f"amt.build.{v}") for v in registry.VIEWS),
    }
    for name in REFRESHED:
        m[f"amt.refresh_s.{name}"] = per_op(f"amt.refresh.{name}")
    for v in registry.VIEWS:
        m[f"amt.view_s.{v}"] = (per_op(f"amt.build.{v}")
                                + per_op(f"sources.write.{v}"))
    for q in ANN_QUERIES:
        m[f"plans.query_s.{q}"] = per_op(f"plans.query.{q}")

    windows = {
        "write": tracer.windows("phase.write", since),
        "validate": tracer.windows("phase.validate", since),
        "refresh": tracer.windows("phase.refresh", since),
        "query": [w for q in ANN_QUERIES
                  for w in tracer.windows(f"plans.query.{q}", since)],
    }
    spark_m, share = spans.spark_metrics(events, windows, cores, n_ops, since)
    m.update(spark_m)
    m["spark.tagged_task_share"] = share

    # Schema-inference reads per operation: with a fresh landing before
    # each, every one pays the same.
    inferences = [tracer.count("sources.json_inference", a, b)
                  for a, b in tracer.windows("op")]
    m["sources.json_inferences"] = inferences[-1]
    checks = {"tagged_task_share>=0.9": share >= 0.9,
              "same_inference_reads_every_op": len(set(inferences)) == 1}
    return m, checks


if __name__ == "__main__":
    sys.exit(main())
