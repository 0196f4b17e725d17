"""Layer spans, Spark job tags and event-log parsing for traced runs.

A traced run wraps the package's layer entry points from the outside:
`read_collection` in every module that imported it, each registered
view's `build`, and the registry's `write_view`. Each wrapper records a
span and tags the Spark jobs it issues with `<phase>/<item>` through the
thread-local job description, so the tag is set inside `run_all`'s pool
workers. The event log, enabled through `PYSPARK_SUBMIT_ARGS` only, then
attributes every task to a phase, view or query.
"""

from __future__ import annotations

import dataclasses
import json
import os
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

PACKAGE = "api_to_amt_data_lake_spark"
PHASE_FIELDS = ("jobs", "stages", "tasks", "task_s", "gc_s", "driver_gap_s",
                "slot_busy_share", "single_task_stage_s", "max_task_share",
                "input_mb", "shuffle_mb", "spill_mb", "failed_tasks")
_MB = 1e6


@dataclasses.dataclass
class Span:
    name: str
    start: float
    end: float


class Tracer:
    """Spans recorded in memory; read out once the run ends."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()

    def tag(self, tag: str | None) -> None:
        """Tag the calling thread's next Spark jobs."""
        if self.enabled:
            self.spark.sparkContext.setJobDescription(tag)

    @contextmanager
    def span(self, name: str, tag: str | None = None):
        if tag is not None:
            self.tag(tag)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            if self.enabled:
                with self._lock:
                    self.spans.append(Span(name, t0, t1))

    def total(self, name: str, since: float = 0.0,
              until: float = float("inf")) -> float:
        return sum(s.end - s.start for s in self.spans
                   if s.name == name and since <= s.start < until)

    def count(self, name: str, since: float = 0.0,
              until: float = float("inf")) -> int:
        return sum(1 for s in self.spans
                   if s.name == name and since <= s.start < until)

    def windows(self, name: str, since: float = 0.0) -> list[tuple]:
        return [(s.start, s.end) for s in self.spans
                if s.name == name and s.start >= since]

    def install(self) -> None:
        """Wrap the layer entry points; a no-op when tracing is off."""
        if not self.enabled:
            return
        from api_to_amt_data_lake_spark.amt import registry
        from api_to_amt_data_lake_spark.sources import json_source

        original = json_source.read_collection

        def read_collection(*args, **kwargs):
            with self.span("sources.json_read"):
                return original(*args, **kwargs)

        for mod in list(sys.modules.values()):
            if (getattr(mod, "__name__", "").startswith(PACKAGE)
                    and getattr(mod, "read_collection", None) is original):
                mod.read_collection = read_collection

        # A read_collection memo miss is the one place a JSON reader is
        # built; without a schema it runs an inference job.
        from pyspark.sql.readwriter import DataFrameReader

        json_read = DataFrameReader.json

        def json(reader, *args, **kwargs):
            with self.span("sources.json_inference"):
                return json_read(reader, *args, **kwargs)

        DataFrameReader.json = json

        def traced_build(name, build):
            def run(*args, **kwargs):
                with self.span(f"amt.build.{name}", tag=f"write/{name}"):
                    return build(*args, **kwargs)
            return run

        for name, spec in list(registry.VIEWS.items()):
            registry.VIEWS[name] = dataclasses.replace(
                spec, build=traced_build(name, spec.build))

        write_view = registry.write_view

        def traced_write(df, gold_root, view_name, *args, **kwargs):
            with self.span(f"sources.write.{view_name}"):
                return write_view(df, gold_root, view_name, *args, **kwargs)

        registry.write_view = traced_write


def read_event_log(log_dir: Path, app_id: str) -> list[dict]:
    """Events of one application, from either layout: a single
    `<app_id>` file or a rolling `eventlog_v2_<app_id>/events_*` dir."""
    lines: list[str] = []
    for path in sorted(log_dir.iterdir()):
        if app_id not in path.name:
            continue
        if path.is_dir():
            parts = sorted(path.glob("events_*"),
                           key=lambda p: int(p.name.split("_")[1]))
            for part in parts:
                lines.extend(part.read_text().splitlines())
        else:
            lines.extend(path.read_text().splitlines())
    events = []
    for line in lines:
        try:
            events.append(json.loads(line))
        except ValueError:
            continue
    return events


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def spark_metrics(events: list[dict], windows: dict[str, list[tuple]],
                  cores: int, n_ops: int,
                  since: float) -> tuple[dict, float]:
    """Per-phase Spark metrics, averaged per timed operation, and the
    share of all task time in the log whose job carries a
    `<phase>/<item>` tag.

    `windows` maps each phase to the wall-clock intervals it ran in; a
    job or stage belongs to a phase by its tag's prefix (so overlapping
    views in one phase are attributed correctly) and to the timed
    operations if it started at or after `since`.
    """
    stage_tag: dict[int, str] = {}
    stage_span: dict[int, tuple[float, float]] = {}
    job_span: dict[int, list] = {}
    job_tag: dict[int, str] = {}
    tasks: dict[int, list[dict]] = defaultdict(list)
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            job_tag[e["Job ID"]] = props.get("spark.job.description") or ""
            job_span[e["Job ID"]] = [e["Submission Time"] / 1e3, None]
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in job_span:
                job_span[e["Job ID"]][1] = e["Completion Time"] / 1e3
        elif kind == "SparkListenerStageSubmitted":
            props = e.get("Properties") or {}
            sid = e["Stage Info"]["Stage ID"]
            stage_tag[sid] = props.get("spark.job.description") or ""
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if "Submission Time" in info and "Completion Time" in info:
                stage_span[info["Stage ID"]] = (info["Submission Time"] / 1e3,
                                                info["Completion Time"] / 1e3)
        elif kind == "SparkListenerTaskEnd":
            info = e.get("Task Info") or {}
            m = e.get("Task Metrics") or {}
            reason = (e.get("Task End Reason") or {}).get("Reason")
            tasks[e["Stage ID"]].append({
                "s": (info.get("Finish Time", 0)
                      - info.get("Launch Time", 0)) / 1e3,
                "gc": m.get("JVM GC Time", 0) / 1e3,
                "input": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                "shuffle": (m.get("Shuffle Write Metrics") or {})
                .get("Shuffle Bytes Written", 0),
                "spill": m.get("Disk Bytes Spilled", 0),
                "failed": reason != "Success",
            })

    total_task = sum(t["s"] for ts in tasks.values() for t in ts)
    tagged_task = sum(t["s"] for sid, ts in tasks.items()
                      if "/" in stage_tag.get(sid, "") for t in ts)
    share = tagged_task / total_task if total_task else 0.0

    out: dict[str, float] = {}
    n = max(n_ops, 1)
    for phase, wins in windows.items():
        wall = sum(b - a for a, b in wins)
        jobs = [j for j, tag in job_tag.items()
                if tag.startswith(phase + "/") and job_span[j][0] >= since
                and job_span[j][1] is not None]
        busy = 0.0
        for a, b in wins:
            busy += _union_length([
                (max(job_span[j][0], a), min(job_span[j][1], b))
                for j in jobs
                if job_span[j][0] < b and job_span[j][1] > a])
        stages = [s for s, tag in stage_tag.items()
                  if tag.startswith(phase + "/") and s in stage_span
                  and stage_span[s][0] >= since]
        ts = [t for s in stages for t in tasks.get(s, [])]
        task_s = sum(t["s"] for t in ts)
        single = sum(stage_span[s][1] - stage_span[s][0] for s in stages
                     if len(tasks.get(s, [])) == 1
                     and stage_span[s][1] - stage_span[s][0] >= 1.0)
        shares = [max(t["s"] for t in tasks[s]) / sum(t["s"] for t in tasks[s])
                  for s in stages
                  if len(tasks.get(s, [])) >= 2
                  and stage_span[s][1] - stage_span[s][0] >= 1.0
                  and sum(t["s"] for t in tasks[s]) > 0]
        values = {
            "jobs": len(jobs) / n,
            "stages": len(stages) / n,
            "tasks": len(ts) / n,
            "task_s": task_s / n,
            "gc_s": sum(t["gc"] for t in ts) / n,
            "driver_gap_s": (wall - busy) / n,
            "slot_busy_share": task_s / (wall * cores) if wall else 0.0,
            "single_task_stage_s": single / n,
            "max_task_share": max(shares, default=0.0),
            "input_mb": sum(t["input"] for t in ts) / _MB / n,
            "shuffle_mb": sum(t["shuffle"] for t in ts) / _MB / n,
            "spill_mb": sum(t["spill"] for t in ts) / _MB / n,
            "failed_tasks": sum(t["failed"] for t in ts) / n,
        }
        for field in PHASE_FIELDS:
            out[f"spark.{phase}.{field}"] = values[field]
    return out, share


def event_log_args(log_dir: Path) -> str:
    """`spark-submit` arguments that turn the event log on; they reach
    the JVM through `PYSPARK_SUBMIT_ARGS`, so `session.get_spark` stays
    the only session factory."""
    os.makedirs(log_dir, exist_ok=True)
    return (f"--conf spark.eventLog.enabled=true "
            f"--conf spark.eventLog.dir=file://{log_dir} "
            f"--conf spark.eventLog.compress=false ")
