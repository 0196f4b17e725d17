"""Self-tests of the benchmark; each runs it end to end in a Spark JVM.

Run from the root of a checkout (a few minutes on 4 cores):

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run_bench(workload: str, seconds: int, trace: int) -> tuple[dict, dict]:
    """The result line and this run's history record."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    history = ROOT / ".perfbench-work" / "history.jsonl"
    return result, json.loads(history.read_text().splitlines()[-1])


def test_consecutive_gold_runs_pay_the_same_schema_inference():
    # Long enough for two timed operations after the cold one.
    result, record = run_bench("gold", 60, 1)
    assert len(record["walls"]) >= 2
    assert record["trace_checks"]["same_inference_reads_every_op"]
    assert result["metrics"]["sources.json_inferences"]["value"] > 0
    for fact in ("chrab", "ews"):
        assert result["metrics"][f"amt.refresh_s.{fact}"]["value"] > 0
        assert result["metrics"][f"amt.touched_keys.{fact}"]["value"] > 0
    assert result["correct"] and result["failed"] == 0


def test_traced_task_time_is_attributed_to_tags():
    for workload in ("gold", "ops_ann"):
        result, _ = run_bench(workload, 1, 1)
        assert result["metrics"]["spark.tagged_task_share"]["value"] >= 0.9
        assert result["correct"] and result["failed"] == 0


def test_untraced_result_has_the_end_to_end_metrics():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    result, _ = run_bench("ops_ann", 1, 0)
    assert set(result["metrics"]) == {m["name"] for m in spec["end_to_end"]}
    assert all(m["value"] > 0 for m in result["metrics"].values())
