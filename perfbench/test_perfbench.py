"""Tests of the benchmark itself.

Run from the repository root::

    python3 -m pytest perfbench -q

The smoke runs start a Spark session per run at sf 0.001 (about half a
minute each).
"""

from __future__ import annotations

import json
import math
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import run  # noqa: E402
from perfbench.spans import Span, layer_metrics  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _bench(args: list[str], code: str | None = None) -> tuple[dict, dict]:
    """Run the benchmark in a fresh process; (result line, host line)."""
    cmd = [sys.executable, "perfbench/run.py", *args]
    if code is not None:
        cmd = [sys.executable, "-c", code, *args]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2])["host"]


def test_spec_matches_the_runner():
    assert [w["name"] for w in SPEC["workloads"]] == list(run.PLAN)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == (
        run.per_layer_units()
    )


def test_layer_metrics_take_the_median_and_zero_uncalled_layers():
    def span(it, wall, rows):
        return Span("pipeline", "g", it, 0.0, wall, rows_out=rows, run_s=wall)

    m = layer_metrics([span(0, 1.0, 10), span(1, 3.0, 10), span(2, 2.0, 10)],
                      cores=4)
    assert m["pipeline.self_s"] == 2.0
    assert m["pipeline.core_busy"] == 0.25
    assert m["pipeline.rows_out"] == 10
    assert m["operators.dedupe.self_s"] == 0


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(run.PLAN))
def test_smoke_run_emits_every_metric(workload, trace):
    out, host = _bench(["--workload", workload, "--seed", "3", "--seconds",
                        "1", "--trace", str(trace), "--sf", "0.001"])
    assert out["correct"] is True
    assert out["failed"] == 0 and out["attempted"] >= 1
    names = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in names}
    for m in names:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert math.isfinite(got["value"])
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())
    assert host["scratch_left_bytes"] == 0
    assert not (ROOT / ".perfbench-scratch").exists()


def test_corrupted_result_raises_failed_ratio():
    # every result claims one more changelog row than the job committed
    code = (
        "import sys; sys.path.insert(0, '.')\n"
        "from perfbench import workloads as w\n"
        "run = w.IngestCommit.run\n"
        "def corrupt(self, tracer):\n"
        "    out = run(self, tracer)\n"
        "    out['increments'] += 1\n"
        "    return out\n"
        "w.IngestCommit.run = corrupt\n"
        "from perfbench.run import main\n"
        "sys.exit(main(sys.argv[1:]))\n"
    )
    out, _ = _bench(["--workload", "library_ingest_commit", "--seed", "3",
                     "--seconds", "1", "--trace", "0", "--sf", "0.001"], code)
    assert out["correct"] is False
    assert out["attempted"] >= 1
    assert out["failed"] / out["attempted"] == 1.0
