"""Smoke test of the benchmark's traced probe (``perfbench/run.py
--trace 1``): it reaches into the serving code by name (wand's decoders
and shard kernel, ``common.query_term_stats``, the engine's io/n_docs/
avgdl/layered/blocks), so a rename there breaks the benchmark without
failing any other test. One short traced run must exit 0, check every
answer and report every per-layer metric BENCHMARK.json declares."""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_traced_probe_reports_every_layer():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        layers = [m["name"] for m in json.load(f)["per_layer"]]
    proc = subprocess.run(
        [
            sys.executable, "perfbench/run.py", "--workload", "query_selective",
            "--seed", "3", "--seconds", "1", "--trace", "1",
        ],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["attempted"] > 0
    assert result["failed"] == 0, result
    missing = [n for n in layers if n not in result["metrics"]]
    assert not missing, missing
