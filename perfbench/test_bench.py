#!/usr/bin/env python3
"""The benchmark's own test.

    python3 perfbench/test_bench.py

1. Runs short untraced and traced runs with the JVM's default locale set to
   de-DE (comma decimal separator) at the benchmark's sf0.001, and checks that the result
   line parses as JSON with exactly the metrics BENCHMARK.json names, each
   a finite number.
2. Runs the benchmark from a directory that holds only BENCHMARK.json and
   perfbench/ (no graft sources) and checks that it exits with a non-zero
   code without printing a result.
"""

import json
import math
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def run(cwd, workload, trace, seconds=2):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", str(seconds), "--trace", str(trace), "--jvm-locale", "de-DE"],
        cwd=cwd, capture_output=True, text=True, timeout=900)


def check_locale():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    for workload, trace in (("llm_corpus", 0), ("ingest_refresh", 1)):
        proc = run(ROOT, workload, trace)
        assert proc.returncode == 0, proc.stderr[-3000:]
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
        assert result["attempted"] >= 1 and result["correct"], result
        names = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
        assert list(result["metrics"]) == names, sorted(set(names) ^ set(result["metrics"]))
        for name, m in result["metrics"].items():
            assert isinstance(m["value"], float) and math.isfinite(m["value"]), (name, m)
        print(f"ok: {workload} --trace {trace} under de-DE: {len(names)} metrics parse")


def check_without_sources():
    bare = HERE / "runs" / "bare-checkout"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    shutil.copytree(HERE, bare / "perfbench",
                    ignore=shutil.ignore_patterns("runs", "target", "__pycache__"))
    try:
        proc = run(bare, "llm_corpus", 0)
        assert proc.returncode != 0, proc.stdout[-2000:]
        assert '"metrics"' not in proc.stdout, proc.stdout[-2000:]
        print(f"ok: without sources the benchmark exits {proc.returncode} and prints no result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    check_without_sources()
    check_locale()
