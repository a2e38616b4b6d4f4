#!/usr/bin/env python3
"""Tiny-input self-check of the benchmark's own code.

    python3 perfbench/selfcheck.py [workload ...]

Runs every workload of BENCHMARK.json (or the ones named) on tiny inputs —
fixture scale sf 0.001, a 4,000-payload CDC stream in two micro-batches, a
one-second window — once untraced and once traced, from the repository
root, and asserts that:

- the last stdout line is the result object with exactly `correct`,
  `attempted`, `failed` and `metrics`, and the run is correct;
- every end-to-end (untraced) or per-layer (traced) metric of
  BENCHMARK.json appears with its unit and a finite number;
- the summary line is under 512 bytes;
- the correctness gate ran: one oracle check per entry, or the CDC checks
  after every timed cycle;
- in a directory holding only BENCHMARK.json and the benchmark's files the
  runner exits non-zero without printing a result.

Exits non-zero on the first failed assertion.
"""
import json
import math
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path.cwd()
TINY = ["--sf", "0.001", "--cdc-rows", "4000", "--cdc-batches", "2", "--seconds", "1"]


def run(workload, trace, cwd=ROOT):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", "7", "--trace", str(trace)] + TINY
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)


def check(cond, what):
    if not cond:
        sys.exit(f"selfcheck FAILED: {what}")


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    workloads = sys.argv[1:] or [w["name"] for w in spec["workloads"]]
    for w in workloads:
        for trace, wanted in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            proc = run(w, trace)
            lines = proc.stdout.strip().splitlines()
            check(proc.returncode == 0 and len(lines) >= 2,
                  f"{w} trace={trace} exited {proc.returncode}: {proc.stderr[-2000:]}")
            summary, result = json.loads(lines[-2]), json.loads(lines[-1])
            check(len(lines[-2].encode()) < 512, f"{w}: summary line is {len(lines[-2])} bytes")
            check(set(result) == {"correct", "attempted", "failed", "metrics"},
                  f"{w}: result keys {sorted(result)}")
            check(result["correct"] and result["failed"] == 0 and result["attempted"] >= 1,
                  f"{w} trace={trace}: {result['failed']} of {result['attempted']} failed: {summary}")
            for m in wanted:
                got = result["metrics"].get(m["name"])
                check(got is not None and got["unit"] == m["unit"]
                      and isinstance(got["value"], (int, float)) and math.isfinite(got["value"]),
                      f"{w} trace={trace}: metric {m['name']} is {got}")
            detail = json.loads((ROOT / summary["detail"]).read_text())
            check(detail.get("gate_checks", 0) >= (8 if w == "cdc_ingest" else len(detail["entries"])),
                  f"{w}: the correctness gate ran {detail.get('gate_checks')} checks")
            print(f"ok {w} trace={trace} attempted={result['attempted']} "
                  f"gate_checks={detail['gate_checks']}")

    bare = ROOT / ".bench_build" / "perfbench" / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    shutil.copytree(ROOT / "perfbench", bare / "perfbench",
                    ignore=shutil.ignore_patterns("target", "__pycache__"))
    proc = run(workloads[0], 0, cwd=bare)
    check(proc.returncode != 0 and "metrics" not in proc.stdout,
          f"bare directory: exit {proc.returncode}, stdout {proc.stdout[-300:]!r}")
    shutil.rmtree(bare)
    print("ok bare directory exits", proc.returncode)


if __name__ == "__main__":
    main()
