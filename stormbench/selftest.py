#!/usr/bin/env python3
"""Toy-size self-test of the benchmark harness.

    python3 stormbench/selftest.py

Runs every workload of BENCHMARK.json at toy size (16 x 16 tiles, two
stream gates), untraced and traced, and checks that each run prints the
contract's result line with every metric name and unit that BENCHMARK.json
declares, that the traced run writes its span file, that the oracle rejects
a tampered view, and that the benchmark refuses to run without the
program's sources. Takes a few minutes; exits non-zero on the first failure.
"""
import json
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
RESULTS = ROOT / ".bench_build" / "results"


def run(*args, cwd=ROOT, script=HERE / "run.py"):
    proc = subprocess.run([sys.executable, str(script), *args], cwd=cwd, capture_output=True,
                          text=True, timeout=900)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    return proc.returncode, lines, proc.stderr


def result_of(lines):
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    return result


def check(cond, what):
    if not cond:
        print(f"FAIL: {what}")
        sys.exit(1)
    print(f"ok: {what}")


def main():
    for w in SPEC["workloads"]:
        name = w["name"]
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            code, lines, err = run("--workload", name, "--seed", "7", "--seconds", "1",
                                   "--trace", str(trace), "--toy")
            check(code == 0, f"{name} trace {trace} exits 0" + ("" if code == 0 else f"\n{err[-3000:]}"))
            result = result_of(lines)
            check(result["correct"] and result["failed"] == 0 and result["attempted"] >= 1,
                  f"{name} trace {trace} passes its oracle ({result['attempted']} attempted)")
            want = {m["name"]: m["unit"] for m in SPEC[key]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            check(got == want, f"{name} trace {trace} prints every {key} metric with its unit")
            if trace == 0:
                check(all(v["value"] > 0 for v in result["metrics"].values()),
                      f"{name} end-to-end metrics are all above zero")
            else:
                spans = RESULTS / f"{name}-seed7-trace1.spans.jsonl"
                rows = [json.loads(l) for l in spans.read_text().splitlines()]
                check(rows and all({"id", "parent", "name", "start_us", "end_us", "workload", "forecast"}
                                   <= set(r) for r in rows), f"{name} writes its span file")
            check(any(l.startswith("[stormbench] calibration ") for l in lines),
                  f"{name} trace {trace} prints the host calibration")

    code, lines, _ = run("--workload", "storm_hit_csv", "--seed", "7", "--seconds", "1",
                         "--trace", "0", "--toy", "--corrupt")
    result = result_of(lines)
    check(code != 0 and not result["correct"] and result["failed"] >= 1,
          "the oracle rejects a tampered tile view and the run exits non-zero")

    bare = ROOT / ".bench_build" / "selftest-bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    shutil.copytree(HERE, bare / HERE.name, ignore=shutil.ignore_patterns("target"))
    code, lines, _ = run("--workload", SPEC["workloads"][0]["name"], "--seed", "1", "--seconds", "1",
                         "--trace", "0", cwd=bare, script=bare / HERE.name / "run.py")
    shutil.rmtree(bare, ignore_errors=True)
    check(code != 0 and not any(l.startswith("{") for l in lines),
          "without the program's sources it exits non-zero and prints no result")


if __name__ == "__main__":
    main()
