#!/usr/bin/env python3
"""Smoke test of the benchmark at tiny size (a few minutes).

    python3 perfbench/smoke_test.py

Checks that:
  1. every workload runs once and prints every end-to-end metric of BENCHMARK.json
     with its unit, with no failed operation;
  2. a traced run prints every per-layer metric with its unit;
  3. an injected failing operation is reported as failed and exits nonzero;
  4. a directory holding only BENCHMARK.json and the benchmark exits nonzero
     without printing a result.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
WORKLOADS = ["build_full", "query_hot", "query_cold", "append_merge"]


def run(args, cwd=ROOT, timeout=900):
    p = subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py")] + args, cwd=cwd,
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=timeout)
    return p.returncode, [l for l in p.stdout.splitlines() if l.startswith("{")], p.stderr


def check_metrics(result, wanted, where):
    for m in wanted:
        got = result["metrics"].get(m["name"])
        assert got is not None, f"{where}: metric {m['name']} missing"
        assert got["unit"] == m["unit"], f"{where}: {m['name']} has unit {got['unit']}, want {m['unit']}"
        assert isinstance(got["value"], (int, float)), f"{where}: {m['name']} is not a number"


def main():
    tiny = ["--seed", "1", "--seconds", "2", "--scale", "tiny"]

    code, lines, err = run(["--workload", "all", "--trace", "0"] + tiny)
    assert code == 0, f"all workloads: exit {code}\n{err[-3000:]}"
    per_workload = [json.loads(l) for l in lines[:-1]]
    assert len(per_workload) == len(WORKLOADS), f"expected {len(WORKLOADS)} result lines, got {len(per_workload)}"
    for w, r in zip(WORKLOADS, per_workload):
        assert r["correct"] and r["failed"] == 0 and r["attempted"] > 0, f"{w}: {r}"
        check_metrics(r, SPEC["end_to_end"], w)
    print("ok: every workload prints every end-to-end metric")

    code, lines, err = run(["--workload", "query_cold", "--trace", "1"] + tiny)
    assert code == 0, f"traced run: exit {code}\n{err[-3000:]}"
    check_metrics(json.loads(lines[-1]), SPEC["per_layer"], "traced query_cold")
    print("ok: a traced run prints every per-layer metric")

    code, lines, err = run(["--workload", "query_hot", "--trace", "0", "--inject-failure"] + tiny)
    r = json.loads(lines[-1])
    assert code != 0 and not r["correct"] and r["failed"] >= 1, f"injected failure: exit {code}, {r}"
    print("ok: an injected failure exits nonzero")

    bare = os.path.join(ROOT, ".bench_work", "smoke-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("target"))
    code, lines, _ = run(["--workload", "query_hot", "--trace", "0"] + tiny, cwd=bare, timeout=180)
    shutil.rmtree(bare, ignore_errors=True)
    assert code != 0 and not lines, f"bare directory: exit {code}, printed {lines}"
    print("ok: a directory without the engine exits nonzero without a result")


if __name__ == "__main__":
    main()
