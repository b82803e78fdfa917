#!/usr/bin/env python3
"""The benchmark's own test. Run from the repository root:

    python3 perfbench/test_bench.py

It runs every workload of the program at smoke scale in one JVM
(untraced, traced, and with one output row perturbed) and asserts that
  * the workloads named in BENCHMARK.json are among them;
  * every end-to-end and per-layer metric named in BENCHMARK.json is
    printed with its unit for every workload;
  * no op fails on unperturbed outputs (failed_frac 0, ok_frac 1);
  * every workload's output check rejects a perturbed row;
  * run.py fails fast, without a result, in a directory that holds only
    BENCHMARK.json and the benchmark's own files.
"""
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def run_all(*extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", "all",
           "--seed", "7", "--seconds", "1", "--scale", "smoke", *extra]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    results = [json.loads(l) for l in out.stdout.splitlines() if l.startswith("{")]
    details = [r for r in results if "workload" in r]
    metrics = [r for r in results if "metrics" in r]
    ran = [d["workload"] for d in details]
    assert set(WORKLOADS) <= set(ran), ran
    assert len(metrics) == len(ran), out.stdout
    return list(zip(ran, details, metrics))


def assert_metrics(res, declared):
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == want, f"metrics differ from BENCHMARK.json: {got} vs {want}"
    for k, v in res["metrics"].items():
        assert isinstance(v["value"], (int, float)), (k, v)


def main():
    t0 = time.time()
    for w, detail, res in run_all("--trace", "0"):
        assert_metrics(res, SPEC["end_to_end"])
        assert res["correct"] is True and res["failed"] == 0, (w, res)
        assert res["attempted"] >= 1 and detail["failed_frac"] == 0.0, (w, detail)
        assert res["metrics"]["ok_frac"]["value"] == 1.0, (w, res)
        print(f"ok   {w}: end-to-end metrics, failed_frac 0")
    for w, detail, res in run_all("--trace", "1"):
        assert_metrics(res, SPEC["per_layer"])
        assert res["failed"] == 0, (w, res)
        print(f"ok   {w}: per-layer metrics")
    for w, detail, res in run_all("--trace", "0", "--perturb", "1"):
        assert res["correct"] is False and res["failed"] >= 1, (w, res)
        print(f"ok   {w}: a perturbed output row is caught")

    # a directory with only BENCHMARK.json and the benchmark's files
    bare = os.path.join(HERE, "work", "bare-checkout")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("work", "out", "target", ".sbt-global"))
    try:
        r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0],
                            "--seed", "1", "--seconds", "1", "--trace", "0"],
                           cwd=bare, capture_output=True, text=True, timeout=180)
        assert r.returncode != 0 and not r.stdout.strip(), (r.returncode, r.stdout)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("ok   bare directory: run.py exits non-zero without a result")
    print(f"all passed in {time.time() - t0:.0f} s")


if __name__ == "__main__":
    main()
