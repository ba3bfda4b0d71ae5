#!/usr/bin/env python3
"""Smoke test of the benchmark harness itself.

    python3 perfbench/smoke_test.py

Runs every workload once at a tiny size, timed and traced, and checks
that each prints a well-formed result line naming every metric that
BENCHMARK.json lists. Then checks that the harness refuses wrong
answers: with a deliberately corrupted ground truth each workload must
exit non-zero and report "correct": false. Finally checks that a copy
of the benchmark without the repository's sources fails without
printing a result. Exits non-zero on the first failure.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, *extra, root=ROOT):
    proc = subprocess.run(
        [sys.executable, os.path.join(root, "perfbench", "run.py"),
         "--workload", workload, "--seed", "7", "--seconds", "1", *extra],
        cwd=root, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        timeout=900)
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else None
    return proc.returncode, result, proc.stderr


def expect(ok, what, detail=""):
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        sys.exit(f"smoke test failed: {what}\n{detail[-4000:]}")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = {"0": [m["name"] for m in bench["end_to_end"]],
             "1": [m["name"] for m in bench["per_layer"]]}
    for w in (x["name"] for x in bench["workloads"]):
        for trace in ("0", "1"):
            code, result, err = run(w, "--tiny", "--trace", trace)
            expect(code == 0 and result is not None and result["correct"],
                   f"{w} trace={trace}: tiny run is correct", err)
            expect(set(result) == {"correct", "attempted", "failed",
                                   "metrics"} and result["attempted"] >= 1,
                   f"{w} trace={trace}: result line has exactly the four keys")
            expect(list(result["metrics"]) == names[trace],
                   f"{w} trace={trace}: every listed metric is reported")
        code, result, err = run(w, "--tiny", "--corrupt-truth")
        expect(code != 0 and result is not None and not result["correct"],
               f"{w}: a corrupted ground truth fails the run", err)

    bare = os.path.join(HERE, ".work", "smoke-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("target", ".work", "out"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        code, result, _ = run("knn_serve", root=bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    expect(code != 0 and result is None,
           "without the repository's sources the run fails with no result")


if __name__ == "__main__":
    main()
