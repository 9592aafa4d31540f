#!/usr/bin/env python3
"""Self-test of the benchmark, at tiny input sizes (about 8 minutes).

    python3 perfbench/selftest.py

Asserts that every workload prints each metric BENCHMARK.json names, with
its unit, in both the plain and the traced run, with every check passing;
that each correctness check fails on a planted defect; and that the
benchmark refuses to run, printing no result, in a directory that holds
only BENCHMARK.json and the benchmark's own files.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["pg_mixed", "corpus_curate", "tpch_5x"]
# defect planted by `--plant` -> the workload whose check must catch it
PLANTS = {"drop_ack_id": "pg_mixed", "keep_exact_dup": "corpus_curate",
          "tpch_hash": "tpch_5x"}


def run(workload, trace, plant="", cwd=ROOT):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
    if plant:
        cmd += ["--plant", plant]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None), p.stderr


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    failures = []

    def expect(ok, what):
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            failures.append(what)

    for w in WORKLOADS:
        for trace, declared in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            code, r, err = run(w, trace)
            if r is None:
                expect(False, f"{w} trace={trace} printed a result (exit {code}): {err[-800:]}")
                continue
            expect(set(r) == {"correct", "attempted", "failed", "metrics"},
                   f"{w} trace={trace} result keys")
            expect(r["correct"] and r["failed"] == 0 and r["attempted"] >= 1,
                   f"{w} trace={trace} correct with no failures")
            expect(set(r["metrics"]) == {m["name"] for m in declared},
                   f"{w} trace={trace} prints every declared metric")
            expect(all(r["metrics"][m["name"]]["unit"] == m["unit"]
                       for m in declared if m["name"] in r["metrics"]),
                   f"{w} trace={trace} units match BENCHMARK.json")
    for plant, w in PLANTS.items():
        code, r, _ = run(w, 0, plant)
        expect(r is not None and r["correct"] is False, f"{w} catches planted {plant}")

    # a directory with only the benchmark: no program sources to build
    bare = os.path.join(HERE, ".work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns(".cache", ".work", "target", "project"))
    os.makedirs(os.path.join(bare, "perfbench", "project"))
    shutil.copy(os.path.join(HERE, "project", "build.properties"),
                os.path.join(bare, "perfbench", "project"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    code, r, _ = run("pg_mixed", 0, cwd=bare)
    expect(code != 0 and r is None, "refuses to run without the program's sources")
    shutil.rmtree(bare, ignore_errors=True)

    print(f"{len(failures)} failed")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
