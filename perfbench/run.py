#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the program together
with the benchmark (sbt, offline); later runs reuse the build until a
source file changes. Inputs are generated from the seed and cached per
seed under perfbench/.cache. With --trace 0 the line carries the
end-to-end metrics of BENCHMARK.json, with --trace 1 the per-layer ones
(the traced run also writes its spans to perfbench/.work/<W>/spans.jsonl).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
RUN_LIMIT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tree_digest(paths):
    h = hashlib.sha256()
    for base in paths:
        if os.path.isfile(base):
            files = [base]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles program and benchmark once per source state; returns the classpath."""
    srcs = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    stamp_file = os.path.join(HERE, "target", "perfbench.stamp")
    digest = tree_digest([p for p in srcs if os.path.exists(p)])
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            stamp = json.load(f)
        if stamp["digest"] == digest:
            return stamp["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = env.get("SBT_OPTS", "") + " -Dsbt.offline=true -Xmx2g"
    log("building program and benchmark")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=840)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("build failed")
    classpath = [ln for ln in p.stdout.splitlines() if ln.strip() and not ln.startswith("[")][-1]
    with open(stamp_file, "w") as f:
        json.dump({"digest": digest, "classpath": classpath.strip()}, f)
    return classpath.strip()


def inputs(workload, cfg, seed):
    """Generated inputs for (workload, seed), cached by the generator's digest."""
    key = hashlib.sha256(json.dumps(cfg, sort_keys=True).encode()
                         + open(os.path.join(HERE, "gen.py"), "rb").read()).hexdigest()[:12]
    cache = os.path.join(HERE, ".cache")
    out = os.path.join(cache, f"{workload}-{seed}-{key}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    if workload == "corpus_curate":
        gen.write_corpus(out, seed, cfg)
    else:
        gen.write_tpch(out, seed, cfg["sf"], cfg["tables"])
    open(os.path.join(out, "_DONE"), "w").close()
    # keep the cache small: the newest few inputs per workload
    old = sorted((d for d in os.listdir(cache) if d.startswith(workload + "-")),
                 key=lambda d: os.path.getmtime(os.path.join(cache, d)))
    for d in old[:-4]:
        shutil.rmtree(os.path.join(cache, d), ignore_errors=True)
    return out


def heap_mb():
    with open("/proc/meminfo") as f:
        kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    return max(2048, min(6144, kb // 1024 // 4))


def merged(spec, size):
    cfg = {"inputs": dict(spec.get("inputs", {})), "params": dict(spec.get("params", {}))}
    if size == "tiny":
        for part in ("inputs", "params"):
            cfg[part].update(spec.get("tiny", {}).get(part, {}))
    return cfg


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    # self-test only: a smaller input and a planted defect a check must catch
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    ap.add_argument("--plant", default="")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("program sources not found: run from the repository root of a checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)["workloads"].get(a.workload)
    if spec is None:
        raise SystemExit(f"unknown workload {a.workload}")
    cfg = merged(spec, a.size)

    classpath = build()
    started = time.time()  # the time limit excludes a first run's build
    data = inputs(a.workload, cfg["inputs"], a.seed)
    log(f"inputs ready at {time.time() - started:.1f}s")
    work = os.path.join(HERE, ".work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    params = dict(cfg["params"], seed=a.seed, batches=cfg["inputs"].get("batches", 0),
                  batch_docs=cfg["inputs"].get("batch_docs", 0))
    cmd = (["java", f"-Xmx{heap_mb()}m", f"-Djava.io.tmpdir={work}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main", "--workload", a.workload,
              "--seconds", str(a.seconds), "--trace", str(a.trace), "--data", data,
              "--work", work, "--out", out]
           + (["--plant", a.plant] if a.plant else [])
           + [f"{k}={v}" for k, v in params.items()])
    left = RUN_LIMIT_S - (time.time() - started) if a.size == "full" else 600
    p = subprocess.run(cmd, cwd=work, stdin=subprocess.DEVNULL, stdout=sys.stderr,
                       timeout=max(30, left))
    if p.returncode != 0 or not os.path.exists(out):
        raise SystemExit(f"workload {a.workload} exited with {p.returncode}")
    with open(out) as f:
        r = json.load(f)
    log(f"workload done at {time.time() - started:.1f}s")

    if a.workload == "tpch_5x":
        import oracle
        bad = oracle.compare(os.path.join(work, "results"), data, plant=a.plant)
        r["checks"]["oracle_hash"] = not bad
        r["failed"] += len(bad)
        for name, why in bad:
            log(f"oracle mismatch {name}: {why}")

    log(f"checks done at {time.time() - started:.1f}s")
    want = bench["per_layer"] if a.trace else bench["end_to_end"]
    metrics = {}
    for m in want:
        if m["name"] in r["metrics"]:
            got = r["metrics"][m["name"]]
            if got["unit"] != m["unit"]:
                raise SystemExit(f"metric {m['name']} in {got['unit']}, declared {m['unit']}")
            metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
        elif a.trace:
            # a layer this workload does not exercise
            metrics[m["name"]] = {"value": 0, "unit": m["unit"]}
        else:
            raise SystemExit(f"workload {a.workload} did not report {m['name']}")
    correct = all(r["checks"].values()) and r["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": int(r["attempted"]),
                      "failed": int(r["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
