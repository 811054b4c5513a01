#!/usr/bin/env python3
"""graft benchmark: one command, two workloads, checked outputs.

    python3 perfbench/run.py --workload {lake_build,curation}
        --seed N --seconds S --trace {0,1}

Run from the repository root. The first run builds the program and the
harness (`perfbench/build.sbt`) and caches the classpath under
`.bench_build/`; later runs start the JVM directly. The last stdout line
is the result JSON; the lines before it name every measured figure.
Exit code 0 only when every operation ran and every check passed.
"""
import argparse
import glob
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402
import tracestats  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
JVM_TIMEOUT_S = 150

# Input sizes (recorded in BENCHMARK.json's workload notes and README.md).
LAKE_BUILD = dict(n_tickers=80, n_days=4)
CORPUS = dict(n_docs=5000, n_vecs=2000)
WARMUP_CORPUS = dict(n_docs=500, n_vecs=200)      # curation's set-up pass

JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
               "java.base/java.lang.reflect", "java.base/java.io",
               "java.base/java.net", "java.base/java.nio",
               "java.base/java.util", "java.base/java.util.concurrent",
               "java.base/java.util.concurrent.atomic",
               "java.base/sun.nio.ch", "java.base/sun.nio.cs",
               "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_mtime():
    files = glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True)
    files += glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True)
    files += [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    return max(os.path.getmtime(f) for f in files)


def classpath():
    """Compile with sbt when any source is newer than the cached classpath."""
    for need in ("build.sbt", "src/main/scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"run from a graft checkout: {need} is missing")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file) and os.path.getmtime(cp_file) >= sources_mtime():
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx4g")
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=log, text=True, stdin=subprocess.DEVNULL)
    lines = [ln for ln in r.stdout.splitlines() if "scala-2.13/classes" in ln
             and not ln.startswith("[")]
    if r.returncode != 0 or not lines:
        fail(f"build failed (see {BUILD}/build.log):\n{r.stdout[-2000:]}")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    return lines[-1]


def jvm(cp, workload, work, out, seconds, trace):
    """Start the harness; return (per-op records, setup-done time)."""
    cmd = (["java"] + [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xms3g", "-Xmx3g", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
            workload, work, out, str(seconds), str(trace)])
    os.makedirs(f"{work}/tmp", exist_ok=True)
    ops, setup_done = [], None
    with open(f"{work}/jvm.log", "w") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                             stdin=subprocess.DEVNULL, cwd=ROOT)
        timer = threading.Timer(JVM_TIMEOUT_S, p.kill)
        timer.start()
        try:
            for line in p.stdout:
                if not line.startswith("PB "):
                    continue
                rec = json.loads(line[3:])
                if rec.get("event") == "setup_done":
                    setup_done = time.time()
                elif "event" not in rec:
                    ops.append(rec)
        finally:
            if p.poll() is None:
                p.kill()
            p.wait()
            timer.cancel()
    if p.returncode != 0 or setup_done is None:
        tail = open(f"{work}/jvm.log").read()[-3000:]
        fail(f"{workload}: JVM exited {p.returncode}\n{tail}")
    return ops, setup_done


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def dir_bytes(path):
    return sum(os.path.getsize(f) for f in glob.glob(f"{path}/**/*.parquet", recursive=True))


# ---- workloads ------------------------------------------------------------
def lake_build(cp, seed, seconds, trace, work, out, t_start):
    m = gen.Market(seed, **LAKE_BUILD)
    m.write(work, seed)
    ops, setup_done = jvm(cp, "lake_build", work, out, seconds, trace)
    timed = [o for o in ops if o["timed"]]
    bad = checks.build_outputs(m, ops)
    bad += checks.lake_files(m, out, timed[-1]["i"] if timed else "setup")
    ok = [o["ms"] / 1e3 for o in timed if o["ok"]]
    work_s = median(ok)
    detail = {
        "lake_build.bars": (m.n_bars, "count"),
        "lake_build.bars_per_s": (m.n_bars / work_s, "1/s"),
        "lake_build.lake_bytes_per_bar":
            ((dir_bytes(f"{out}/raw") + dir_bytes(f"{out}/adjusted")) / m.n_bars, "B"),
        "lake_build.builds": (len(ok), "count"),
    }
    return setup_done - t_start, work_s, len(timed), bad, detail


CURATION_METRICS = {"qst23_stream_admission": "admission_s", "qs28_sq8_ann": "serving_s",
                    "qd12_minhash_capped": "dedup_s"}


def curation(cp, seed, seconds, trace, work, out, t_start):
    gen.corpus(work, seed, **CORPUS)
    gen.corpus(f"{work}/warmup", seed + 1, **WARMUP_CORPUS)
    ops, setup_done = jvm(cp, "curation", work, out, seconds, trace)
    timed = [o for o in ops if o["timed"]]
    bad = [((o["op"], o["i"]), f"{o['op']} pass {o['i']} failed") for o in ops if not o["ok"]]
    last = max((o["i"] for o in ops), default=0)
    bad += [((r, last), msg) for r, msg in checks.curation_outputs(ROOT, work, out)]
    passes = {}
    for o in timed:
        passes.setdefault(o["i"], []).append(o)
    rows = set(CURATION_METRICS)
    per_pass = [sum(o["ms"] for o in p) / 1e3 for p in passes.values()
                if {o["op"] for o in p} == rows and all(o["ok"] for o in p)]
    detail = {f"curation.{CURATION_METRICS[r]}":
              (median([o["ms"] / 1e3 for o in timed if o["op"] == r and o["ok"]]), "s")
              for r in CURATION_METRICS}
    detail["curation.passes"] = (len(per_pass), "count")
    return setup_done - t_start, median(per_pass), len(timed), bad, detail


WORKLOADS = {"lake_build": lake_build, "curation": curation}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    cp = classpath()
    work = os.path.join(BUILD, "run", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    out = os.path.join(work, "out")
    os.makedirs(out)
    t_start = time.time()
    setup_s, work_s, attempted, bad, detail = WORKLOADS[a.workload](
        cp, a.seed, a.seconds, a.trace, work, out, t_start)
    for _, msg in bad[:20]:
        print(f"CHECK FAILED: {msg}")
    detail = {"setup_s": (setup_s, "s"), "work_s": (work_s, "s"), **detail}
    for k, (v, u) in detail.items():
        print(f"{k} = {v:.6g} {u}")
    if a.trace:
        layers, per_op = tracestats.summarize(f"{out}/trace.jsonl", os.cpu_count())
        with open(os.path.join(BUILD, f"trace_{a.workload}.json"), "w") as f:
            json.dump({"figures": {k: v for k, (v, _) in {**detail, **layers}.items()},
                       "operations": per_op}, f, indent=1)
        for k, (v, u) in sorted(layers.items()):
            print(f"{k} = {v:.6g} {u}")
        metrics = {k: {"value": layers[k][0], "unit": layers[k][1]} for k in tracestats.PER_LAYER}
    else:
        metrics = {"setup_s": {"value": setup_s, "unit": "s"},
                   "work_s": {"value": work_s, "unit": "s"}}
    failed = len({op for op, _ in bad})
    correct = failed == 0 and not math.isnan(work_s)
    for m in metrics.values():         # no unit of work finished: no figure, not NaN
        if isinstance(m["value"], float) and math.isnan(m["value"]):
            m["value"] = None
    print(json.dumps({"correct": correct, "attempted": max(attempted, 1),
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
