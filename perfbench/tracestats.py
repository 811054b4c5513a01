"""Per-layer figures from a traced run's spans and Spark records.

Only the measured window (after set-up) counts. Each Spark job belongs
to the innermost span open when it was submitted; a span's figures
include its children's. A span's self time is its duration minus the
part its child spans cover; `trace.unattributed_s` is the window's wall
time minus every layer span's self time.
"""
import json
import statistics

# Named in BENCHMARK.json: present on every workload.
PER_LAYER = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_s": "s", "spark.core_util": "ratio", "spark.shuffle_bytes": "B",
    "spark.spill_bytes": "B", "spark.driver_gap_s": "s", "spark.planning_ms": "ms",
    "spark.codegen_compiles": "count", "spark.codegen_ms": "ms", "spark.gc_ms": "ms",
    "trace.layer_self_s": "s", "trace.unattributed_s": "s",
}
LAYERS = ("ingest.", "lake.", "adjust.", "query.", "queries.")


def _union(intervals):
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _clip(iv, lo, hi):
    return [(max(a, lo), min(b, hi)) for a, b in iv if min(b, hi) > max(a, lo)]


def summarize(path, cores):
    """Returns ({figure: (value, unit)}, [per-operation record])."""
    recs = [json.loads(ln) for ln in open(path)]
    marks = {r["name"]: r["t"] for r in recs if r["kind"] == "mark"}
    lo, hi = marks["setup_done"], marks["end"]
    wall_us = hi - lo
    spans = [r for r in recs if r["kind"] == "span" and r["t0"] >= lo]
    by_id = {s["id"]: s for s in spans}
    stages = {r["stage"]: r for r in recs if r["kind"] == "stage"}
    ends = {r["job"]: r["t1"] for r in recs if r["kind"] == "job_end"}
    jobs = [dict(r, t1=ends.get(r["job"], r["t0"])) for r in recs
            if r["kind"] == "job" and lo <= r["t0"] <= hi]
    qes = [r for r in recs if r["kind"] == "qe" and lo <= r["t0"] <= hi]
    batches = [r for r in recs if r["kind"] == "batch" and lo <= r["t0"] <= hi]

    for s in spans:
        s.update(jobs=[], qes=[], children=[])
    for s in spans:
        if s["parent"] in by_id:
            by_id[s["parent"]]["children"].append(s)

    def innermost(t):
        best = None
        for s in spans:
            if s["t0"] <= t <= s["t1"] and (best is None or s["t0"] >= best["t0"]):
                best = s
        return best

    for j in jobs:
        s = innermost(j["t0"])
        if s:
            s["jobs"].append(j)
    for q in qes:
        s = innermost(q["t0"])
        if s:
            s["qes"].append(q)

    def subtree(s):
        out = [s]
        for c in s["children"]:
            out += subtree(c)
        return out

    def figures(s):
        tree = subtree(s)
        js = [j for x in tree for j in x["jobs"]]
        st = [stages[i] for j in js for i in j["stages"] if i in stages]
        dur = s["t1"] - s["t0"]
        return {
            "dur_s": dur / 1e6,
            "self_s": (dur - _union([(c["t0"], c["t1"]) for c in s["children"]])) / 1e6,
            "jobs": len(js), "stages": len(st), "tasks": sum(x["tasks"] for x in st),
            "task_s": sum(x["run_ms"] for x in st) / 1e3,
            "shuffle_bytes": sum(x["shuffle_bytes"] for x in st),
            "spill_bytes": sum(x["spill_bytes"] for x in st),
            "driver_gap_s": (dur - _union(_clip([(j["t0"], j["t1"]) for j in js],
                                                s["t0"], s["t1"]))) / 1e6,
            "planning_ms": sum(q["planning_ms"] for x in tree for q in x["qes"]),
            "codegen_compiles": s["codegen_compiles"], "codegen_ms": s["codegen_ms"],
            "gc_ms": s["gc_ms"],
        }

    for s in spans:
        s["fig"] = figures(s)
    top = [s for s in spans if s["parent"] not in by_id]
    st_all = [stages[i] for j in jobs for i in j["stages"] if i in stages]
    layer_self = sum(s["fig"]["self_s"] for s in spans if s["name"].startswith(LAYERS))
    task_s = sum(x["run_ms"] for x in st_all) / 1e3
    out = {
        "spark.jobs": len(jobs), "spark.stages": len(st_all),
        "spark.tasks": sum(x["tasks"] for x in st_all), "spark.task_s": task_s,
        "spark.core_util": task_s / (wall_us / 1e6 * cores),
        "spark.shuffle_bytes": sum(x["shuffle_bytes"] for x in st_all),
        "spark.spill_bytes": sum(x["spill_bytes"] for x in st_all),
        "spark.driver_gap_s": (wall_us - _union(_clip([(j["t0"], j["t1"]) for j in jobs], lo, hi))) / 1e6,
        "spark.planning_ms": sum(q["planning_ms"] for q in qes),
        "spark.codegen_compiles": sum(s["codegen_compiles"] for s in top),
        "spark.codegen_ms": sum(s["codegen_ms"] for s in top),
        "spark.gc_ms": sum(s["gc_ms"] for s in top),
        "trace.layer_self_s": layer_self,
        "trace.unattributed_s": wall_us / 1e6 - layer_self,
    }
    res = {k: (v, PER_LAYER[k]) for k, v in out.items()}

    # Every span name: count, median duration, total self time.
    names = sorted({s["name"] for s in spans})
    for n in names:
        ss = [s for s in spans if s["name"] == n]
        res[f"span.{n}.n"] = (len(ss), "count")
        res[f"span.{n}.median_ms"] = (statistics.median(s["fig"]["dur_s"] for s in ss) * 1e3, "ms")
        res[f"span.{n}.self_s"] = (sum(s["fig"]["self_s"] for s in ss), "s")

    def med(name, key, scale=1.0):
        ss = [s for s in spans if s["name"] == name]
        return statistics.median(s["fig"][key] for s in ss) * scale if ss else None

    named = {
        "ingest.busy_s": (med("ingest.ingest", "dur_s"), "s"),
        "ingest.manifest_s": (med("ingest.manifest", "dur_s"), "s"),
        "ingest.tasks": (med("ingest.ingest", "tasks"), "count"),
        "lake.open_ms": (med("lake.open", "dur_s", 1e3), "ms"),
        "adjust.busy_s": (med("adjust.build", "dur_s"), "s"),
        "adjust.audit_s": (med("adjust.audit", "dur_s"), "s"),
        "adjust.jobs": (med("adjust.build", "jobs"), "count"),
        "adjust.stages": (med("adjust.build", "stages"), "count"),
        "adjust.shuffle_bytes": (med("adjust.build", "shuffle_bytes"), "B"),
        "adjust.spill_bytes": (med("adjust.build", "spill_bytes"), "B"),
        "adjust.driver_gap_s": (med("adjust.build", "driver_gap_s"), "s"),
        "query.qa_s": (med("query.qa", "dur_s"), "s"),
    }
    rows = sorted({s["name"] for s in top if s["name"].startswith("queries.")})
    for r in rows:
        ss = [s for s in top if s["name"] == r]
        kids = lambda n: [c for s in ss for c in s["children"] if c["name"] == n]
        f = lambda key: statistics.median(s["fig"][key] for s in ss)
        named[f"{r}.eager_s"] = (statistics.median(c["fig"]["dur_s"] for c in kids("queries.eager")), "s")
        named[f"{r}.action_s"] = (statistics.median(c["fig"]["dur_s"] for c in kids("queries.action")), "s")
        for key, unit in (("jobs", "count"), ("stages", "count"), ("driver_gap_s", "s"),
                          ("codegen_compiles", "count"), ("codegen_ms", "ms"), ("planning_ms", "ms"),
                          ("shuffle_bytes", "B"), ("gc_ms", "ms")):
            named[f"{r}.{key}"] = (f(key), unit)
    fits = [j for j in jobs if j["group"].startswith("graft-fit-")]
    if fits:
        fit_s = sum(j["t1"] - j["t0"] for j in fits) / 1e6
        row_s = sum(s["fig"]["dur_s"] for s in top if any(j in fits for x in subtree(s) for j in x["jobs"]))
        named["text.fit_job_s"] = (fit_s, "s")
        named["text.fit_jobs"] = (len(fits), "count")
        named["text.fit_oversub"] = (fit_s / row_s if row_s else 0.0, "ratio")
    if batches:
        d = lambda k: [b["durations"].get(k, 0) for b in batches]
        named["streaming.batches"] = (len(batches), "count")
        named["streaming.batch_ms_p50"] = (statistics.median(d("triggerExecution")), "ms")
        named["streaming.addbatch_ms"] = (sum(d("addBatch")), "ms")
        named["streaming.walcommit_ms"] = (sum(d("walCommit")), "ms")
        named["streaming.planning_ms"] = (sum(d("queryPlanning")), "ms")
    res.update({k: v for k, v in named.items() if v[0] is not None})

    # curation's warm-up pass runs in set-up, so its compiles stay out of
    # the window above; report them apart.
    warm = [r for r in recs if r["kind"] == "span" and r["t0"] < lo and r["parent"] == -1]
    if warm:
        res["warmup.s"] = (sum(r["t1"] - r["t0"] for r in warm) / 1e6, "s")
        res["warmup.codegen_compiles"] = (sum(r["codegen_compiles"] for r in warm), "count")
        res["warmup.codegen_ms"] = (sum(r["codegen_ms"] for r in warm), "ms")

    # Per operation (build or row): wall time and each child layer's time.
    ops = [{"op": s["name"], "req": s["req"], "ms": s["fig"]["dur_s"] * 1e3,
            "self_ms": s["fig"]["self_s"] * 1e3,
            "layers_ms": {c["name"]: c["fig"]["dur_s"] * 1e3 for c in s["children"]}}
           for s in top]
    return res, ops
