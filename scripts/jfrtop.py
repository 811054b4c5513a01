#!/usr/bin/env python3
"""Aggregate a JFR recording's CPU samples (jdk.ExecutionSample) by thread
class, by top frame and by package.

Needs only the JDK's `jfr` tool and the standard library. Record with, e.g.,
  java -XX:StartFlightRecording=filename=build.jfr,settings=profile ...
then:
  scripts/jfrtop.py build.jfr                        # whole recording
  scripts/jfrtop.py build.jfr --trace out/trace.jsonl  # from perfbench's setup_done on
  scripts/jfrtop.py build.jfr --after 1760000000.5 --thread executor --under readFields

--after cuts at a wall-clock time (epoch seconds); --trace FILE [--mark NAME]
takes the cut from a perfbench trace.jsonl mark (default setup_done).
--thread keeps one thread class. --under SUBSTR prints the share of samples
with a frame containing SUBSTR, and the frames that called into it.
"""
import argparse
import collections
import datetime
import json
import re
import subprocess
import sys


def samples(path):
    out = subprocess.run(["jfr", "print", "--json", "--events", "jdk.ExecutionSample", path],
                         check=True, stdout=subprocess.PIPE, text=True).stdout
    for e in json.loads(out)["recording"]["events"]:
        v = e["values"]
        t = datetime.datetime.fromisoformat(v["startTime"].replace("Z", "+00:00")).timestamp()
        thread = (v.get("sampledThread") or {}).get("javaName") or "?"
        # class names come in the JVM's internal form (java/lang/String)
        frames = [f"{f['method']['type']['name'].replace('/', '.')}.{f['method']['name']}"
                  for f in ((v.get("stackTrace") or {}).get("frames") or [])]
        yield t, thread, frames


def thread_class(name):
    if name.startswith("Executor task launch worker"):
        return "executor"
    return re.sub(r"[-#\s]*\d+.*$", "", name) or name


def package(frame, depth):
    parts = frame.rsplit(".", 2)[0].split(".")
    return ".".join(parts[:depth])


def mark_time(trace, name):
    with open(trace) as f:
        for line in f:
            r = json.loads(line)
            if r.get("kind") == "mark" and r.get("name") == name:
                return r["t"] / 1e6
    sys.exit(f"jfrtop: no mark {name!r} in {trace}")


def table(title, counter, total, top):
    print(f"\n{title}")
    for k, n in counter.most_common(top):
        print(f"  {100 * n / total:5.1f}%  {n:6d}  {k}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("recording")
    ap.add_argument("--after", type=float, help="keep samples at or after this epoch second")
    ap.add_argument("--trace", help="perfbench trace.jsonl to take the cut from")
    ap.add_argument("--mark", default="setup_done", help="trace mark of the cut")
    ap.add_argument("--thread", help="keep one thread class (e.g. executor, main)")
    ap.add_argument("--under", help="share of samples with a frame containing this")
    ap.add_argument("--top", type=int, default=15)
    ap.add_argument("--depth", type=int, default=4, help="package components")
    a = ap.parse_args()
    cut = mark_time(a.trace, a.mark) if a.trace else a.after
    rows = [(th, fr) for t, th, fr in samples(a.recording)
            if (cut is None or t >= cut) and (a.thread is None or thread_class(th) == a.thread)]
    if not rows:
        sys.exit("jfrtop: no samples left after the filters")
    n = len(rows)
    print(f"{n} samples" + (f" from {cut:.3f}" if cut is not None else "") +
          (f" on {a.thread} threads" if a.thread else ""))
    table("by thread class", collections.Counter(thread_class(th) for th, _ in rows), n, a.top)
    top = [fr[0] for _, fr in rows if fr]
    table("by top frame", collections.Counter(top), n, a.top)
    table("by package (top frame)", collections.Counter(package(f, a.depth) for f in top), n, a.top)
    if a.under:
        hit = [fr for _, fr in rows if any(a.under in f for f in fr)]
        print(f"\nunder {a.under!r}: {len(hit)} samples, {100 * len(hit) / n:.1f}%")
        callers = collections.Counter()
        for fr in hit:
            i = max(j for j, f in enumerate(fr) if a.under in f)
            callers[" <- ".join(fr[i + 1:i + 3]) or "(root)"] += 1
        table(f"callers of {a.under!r}", callers, n, a.top)


if __name__ == "__main__":
    main()
