#!/usr/bin/env bash
# Paired A/B of the repository benchmark (perfbench/run.py): a base
# revision against this working tree, in alternating pairs on the same
# seeds, so that drift in the host's speed lands on both sides alike.
#
# Usage: scripts/ab.sh [--base REV] [--pairs N] [--first-seed K]
#                      [--workload W]... [--trace 0|1] [--dir DIR]
#   --base      revision to compare against. Default: HEAD when tracked
#               files have uncommitted changes, else HEAD^ (the parent of
#               the change under test either way).
#   --pairs     pairs per workload, default 10. Pair i runs seed K+i-1
#               on both sides; odd pairs run the base first, even pairs
#               this tree first.
#   --first-seed  K, the first pair's seed, default 1. Checking a claim
#               on seeds not used while the change was written keeps the
#               check honest.
#   --workload  lake_build or curation; repeat for both (the default).
#   --trace     run.py's --trace, default 0. With 1 every traced figure
#               is compared too, not only work_s and setup_s.
#   --dir       scratch directory for the base tree and the run logs,
#               default ${TMPDIR:-/tmp}/graft-ab. The base is unpacked
#               with `git archive`, so the repository's .git is never
#               written to.
#
# Every run uses BENCHMARK.json's run_seconds. For each workload the
# script prints the per-pair table of work_s and setup_s, each side's
# median and quartiles, and how many pairs this tree won (ties count for
# neither side); then the same summary for every other figure run.py
# printed; then one verdict line per end-to-end metric of BENCHMARK.json:
#   - claim: over at least 10 pairs, this tree won at least 9 in 10 and
#     its median moved the better way by more than the base's
#     interquartile range;
#   - bound: this tree's median is no worse than the base's by more
#     than the metric's `bound` (a fraction of the base median).
# Exit code 1 when any run failed or any check failed.
set -euo pipefail
cd "$(dirname "$0")/.."
repo=$(pwd)

base="" pairs=10 first=1 trace=0 dir="${TMPDIR:-/tmp}/graft-ab" workloads=()
while [[ $# -gt 0 ]]; do
  case "$1" in
    --base) base=$2; shift 2 ;;
    --pairs) pairs=$2; shift 2 ;;
    --first-seed) first=$2; shift 2 ;;
    --workload) workloads+=("$2"); shift 2 ;;
    --trace) trace=$2; shift 2 ;;
    --dir) dir=$2; shift 2 ;;
    *) echo "ab.sh: unknown argument $1" >&2; exit 2 ;;
  esac
done
[[ ${#workloads[@]} -gt 0 ]] || workloads=(lake_build curation)
if [[ -z "$base" ]]; then
  if git diff --quiet HEAD --; then base="HEAD^"; else base="HEAD"; fi
fi
rev=$(git rev-parse --short "$base")
seconds=$(python3 -c 'import json; print(json.load(open("BENCHMARK.json"))["run_seconds"])')

base_tree="$dir/base-$rev"
logs="$dir/logs"
mkdir -p "$logs"
if [[ ! -f "$base_tree/perfbench/run.py" ]]; then
  rm -rf "$base_tree"
  mkdir -p "$base_tree"
  git archive "$rev" | tar -x -C "$base_tree"
fi

# Build both sides before any timed run (run.py caches the classpath).
for tree in "$base_tree" "$repo"; do
  echo "ab.sh: building $tree" >&2
  (cd "$tree" && python3 -c 'import sys; sys.path.insert(0, "perfbench"); import run; run.classpath()')
done

run_one() {  # side tree workload seed
  local out="$logs/$3.$4.$1.out"
  echo "ab.sh: $3 seed $4 $1" >&2
  (cd "$2" && python3 perfbench/run.py --workload "$3" --seed "$4" \
      --seconds "$seconds" --trace "$trace") > "$out" 2>"$out.err" || true
}

for w in "${workloads[@]}"; do
  for ((i = 1; i <= pairs; i++)); do
    seed=$((first + i - 1))
    if ((i % 2)); then
      run_one base "$base_tree" "$w" "$seed"; run_one head "$repo" "$w" "$seed"
    else
      run_one head "$repo" "$w" "$seed"; run_one base "$base_tree" "$w" "$seed"
    fi
  done
done

python3 - "$logs" "$pairs" "$first" "$rev" "${workloads[@]}" <<'EOF'
import json, math, re, statistics, sys

logs, pairs, first, rev = sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), sys.argv[4]
workloads = sys.argv[5:]
END_TO_END = json.load(open("BENCHMARK.json"))["end_to_end"]
LINE = re.compile(r"^([\w.]+) = (\S+) (\S+)$")
HIGHER_BETTER = ("_per_s", "core_util")


def load(w, seed, side):
    """(figures, correct) of one run; figures is {} when the run died."""
    figs, correct = {}, False
    try:
        lines = open(f"{logs}/{w}.{seed}.{side}.out").read().splitlines()
    except OSError:
        return figs, correct
    for ln in lines:
        m = LINE.match(ln)
        if m:
            try:
                figs[m.group(1)] = float(m.group(2))
            except ValueError:
                pass
    if lines:
        try:
            correct = json.loads(lines[-1]).get("correct") is True
        except ValueError:
            pass
    return figs, correct


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def better(name, a, b):
    return b > a if name.endswith(HIGHER_BETTER) else b < a


bad = 0
for w in workloads:
    runs = {s: (load(w, s, "base"), load(w, s, "head"))
            for s in range(first, first + pairs)}
    failed = [f"seed {s} {side}" for s, sides in runs.items()
              for side, (_, ok) in zip(("base", "head"), sides) if not ok]
    bad += len(failed)
    print(f"\n== {w}: base {rev} vs this tree, {pairs} pairs,"
          f" seeds {first}..{first + pairs - 1} ==")
    if failed:
        print("failed or unchecked runs: " + ", ".join(failed))
    for name in ("work_s", "setup_s"):
        print(f"\n{name}:  seed       base       head    delta   winner")
        for s, ((a, _), (b, _)) in runs.items():
            if name in a and name in b:
                d = (b[name] - a[name]) / a[name]
                win = ("tie" if a[name] == b[name] else
                       "head" if better(name, a[name], b[name]) else "base")
                print(f"{'':8}{s:4} {a[name]:10.3f} {b[name]:10.3f} {d:+8.1%}   {win}")
    names = sorted({k for (a, _), (b, _) in runs.values() for k in a if k in b})
    names.sort(key=lambda k: (k not in ("work_s", "setup_s"), k))
    print(f"\n{'figure':34} {'base q1/med/q3':>30} {'head q1/med/q3':>30}"
          f" {'d med':>7} {'IQR/med':>7} {'wins':>6}")
    for k in names:
        both = [(a[k], b[k]) for (a, _), (b, _) in runs.values() if k in a and k in b]
        A, B = [x for x, _ in both], [y for _, y in both]
        qa, qb = quartiles(A), quartiles(B)
        wins = sum(better(k, x, y) for x, y in both)
        rel = (qb[1] - qa[1]) / qa[1] if qa[1] else float("nan")
        iqr = (qa[2] - qa[0]) / qa[1] if qa[1] else float("nan")
        fmt = lambda q: "/".join(f"{v:.4g}" for v in q)
        print(f"{k:34} {fmt(qa):>30} {fmt(qb):>30} {rel:+7.1%} {iqr:7.3f}"
              f" {wins:>3}/{len(both)}")
    print()
    for m in END_TO_END:
        k, bound, lower = m["name"], m["bound"], m["better"] == "lower"
        both = [(a[k], b[k]) for (a, _), (b, _) in runs.values() if k in a and k in b]
        if not both:
            print(f"verdict {w} {k}: no pair ran")
            continue
        A, B = [x for x, _ in both], [y for _, y in both]
        qa, qb = quartiles(A), quartiles(B)
        wins = sum(better(k, x, y) for x, y in both)
        gain = (qa[1] - qb[1]) if lower else (qb[1] - qa[1])
        iqr = qa[2] - qa[0]
        claim = pairs >= 10 and wins >= math.ceil(0.9 * pairs) and gain > iqr
        worse = -gain / qa[1] if qa[1] else float("nan")
        within = worse <= bound
        print(f"verdict {w} {k}: claim {'HOLDS' if claim else 'FAILS'}"
              f" ({wins}/{pairs} pairs won, median gain {gain:.3f} vs base IQR"
              f" {iqr:.3f}); bound {'OK' if within else 'EXCEEDED'}"
              f" (head median {worse:+.1%} vs base, worse by at most {bound:.0%})")
sys.exit(1 if bad else 0)
EOF
