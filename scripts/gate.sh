#!/usr/bin/env bash
# One-command correctness gate: runs the driver contract (graft.Verify)
# and the DuckDB oracle compare (scripts/selfcheck.py) at sf0.01 AND
# sf0.001, exiting nonzero on any FAIL. Pass --test to also run the
# ScalaTest suite first. Run it unfiltered before every snapshot: that
# is the acceptance check. --only a,b runs and checks just the named
# queries (SPARK_GRAFT_ONLY for Verify, --only for selfcheck.py), for a
# quick re-check of the rows a change touches; an entry ending in `*`
# names every query with that prefix (--only 'qst*'), and a name or
# pattern that matches no query is a FAIL.
#
# Usage: scripts/gate.sh [--test] [--only name1,prefix*,...]
set -uo pipefail
cd "$(dirname "$0")/.."

fail=0
test=0 only=""
while [[ $# -gt 0 ]]; do
  case "$1" in
    --test) test=1; shift ;;
    --only) only=$2; shift 2 ;;
    *) echo "gate.sh: unknown argument $1" >&2; exit 2 ;;
  esac
done
only_args=()
[[ -n "${only}" ]] && only_args=(--only "${only}")

if [[ ${test} -eq 1 ]]; then
  echo "== sbt test =="
  if ! sbt -batch test > /tmp/gate_sbt_test.log 2>&1; then
    echo "GATE: sbt test FAILED (log: /tmp/gate_sbt_test.log)"
    fail=1
  fi
  grep -E "Tests:|All tests" /tmp/gate_sbt_test.log | tail -2
fi

for sf in 0.01 0.001; do
  out="/tmp/gate_out_sf${sf}"
  echo "== Verify + selfcheck at sf${sf} =="
  # Stale-output hazard: selfcheck would happily validate parquet left
  # by a PREVIOUS green run if this Verify fails to produce output —
  # so always start from an empty dir and fail on Verify's own exit.
  rm -rf "${out}"
  if ! SPARK_GRAFT_ONLY="${only}" \
      sbt -batch "runMain graft.Verify /root/testdata/sf${sf} ${out}" \
      > "/tmp/gate_verify_sf${sf}.log" 2>&1; then
    echo "GATE: Verify FAILED at sf${sf} (log: /tmp/gate_verify_sf${sf}.log)"
    fail=1
    continue
  fi
  # sbt tags Spark INFO on stderr as [error]; only [verify] lines matter
  grep -E "^\[error\] \[verify\]" "/tmp/gate_verify_sf${sf}.log" || true
  # run selfcheck once; show per-query FAIL lines plus the summary (the
  # PASS lines are noise, but a tripped gate must say WHICH query failed)
  sc_out=$(python3 scripts/selfcheck.py "/root/testdata/sf${sf}" "${out}" \
    "${only_args[@]}")
  sc_rc=$?
  echo "${sc_out}" | grep -vE "^PASS " || true
  if [[ ${sc_rc} -ne 0 ]]; then
    echo "GATE: selfcheck FAILED at sf${sf}"
    fail=1
  fi
done

if [[ $fail -eq 0 ]]; then
  echo "GATE: PASS (both scale factors${only:+, only ${only}})"
else
  echo "GATE: FAIL"
fi
exit $fail
