#!/usr/bin/env bash
# Local correctness gate: dump every catalog row with graft.Verify at sf0.01
# and sf0.001, then replay the DuckDB oracle compare on each dump
# (scripts/check_oracle.py). Exits non-zero when a query fails inside
# Verify (a failed query writes no dump, so the compare alone would miss
# it) or when any row mismatches its oracle.
#
# Usage: scripts/gate.sh <testdata>    (the dir holding sf0.01/ and sf0.001/)
set -u
data=$(cd "${1:?usage: scripts/gate.sh <testdata>}" && pwd) || exit 1
cd "$(dirname "$0")/.."
out=target/gate
rm -rf "$out"
mkdir -p "$out"
sfs=(sf0.01 sf0.001)

runs=()
for sf in "${sfs[@]}"; do runs+=("runMain graft.Verify $data/$sf $out/$sf"); done
sbt --batch -Dsbt.log.noformat=true "${runs[@]}" 2>&1 | tee "$out/verify.log"
status=${PIPESTATUS[0]}
if [ "$status" -ne 0 ]; then
  echo "gate: sbt exited $status" >&2
  exit 1
fi

failed=0
if grep -E '\[verify\] [^ ]+ failed' "$out/verify.log" >&2; then
  echo "gate: queries failed inside Verify (listed above)" >&2
  failed=1
fi
for sf in "${sfs[@]}"; do
  echo "== oracle compare at $sf"
  python3 scripts/check_oracle.py "$out/$sf" "$data/$sf" > "$out/oracle_$sf.log" || failed=1
  grep -v '^✓' "$out/oracle_$sf.log"
done
exit $failed
