#!/bin/bash
# Scale certificates — the correctness witnesses for the declared queries
# whose DuckDB oracles stop at the sf10 sweep (quadratic pair families,
# engine-specific sketches, the flagship chain, the streaming replays).
# Each certificate is declared next to the query it certifies
# (`Declared(..., certs = Seq(...))` in src/main/scala/graft/queries) and
# is linear, fully distributed and runnable at any scale; most compare two
# independent plans for bit-equality, the rest check published invariants
# (src/main/scala/graft/queries/Cert.scala). This script compiles once and
# runs them all through the one runner, `graft.Verify --certs`, which
# prints one `[<cert>-cert] <stage> ...` line per check and stops at the
# first violation. `prune128` needs a factor-1000 slice (c >= 16,384
# centroids) and refuses smaller ones.
#
# Usage: scripts/scale_certs.sh [sfDir] [cert...]   (default /tmp/graft-sf100;
#        no cert names = every certificate in the registry)
# CERT_LOG=<file> appends the cert lines (and the verdict) to <file>.
set -euo pipefail
cd "$(dirname "$0")/.."

DIR="${1:-/tmp/graft-sf100}"
[ -d "$DIR" ] || { echo "no such dir: $DIR" >&2; exit 2; }
shift $(( $# > 0 ? 1 : 0 ))

# Compile ONCE up front, then run via plain java (scripts/run_main.sh): the
# multi-hour run does not hold the sbt lock, and a mid-run source edit
# cannot be picked up silently.
sbt -batch compile

# The exit status decides, not a grep for display: fail on the JVM's exit
# status OR any failure marker in the output, and only then pass.
out=$(mktemp)
trap 'rm -f "$out"' EXIT
status=0
SPARK_DRIVER_MEM="${SPARK_DRIVER_MEM:-64g}" \
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" \
  "$(dirname "$0")/run_main.sh" graft.Verify --certs "$DIR" "$@" >"$out" 2>&1 || status=$?
lines=$(grep -E '^\[[a-z0-9]+-cert\] ' "$out" || true)
[ -z "$lines" ] || echo "$lines"
# CERT_LOG: committable artifact of the cert lines (the factor-1000 output
# once lived only in /tmp logs and a reboot ate it)
if [ -n "${CERT_LOG:-}" ] && [ -n "$lines" ]; then printf '%s\n' "$lines" >> "$CERT_LOG"; fi
if [ "$status" -ne 0 ]; then
  tail -40 "$out"
  echo "scale certificates: FAILED (JVM exit $status)" >&2
  exit 1
fi
if grep -qE 'FAILED|Exception|Error:' "$out"; then
  grep -E 'FAILED|Exception|Error:' "$out" | head -10
  echo "scale certificates: FAILED (failure marker in output)" >&2
  exit 1
fi
[ -n "$lines" ] || { echo "scale certificates: no cert line" >&2; exit 1; }
echo "scale certificates: ALL GREEN at $DIR"
if [ -n "${CERT_LOG:-}" ]; then
  echo "scale certificates: ALL GREEN at $DIR" >> "$CERT_LOG"
fi
