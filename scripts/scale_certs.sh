#!/bin/bash
# Pair-family scale certificates — the correctness story for the queries
# whose DuckDB oracles are quadratic and therefore stop at the sf10 sweep
# (sf100_sweep.sh exclusion list). Each certificate is linear, fully
# distributed, and runs at ANY scale:
#
#   --lsh-cert     q_minhash_lsh / q_neardup / q_minhash_lsh_gb pair set:
#                  bit-equality (exceptAll both directions) between the
#                  band self-JOIN plan and the bucket-AGGREGATION plan —
#                  structurally disjoint derivations of the same pairs.
#   --cc-cert      q_dupgroups labeling: every edge's endpoints share a
#                  component (no under-merge; over-merge impossible — a
#                  label only flows along edges) and each component's
#                  label is its min member id.
#   --windup-cert  q_windup shared-fingerprint pairs: self-join plan vs
#                  bucket-aggregation plan, bit-equality.
#   --stream-cert  the streaming-replay exclusion family's witness: the
#                  hourly exact-cents windowed profile through the FILE
#                  source (multi-batch admission, cross-batch window
#                  state — the at-scale ingestion path; q_stream_filewin
#                  runs the identical FileStreams code against its DuckDB
#                  oracle at driver SFs) must BIT-equal the batch plan
#                  over the same files.
#   --sketch-cert  the rows-only sketch family (q_approxd/q_hll/q_approxq):
#                  published accuracy/mergeability contracts checked
#                  against exact linear aggregates on the slice, through
#                  the shared SketchChecks code SketchSpec pins at driver
#                  SFs (HLL union + global each within the 3-sigma bound
#                  and their HIP-vs-composite estimator split small —
#                  estimate equality is a plan property, not a sketch
#                  contract; HLL++ 3-sigma bound; GK rank-error guarantee
#                  per percentile).
#   --streamjoin-cert  stream-stream JOIN state at scale: the file-source
#                  attribution join (q_stream_filejoin runs the identical
#                  FileStreams code against its DuckDB oracle at driver
#                  SFs) over two admission-capped streams of the slice's
#                  events directory — cross-batch join state under fully
#                  time-unordered arrival — must BIT-equal the batch join
#                  over the same files.
#   --keep-cert    q_dedup_keep keeper set: one anti-join past the
#                  certified pair set, derived from BOTH pair plans,
#                  bit-equality.
#   --incr-cert    q_dedup_incr survivor set: production cross-side
#                  banding vs the full-corpus bucket-plan pair set
#                  RESTRICTED to (incoming x existing), bit-equality.
#   --curate-cert  q_curate flagship chain: STAGE-CHAINED dual-plan
#                  bit-equality (window-vs-agg exact dedup, join-vs-bucket
#                  LSH drops, broadcast+count-vs-merge+countDistinct
#                  contamination, codegen-vs-SQL-text quality/split,
#                  prefix-sum-vs-window packing, two final agg paths),
#                  each stage consuming the previous stage's certified
#                  output.
#   --substr-cert  q_substrdedup/q_substrdedup_win removal output: the two
#                  plans differ only in dup-MARKING (the removal tail is
#                  shared code), so the witness is marking equality at
#                  FULL slice coverage — the production agg marking's
#                  global dup digest vs the sum of 16 span-class-
#                  restricted window markings (classes are closed under
#                  marking; per-class sorts bound the disk the full
#                  window sort cannot) — plus a full production run
#                  pinning exact corpus token conservation.
#   --bpe-cert     q_bpe_train (no SQL oracle by declared contract — the
#                  iterated data-dependent argmax): the distributed
#                  trainer vs the definitional single-node Sennrich loop
#                  run driver-side over the COLLECTED word-frequency
#                  table (vocabulary-bounded at any corpus scale) —
#                  exact table equality: ranks, pairs, summed counts.
#   --prune128-cert  the g >= 128 coarse level of assignCentroidPruned
#                  (the compiled graft_coarse_prune kernel past the inline-
#                  expression codegen cliff at c ~ 16k): (vec_id, cid)
#                  bit-equality vs the flat broadcast-frame join plan at
#                  c = 65,536 (g = 256) over a deterministic subsample,
#                  both wall timings + a full-corpus pruned timing.
#   --semdedup-cert  q_semdedup at SemDeDup's published scale regime
#                  (c ∝ n, the literal-centroid oracle replay is out of
#                  envelope): assignment duality at c=64 (inline-
#                  expression plan vs broadcast-model-frame join plan,
#                  bit-equality over (vec_id, cid)) + the keep-first drop
#                  set at c=n/512 from the production cluster-local LEFT
#                  SEMI plan vs a typed flatMapGroups per-cell pair scan
#                  (no Catalyst join), bit-equality.
#
# Remaining pair-family members carried by composition: q_dupgroups'
# label set has --cc-cert; q_editdist's candidate cut has the PropertySpec
# losslessness replay; q_embdup's cosine verification is the certified
# bucket shape with a different verifier.
#
# Usage: scripts/scale_certs.sh [sfDir]   (default /tmp/graft-sf100)
set -euo pipefail
cd "$(dirname "$0")/.."

DIR="${1:-/tmp/graft-sf100}"
[ -d "$DIR" ] || { echo "no such dir: $DIR" >&2; exit 2; }

# Compile ONCE up front, then run each cert via plain java
# (scripts/run_main.sh): the multi-hour cert runs no longer hold the sbt
# lock, so compiles/tests can proceed in parallel, and a mid-suite source
# edit can't be silently picked up by a later cert (the classes are fixed
# at suite start unless someone recompiles).
sbt -batch compile

# ADVICE r12: grep-for-display must not decide the exit status — an
# assertion failure's message contains 'FAILED', grep matched it and the
# loop kept going. Capture the output, fail on sbt's own exit status OR
# any FAILED marker, and only then print the cert lines.
for cert in --lsh-cert --cc-cert --windup-cert --stream-cert --sketch-cert \
            --streamjoin-cert --keep-cert --incr-cert --curate-cert \
            --semdedup-cert --substr-cert --prune128-cert --bpe-cert; do
  out=$(SPARK_DRIVER_MEM="${SPARK_DRIVER_MEM:-64g}" \
        SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" \
        SPARK_GRAFT_SF_DIR="$DIR" \
        "$(dirname "$0")/run_main.sh" graft.tools.Probe "$cert" 2>&1) || {
    echo "$out" | tail -40
    echo "scale certificates: $cert FAILED (JVM exit != 0)" >&2
    exit 1
  }
  if grep -qE 'FAILED|Exception|Error:' <<<"$out"; then
    echo "$out" | grep -E 'FAILED|Exception|Error:' | head -10
    echo "scale certificates: $cert FAILED (failure marker in output)" >&2
    exit 1
  fi
  lines=$(grep -E "\[(lsh|cc|windup|stream|streamjoin|sketch|keep|incr|curate|semdedup|substr|prune128|bpe)-cert\]" <<<"$out") || {
    echo "scale certificates: $cert produced no cert line" >&2
    exit 1
  }
  echo "$lines"
  # CERT_LOG: committable artifact of the cert lines (round 13 lesson —
  # the factor-1000 cert output lived only in /tmp logs and a reboot ate
  # it; EVIDENCE_*.md had to quote from memory of the run).
  if [ -n "${CERT_LOG:-}" ]; then printf '%s\n' "$lines" >> "$CERT_LOG"; fi
done
echo "scale certificates: ALL GREEN at $DIR"
if [ -n "${CERT_LOG:-}" ]; then
  echo "scale certificates: ALL GREEN at $DIR" >> "$CERT_LOG"
fi
