#!/bin/bash
# Pinned scaling-efficiency matrix (BASELINE.md protocol, round 3):
# same fixed-8-superstep PageRank over the deterministic 40.8M-edge ER
# graph; 2-core and 8-core levels pinned with taskset so the JVM really
# owns only those CPUs, 32-core = full box. Engines: csr (broadcast
# vector) and rel (relational join+agg superstep).
# Each invocation prints one JSON line (1 warm-up + 3 timed passes,
# median) -- appended to $OUT.
set -u
cd "$(dirname "$0")/.."
OUT=${1:-/tmp/scaling_r3.jsonl}
: > "$OUT"
N=${SPARK_GRAFT_SCALE_N:-2000000}
for engine in csr rel; do
  for spec in "0-1:2" "0-7:8" ":32"; do
    cpus="${spec%%:*}"; cores="${spec##*:}"
    cmd=(sbt -batch "runMain graft.ScalingBench $N $cores $engine")
    echo "=== engine=$engine cores=$cores pinned=${cpus:-none} ===" >&2
    if [ -n "$cpus" ]; then
      taskset -c "$cpus" "${cmd[@]}" 2>/dev/null | grep '^{' >> "$OUT"
    else
      "${cmd[@]}" 2>/dev/null | grep '^{' >> "$OUT"
    fi
  done
done
cat "$OUT"
