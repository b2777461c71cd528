#!/bin/bash
# Same-boot scaling probe of the flagship production postures at
# sf0.1 / sf1 / sf10 (ScaleGen replicas: 10x / 100x sf0.1 rows in
# documents, embeddings and events). Runs graft.Bench with the standard
# probe-harness shape (local[8], min-of-three, anchors) once per SF and
# leaves one JSON line per SF in $OUT_DIR. Usage:
#   tools/scale_probe.sh [sf1_dir] [sf10_dir] [out_dir]
set -e -o pipefail
cd "$(dirname "$0")/.."
SF1="${1:-/tmp/sf1}"
SF10="${2:-/tmp/sf10}"
OUT="${3:-/tmp/scale_probe}"
mkdir -p "$OUT"
# The at-scale production postures (VERDICT r6 item 1) + the three
# event-analytics queries the sf1 round already tracked + the round-7/8
# additions (q140 probe, q141/q142 codec, q143 11-bit posture, q144
# index build — VERDICT r7 items 2 and 7). A subset run never
# adjudicates against a prior.
QUERIES="q52,q101,q102,q111,q121,q128b,q130b,q131,q137,q138,q132,q133,q136,q140,q141,q142,q143,q144,q145,q148,q149,q150,q151,q152,q153,q154,q155,q156,q157,q158,q159,q160,q161,q162,q163,q164,q165,q166,q167,q168,q169,q170"
# sf10 exclusions — every 8-bit-geometry formulation, after the round-8
# leg MEASURED the knee as a hard failure, not a slowdown: q101's
# candidate sort at sf10 spilled past the machine's ~80 GB of free disk
# (SparkOutOfMemoryError: SPILL_OUT_OF_MEMORY / No space left on device,
# stage 38, 2026-08-14) — ~5.6e9 same-bucket pairs at 600k vectors x
# 8 tables / 2^8 buckets, exactly the n^2*L/2^b arithmetic. q137 embeds
# the same 8-bit subplan; q102 multiplies it by the probe set. The same
# arithmetic excludes the round-9 RECALL-GRADE held-L postures: q152
# (32 tables x 11 bits, Hamming<=1 probes) is ~1.8e11 x 12*32/2048 ~
# 3.4e10 candidates at sf10 — q101's death x6 — and q151 (16x14 +
# probes) ~2.6e9 x ~24B sits at the spill-disk boundary; both are
# measured at sf1 instead, which is their decade (the registered sf10
# posture of the family is q149/q153). q140 REJOINS the sf10 leg this
# round: its index geometry moved from the dying 16x4 to 16x14
# (VERDICT r8 item 4), dropping probe candidates ~2^10. The sf10 leg
# therefore runs the STEPPED postures plus everything sublinear — the
# registered 100x doctrine, backed by measured failures not
# extrapolated slowdowns.
SF10_QUERIES="${QUERIES/q102,/}"
SF10_QUERIES="${SF10_QUERIES/q101,/}"
SF10_QUERIES="${SF10_QUERIES/q137,/}"
SF10_QUERIES="${SF10_QUERIES/q151,/}"
SF10_QUERIES="${SF10_QUERIES/q152,/}"
for sf in /root/testdata/sf0.1 "$SF1" "$SF10"; do
  tag=$(basename "$sf" | sed 's/^sf0.1$/sf01/')
  qs="$QUERIES"; [ "$sf" = "$SF10" ] && qs="$SF10_QUERIES"
  echo "=== probing $sf ==="
  # A subset run writes its bench line (anchors series + audit array) to
  # SPARK_GRAFT_BENCH_OUT; the probe tooling normalizes by min(anchors).
  SPARK_GRAFT_SF_DIR="$sf" SPARK_GRAFT_CPUS=8 SPARK_GRAFT_ONLY="$qs" \
    SPARK_GRAFT_BENCH_OUT="$OUT/bench_$tag.json" \
    SPARK_GRAFT_TELEMETRY="$OUT/telemetry_$tag.jsonl" SPARK_DRIVER_MEM=24g \
    tools/run_local.sh graft.Bench > /dev/null 2> "$OUT/stderr_$tag.log"
  # A killed or failed bench leaves an empty/partial line; fail HERE with
  # the real context instead of letting gen_baseline_table.py reject it
  # later with a confusing error (ADVICE r7).
  if ! grep -q '"sf":' "$OUT/bench_$tag.json"; then
    echo "probe $tag produced no complete bench line (see $OUT/stderr_$tag.log)" >&2
    exit 1
  fi
  cat "$OUT/bench_$tag.json"
done
echo "probe lines in $OUT"
