#!/bin/bash
# Alternating A/B pairs of one benchmark workload between two checkouts:
#
#   tools/ab_pairs.sh <parent-checkout> <change-checkout> <workload> <seed>...
#
# For each seed, runs `python3 perfbench/run.py --workload <workload>
# --seed <seed> --trace 0` in both checkouts, each with its own harness and
# build; the parent runs first in odd pairs and the change first in even
# ones. Each result line is appended, with its side and seed, to
# probes/gate/<change short sha>_ab_<workload>.jsonl of this checkout, as
#   {"side": "parent"|"change", "seed": N, "res": <run.py's last line>}
# (res is null when a run printed no result). Then, over every pair in that
# file, per end-to-end metric of the change's BENCHMARK.json: each side's
# median and interquartile range, the pairs the change wins, and whether
# the change's median is better than the parent's by more than the
# parent's IQR width.
set -euo pipefail
if [ $# -lt 4 ]; then
  sed -n '2,4p' "$0" >&2
  exit 2
fi
PARENT="$(cd "$1" && pwd)"; CHANGE="$(cd "$2" && pwd)"; WORKLOAD="$3"; shift 3
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
SHA="$(git -C "$CHANGE" rev-parse --short HEAD)"
OUT="$ROOT/probes/gate/${SHA}_ab_${WORKLOAD}.jsonl"
mkdir -p "$(dirname "$OUT")"

run_side() {  # side checkout seed
  local res
  res="$(cd "$2" && python3 perfbench/run.py --workload "$WORKLOAD" --seed "$3" --trace 0 | tail -n 1)"
  case "$res" in \{*) ;; *) res=null ;; esac
  printf '{"side":"%s","seed":%s,"res":%s}\n' "$1" "$3" "$res" >> "$OUT"
  echo "[ab] $1 seed $3 done" >&2
}

pair=0
for seed in "$@"; do
  pair=$((pair + 1))
  if [ $((pair % 2)) -eq 1 ]; then
    run_side parent "$PARENT" "$seed"; run_side change "$CHANGE" "$seed"
  else
    run_side change "$CHANGE" "$seed"; run_side parent "$PARENT" "$seed"
  fi
done

python3 - "$OUT" "$CHANGE/BENCHMARK.json" <<'EOF'
import json, statistics, sys

out, bench = sys.argv[1], json.load(open(sys.argv[2]))
runs = {}
for line in open(out):
    r = json.loads(line)
    runs[(r["side"], r["seed"])] = r["res"]  # a re-run of a seed replaces the earlier one
seeds = sorted(s for (side, s) in runs if side == "parent" and runs.get(("change", s)))
seeds = [s for s in seeds if runs[("parent", s)]]
print(f"{out}: {len(seeds)} pairs, seeds {seeds}")
for side in ("parent", "change"):
    res = [runs[(side, s)] for s in seeds]
    att, fail = sum(r["attempted"] for r in res), sum(r["failed"] for r in res)
    print(f"{side}: correct {sum(r['correct'] for r in res)}/{len(res)}, failed {fail}/{att}")

def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3

print(f"{'metric':<18}{'parent median (IQR)':>32}{'change median (IQR)':>32}  wins  gap>IQR")
for m in bench["end_to_end"]:
    name, lower = m["name"], m["better"] == "lower"
    p = [runs[("parent", s)]["metrics"][name]["value"] for s in seeds]
    c = [runs[("change", s)]["metrics"][name]["value"] for s in seeds]
    (p1, pm, p3), (c1, cm, c3) = quartiles(p), quartiles(c)
    wins = sum((cv < pv) if lower else (cv > pv) for pv, cv in zip(p, c))
    gain = (pm - cm) if lower else (cm - pm)
    print(f"{name:<18}{f'{pm:.4g} ({p1:.4g}-{p3:.4g})':>32}{f'{cm:.4g} ({c1:.4g}-{c3:.4g})':>32}"
          f"  {wins:>2}/{len(seeds)}  {'yes' if gain > p3 - p1 else 'no'}"
          f" (gain {gain:+.4g}, parent IQR {p3 - p1:.4g})")
EOF
