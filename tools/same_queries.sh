#!/bin/bash
# Same-queries check for a refactor: does this checkout register the same
# queries, oracle SQL and physical plans as another checkout?
#
#   tools/same_queries.sh <parent-checkout> <sf-dir> <keys>
#
# <parent-checkout> is a second checkout of the repo (e.g. a `git clone`
# of the parent commit); <sf-dir> is a table directory (see TESTDATA.md);
# <keys> is a comma-separated list of full query names or qNN prefixes,
# or `all` to dump and compare the plan of every registered key (use it
# for a change that reaches every query, e.g. one in the table loaders).
# For each checkout it compiles (sbt compile), dumps every key's oracle
# SQL (SPARK_GRAFT_ONLY=none graft.Verify writes oracle_sql.json without
# running a query) and the formatted physical plans of <keys>
# (graft.tools.PlanDump). It then compares:
#   - the oracle key sets, and every oracle string after collapsing each
#     whitespace run to one space (keys whose raw bytes differ are listed);
#   - the plans after stripping expression ids (#123, #123L), exchange
#     plan_ids (a JVM-wide counter that depends on what was planned before)
#     and JVM identity strings (object hashes like KmvAgg@1a2b3c4d and
#     lambda class names like $$Lambda$3757/0x00007f93...), which differ
#     between any two runs.
# Two plan differences are run-dependent and cannot be stripped: plans of
# queries whose builders execute pins print AQE query-stage and codegen ids
# in stage-completion order (q73, q86, q95), and the Expand of a query with
# two DISTINCT aggregates orders its projections by expression-id hashes,
# so it follows what was planned earlier in the JVM (q76, q162). Dump such
# a key twice on the parent, alone and after other keys, to tell this from
# a real change.
# Both runs use one java.io.tmpdir, so persisted-index paths in the plans
# agree. Prints one line per difference and a summary; exits 1 on any
# difference or a key that fails to plan, 2 if a checkout fails to compile.
set -u
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
PARENT="$(cd "${1:?usage: tools/same_queries.sh <parent-checkout> <sf-dir> <keys>}" && pwd)"
SF="${2:?usage: tools/same_queries.sh <parent-checkout> <sf-dir> <keys>}"
KEYS="${3:?usage: tools/same_queries.sh <parent-checkout> <sf-dir> <keys>}"
WORK="$(mktemp -d)"
trap 'rm -rf "$WORK"' EXIT
mkdir -p "$WORK/tmp"

dump() { # dump <checkout> <tag>
  local co="$1" out="$WORK/$2"
  (cd "$co" && sbt -batch -Dsbt.log.noformat=true compile > /dev/null) || {
    echo "compile failed: $co" >&2; exit 2; }
  echo "$2: $(git -C "$co" rev-parse HEAD)$(git -C "$co" status --porcelain --untracked-files=no | grep -q . && echo ' (uncommitted changes)')"
  JAVA_TOOL_OPTIONS="-Djava.io.tmpdir=$WORK/tmp" SPARK_GRAFT_ONLY=none \
    "$co/tools/run_local.sh" graft.Verify "$SF" "$out/verify" > "$out.log" 2>&1
  local only=(SPARK_GRAFT_ONLY="$KEYS")
  [ "$KEYS" = all ] && only=(-u SPARK_GRAFT_ONLY)
  env "${only[@]}" JAVA_TOOL_OPTIONS="-Djava.io.tmpdir=$WORK/tmp" \
    "$co/tools/run_local.sh" graft.tools.PlanDump "$SF" "$out/plans" >> "$out.log" 2>&1
  grep '^\[plandump\]' "$out.log" && planfail=1
  mkdir -p "$out/stripped"
  for f in "$out"/plans/*.txt; do
    [ -e "$f" ] && sed -E 's/#[0-9]+L?//g; s/plan_id=[0-9]+//g; s/@[0-9a-f]+//g; s/\$\$Lambda\$[0-9]+\/0x[0-9a-f]+//g' "$f" > "$out/stripped/$(basename "$f")"
  done
}
planfail=0
dump "$PARENT" parent
dump "$ROOT" change

status=$planfail
python3 - "$WORK/parent/verify/oracle_sql.json" "$WORK/change/verify/oracle_sql.json" <<'EOF' || status=1
import json, re, sys
a, b = (json.load(open(p)) for p in sys.argv[1:3])
norm = lambda s: re.sub(r"\s+", " ", s).strip()
bad = False
for k in sorted(set(a) ^ set(b)):
    print(f"KEY {k}: only in {'parent' if k in a else 'change'}"); bad = True
same = sorted(set(a) & set(b))
for k in same:
    if norm(a[k]) != norm(b[k]):
        print(f"SQL {k}: differs after whitespace collapse"); bad = True
raw = [k for k in same if a[k] != b[k] and norm(a[k]) == norm(b[k])]
print(f"oracle: {len(a)} parent keys, {len(b)} change keys, "
      f"{sum(norm(a[k]) == norm(b[k]) for k in same)} identical after whitespace collapse")
print("raw bytes differ (whitespace only): " + (" ".join(raw) if raw else "none"))
sys.exit(1 if bad else 0)
EOF
n="$(ls "$WORK/parent/plans" 2>/dev/null | wc -l)"
if diff -r "$WORK/parent/stripped" "$WORK/change/stripped" > "$WORK/plans.diff"; then
  echo "plans: $n identical after stripping expression ids, plan_ids and JVM identity strings"
else
  bad="$(grep -cE '^(Only in|diff )' "$WORK/plans.diff")"
  echo "plans: $((n - bad)) of $n identical, $bad differ:"; grep -E '^(Only in|diff )' "$WORK/plans.diff"; status=1
fi
[ "$status" = 0 ] && echo "same queries: yes" || echo "same queries: NO"
exit $status
