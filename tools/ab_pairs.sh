#!/usr/bin/env bash
# A/B of two revisions on one perfbench workload, in alternating-order pairs.
#
#   tools/ab_pairs.sh PARENT_REV CHANGE_REV WORKLOAD N [FIRST_SEED]
#
# Extracts the committed files of both revisions (git archive) into fresh
# directories under ${TMPDIR:-/tmp}, so each side builds and runs exactly
# what is committed, as the benchmark's own driver does. Then runs N pairs
# of `perfbench/run.py --trace 0` at the run length BENCHMARK.json fixes.
# Pair i uses seed FIRST_SEED+i (default 1001) on both sides; even pairs
# run the parent first, odd pairs the change first.
#
# Prints, per end-to-end metric: each side's median and interquartile
# range, the change's win count (ties count for neither), and whether the
# gain rule holds (wins >= 9/10 of pairs and the medians differ by more
# than the parent's IQR) or the change is worse than the metric's bound.
# Every run's result line is kept in results.jsonl beside the extracted
# trees, which are deleted on exit. Run nothing else on the box meanwhile.
set -euo pipefail

if [ $# -lt 4 ] || [ $# -gt 5 ]; then
  sed -n '4p' "$0" | sed 's/^# *//' >&2
  exit 2
fi
parent_rev=$1 change_rev=$2 workload=$3 pairs=$4 first_seed=${5:-1001}
repo=$(git -C "$(dirname "$0")" rev-parse --show-toplevel)
parent_sha=$(git -C "$repo" rev-parse --verify "$parent_rev^{commit}")
change_sha=$(git -C "$repo" rev-parse --verify "$change_rev^{commit}")

work=$(mktemp -d "${TMPDIR:-/tmp}/ab_pairs.XXXXXX")
trap 'rm -rf "$work/parent" "$work/change"' EXIT
for side in parent change; do
  sha=${side}_sha
  mkdir "$work/$side"
  git -C "$repo" archive "${!sha}" | tar -x -C "$work/$side"
done
seconds=$(python3 -c 'import json,sys; print(json.load(open(sys.argv[1]))["run_seconds"])' \
  "$work/change/BENCHMARK.json")
results=$work/results.jsonl
echo "ab_pairs: parent $parent_sha, change $change_sha, $workload," \
  "$pairs pairs of ${seconds} s from seed $first_seed; runs in $results" >&2

run_side() {  # side pair seed
  local line
  line=$(cd "$work/$1" && python3 perfbench/run.py --workload "$workload" \
    --seed "$3" --seconds "$seconds" --trace 0 | tail -n 1)
  printf '{"side": "%s", "pair": %d, "seed": %d, "result": %s}\n' \
    "$1" "$2" "$3" "$line" | tee -a "$results" >&2
}

for ((i = 0; i < pairs; i++)); do
  seed=$((first_seed + i))
  if ((i % 2 == 0)); then order="parent change"; else order="change parent"; fi
  for side in $order; do run_side "$side" "$i" "$seed"; done
done

python3 - "$results" "$work/change/BENCHMARK.json" <<'EOF'
import json, statistics, sys

runs = [json.loads(l) for l in open(sys.argv[1])]
spec = json.load(open(sys.argv[2]))["end_to_end"]
by = {(r["pair"], r["side"]): r["result"] for r in runs}
pairs = sorted({r["pair"] for r in runs})

def quartiles(xs):
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3

failed = {s: sum(by[(p, s)]["failed"] for p in pairs) for s in ("parent", "change")}
attempted = {s: sum(by[(p, s)]["attempted"] for p in pairs) for s in ("parent", "change")}
print(f"pairs {len(pairs)}; failed/attempted: parent {failed['parent']}/"
      f"{attempted['parent']}, change {failed['change']}/{attempted['change']}")
print(f"{'metric':<18}{'parent median':>14}{'IQR':>9}{'change median':>15}"
      f"{'IQR':>9}{'change':>9}{'wins':>7}  verdict")
for m in spec:
    name, sign = m["name"], (1 if m["better"] == "higher" else -1)
    vals = {s: [by[(p, s)]["metrics"][name]["value"] for p in pairs]
            for s in ("parent", "change")}
    pq1, pmed, pq3 = quartiles(vals["parent"])
    cq1, cmed, cq3 = quartiles(vals["change"])
    wins = sum(sign * (c - p) > 0 for p, c in zip(vals["parent"], vals["change"]))
    rel = (cmed - pmed) / pmed if pmed else float("nan")
    if wins * 10 >= 9 * len(pairs) and sign * (cmed - pmed) > (pq3 - pq1):
        verdict = "gain"
    elif -sign * rel > m["bound"]:
        verdict = f"worse than bound {m['bound']}"
    else:
        verdict = "within bound"
    print(f"{name:<18}{pmed:>14.3f}{pq3 - pq1:>9.3f}{cmed:>15.3f}{cq3 - cq1:>9.3f}"
          f"{rel:>+9.1%}{wins:>4}/{len(pairs):<2}  {verdict}")
EOF
