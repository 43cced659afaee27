#!/usr/bin/env bash
# Same-box A/B of the benchmark: a parent revision against this checkout's
# working tree, in alternating untraced pairs.
#
#   scripts/ab_perfbench.sh <parent-rev> [workload] [pairs]
#
# workload defaults to viewer_session, pairs to 10. Run from anywhere in the
# checkout. Both sides run from fresh directories side by side under
# ${TMPDIR:-/tmp}, so they share a filesystem: the parent exported with
# `git archive`, the change as a copy of the working tree's tracked and
# untracked, not ignored, files. Each builds there from its own sources; a
# copy of a built checkout would not do, because zinc's analysis stores
# absolute paths and a compile in the copy can delete the original's
# classes. The parent's directory is kept, so a later call for the same
# revision reuses its build; the change is copied afresh on every call.
#
# Pair i runs seed 600+i on both sides; odd pairs run the parent first, even
# pairs the change first, so a slow spell of the machine weighs on both. Each
# run takes BENCHMARK.json's run_seconds. One discarded run per side builds
# it first. The raw JSON lines go next to both trees; stdout gets, per
# end-to-end metric, each side's median and IQR/median, the change/parent
# ratio of the medians, the pairs the change won, and whether the medians
# differ by more than the parent's interquartile range.
set -euo pipefail

rev=${1:?usage: scripts/ab_perfbench.sh <parent-rev> [workload] [pairs]}
workload=${2:-viewer_session}
pairs=${3:-10}
root=$(git rev-parse --show-toplevel)
sha=$(git -C "$root" rev-parse --verify "$rev^{commit}")
work="${TMPDIR:-/tmp}/ab_perfbench-${sha:0:12}"
stamp=$(date +%Y%m%d-%H%M%S)
parent="$work/parent"
change="$work/change-$stamp"
out="$work/runs-$workload-$stamp"
seconds=$(python3 -c 'import json,sys; print(json.load(open(sys.argv[1]))["run_seconds"])' \
  "$root/BENCHMARK.json")

if [ ! -f "$parent/BENCHMARK.json" ]; then
  rm -rf "$parent"
  mkdir -p "$parent"
  git -C "$root" archive "$sha" | tar -x -C "$parent"
fi
mkdir -p "$change" "$out"
(cd "$root" && git ls-files -z --cached --others --exclude-standard |
  while IFS= read -r -d '' f; do [ -e "$f" ] && printf '%s\0' "$f"; done |
  tar --null -T - -c) | tar -x -C "$change"

# run <side> <dir> <seed> <file>: one untraced run; a failed run leaves an
# empty file, which the summary counts as a failed pair
run() {
  (cd "$2" && python3 perfbench/run.py --workload "$workload" --seed "$3" \
    --seconds "$seconds" --trace 0) >"$4" 2>>"$out/$1.stderr" || true
}

echo "ab_perfbench: parent $sha in $parent, change (working tree of $root) in $change" >&2
run parent "$parent" 600 "$out/parent_build.json"
run change "$change" 600 "$out/change_build.json"
for i in $(seq 1 "$pairs"); do
  seed=$((600 + i))
  if [ $((i % 2)) -eq 1 ]; then
    run parent "$parent" "$seed" "$out/parent_$i.json"
    run change "$change" "$seed" "$out/change_$i.json"
  else
    run change "$change" "$seed" "$out/change_$i.json"
    run parent "$parent" "$seed" "$out/parent_$i.json"
  fi
  echo "ab_perfbench: pair $i/$pairs done" >&2
done

python3 - "$root/BENCHMARK.json" "$out" "$pairs" "$workload" "$sha" <<'EOF'
import json, os, statistics, sys

spec_path, out, pairs, workload, sha = sys.argv[1], sys.argv[2], int(sys.argv[3]), sys.argv[4], sys.argv[5]
spec = json.load(open(spec_path))

def load(side, i):
    path = os.path.join(out, f"{side}_{i}.json")
    lines = [l for l in open(path).read().splitlines() if l.startswith("{")] if os.path.exists(path) else []
    return json.loads(lines[-1]) if lines else None

runs = [(load("parent", i), load("change", i)) for i in range(1, pairs + 1)]
ok = [(p, c) for p, c in runs if p and c]

def quartiles(xs):
    q = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else [xs[0]] * 3
    return q[0], q[1], q[2]

print(f"workload {workload}; parent {sha[:12]} vs working tree; {len(ok)} of {pairs} pairs complete")
for side, k in (("parent", 0), ("change", 1)):
    rs = [r[k] for r in runs if r[k]]
    print(f"  {side}: correct {sum(r['correct'] for r in rs)}/{len(rs)}, "
          f"failed ops {sum(r['failed'] for r in rs)} of {sum(r['attempted'] for r in rs)}")
print(f"{'metric':28} {'parent med':>11} {'IQR/med':>8} {'change med':>11} {'IQR/med':>8} "
      f"{'ratio':>6} {'won':>7} {'>IQR':>5} {'bound':>6}")
for m in spec["end_to_end"]:
    name, lower = m["name"], m["better"] == "lower"
    pv = [p["metrics"][name]["value"] for p, _ in ok]
    cv = [c["metrics"][name]["value"] for _, c in ok]
    if not pv:
        continue
    (pq1, pm, pq3), (cq1, cm, cq3) = quartiles(pv), quartiles(cv)
    ps = (pq3 - pq1) / pm if pm else float("nan")
    cs = (cq3 - cq1) / cm if cm else float("nan")
    won = sum((c < p) if lower else (c > p) for p, c in zip(pv, cv))
    ratio = cm / pm if pm else float("nan")
    # the medians differ by more than the parent's own interquartile range
    beyond = "yes" if abs(cm - pm) > pq3 - pq1 else "no"
    print(f"{name:28} {pm:11.4g} {ps:8.3f} {cm:11.4g} {cs:8.3f} {ratio:6.3f} "
          f"{won:>3}/{len(ok):<3} {beyond:>5} {m['bound']:6.2f}")
print(f"raw runs: {out}")
EOF
