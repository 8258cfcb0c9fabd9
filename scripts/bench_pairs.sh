#!/usr/bin/env bash
# Paired benchmark runs: a revision against the working tree.
#
#   scripts/bench_pairs.sh <rev> <workload> <seed> [seed ...]
#
# <rev> is exported with `git archive` (no worktree is made) into
# $TMPDIR/bench_pairs_<sha> (default /tmp), which is kept, so a second call
# for the same revision reuses its benchmark build. For every seed the
# script runs `pfsabench/run.py` once on each side, one JVM at a time, and
# alternates which side goes first (the revision first on the 1st, 3rd, ...
# seed), so a drift in the host's speed falls on both sides alike. After
# each run the result JSON is copied into the side's own directory (a run
# overwrites the file of its workload and seed), and at the end
# `scripts/pfsabench_compare.py` compares the two directories. The run
# length is BENCHMARK.json's `run_seconds`; runs are untraced.
#
# Prints the two result directories. Exit status: pfsabench_compare.py's
# (1 when a bounded metric is worse than its bound), or 2 when a run failed.
set -euo pipefail
rev=${1:?usage: scripts/bench_pairs.sh <rev> <workload> <seed> [seed ...]}
workload=${2:?usage: scripts/bench_pairs.sh <rev> <workload> <seed> [seed ...]}
shift 2
[ $# -gt 0 ] || { echo "usage: scripts/bench_pairs.sh <rev> <workload> <seed> [seed ...]"; exit 2; }
root=$(git rev-parse --show-toplevel)
sha=$(git -C "$root" rev-parse --verify "$rev^{commit}")
seconds=$(python3 -c 'import json,sys; print(json.load(open(sys.argv[1]))["run_seconds"])' \
  "$root/BENCHMARK.json")
base=${TMPDIR:-/tmp}/bench_pairs_$sha
if [ ! -f "$base/.exported" ]; then
  rm -rf "$base"
  mkdir -p "$base/rev"
  git -C "$root" archive "$sha" | tar -x -C "$base/rev"
  touch "$base/.exported"
fi
out=$base/$workload-$(date -u +%Y%m%dT%H%M%SZ)
mkdir -p "$out/rev" "$out/tree"
echo "[bench-pairs] $rev ($sha) in $base/rev against $root"
echo "[bench-pairs] results: $out/rev $out/tree"

run() { # <side> <checkout> <seed>
  local side=$1 dir=$2 seed=$3
  local name=$workload-seed$seed-trace0.json
  if (cd "$dir" && python3 pfsabench/run.py --workload "$workload" --seed "$seed" \
      --seconds "$seconds" --trace 0 >"$out/$side/$name.log" 2>&1); then
    cp "$dir/.bench_build/pfsabench/results/$name" "$out/$side/$name"
    echo "[bench-pairs] seed $seed $side: done"
  else
    echo "[bench-pairs] seed $seed $side: FAILED, see $out/$side/$name.log"
    failed=1
  fi
}

failed=0
i=0
for seed in "$@"; do
  if [ $((i % 2)) -eq 0 ]; then
    run rev "$base/rev" "$seed"; run tree "$root" "$seed"
  else
    run tree "$root" "$seed"; run rev "$base/rev" "$seed"
  fi
  i=$((i + 1))
done

status=0
python3 "$root/scripts/pfsabench_compare.py" "$out/rev" "$out/tree" || status=$?
[ $failed -eq 0 ] || exit 2
exit $status
