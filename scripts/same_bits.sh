#!/usr/bin/env bash
# Same-bits check: dumps the models and predictions of fitPredict, fit and
# predict on fixed corpora (src/test/scala/graft/tools/SameBitsDump.scala)
# at <rev> and in the working tree, then diffs the dumps corpus by corpus.
#
#   scripts/same_bits.sh <rev> [corpus ...]
#
# <rev> is exported with `git archive` into a temporary directory (under
# $TMPDIR, default /tmp) and gets the working tree's dump main, so any
# revision with the public detection API can be checked. Both builds run
# with sbt from scratch; stop any sbt shell of this checkout first. The
# temporary directory is kept (its path is printed) and holds both dumps.
# Exit status: 0 when every dump is byte-identical, 1 otherwise.
set -euo pipefail
rev=${1:?usage: scripts/same_bits.sh <rev> [corpus ...]}
shift
root=$(git rev-parse --show-toplevel)
work=$(mktemp -d "${TMPDIR:-/tmp}/same_bits.XXXXXX")
echo "[same-bits] work dir $work"
mkdir -p "$work/rev"
git -C "$root" archive "$rev" | tar -x -C "$work/rev"
dump=src/test/scala/graft/tools/SameBitsDump.scala
mkdir -p "$work/rev/$(dirname "$dump")"
cp "$root/$dump" "$work/rev/$dump"

run() { # <checkout> <out dir> [corpus ...]
  local dir=$1 out=$2
  shift 2
  (cd "$dir" && sbt --batch -Dsbt.log.noformat=true \
    "Test/runMain graft.tools.SameBitsDump $out $*") >"$out.log" 2>&1 || {
    echo "[same-bits] dump failed in $dir, see $out.log"; exit 2; }
}
run "$work/rev" "$work/out-rev" "$@"
run "$root" "$work/out-tree" "$@"

status=0
for f in "$work"/out-rev/*.txt; do
  name=$(basename "$f" .txt)
  if cmp -s "$f" "$work/out-tree/$name.txt"; then
    echo "[same-bits] $name: identical"
  else
    echo "[same-bits] $name: DIFFERS ($(diff "$f" "$work/out-tree/$name.txt" | grep -c '^[<>]') lines)"
    status=1
  fi
  grep -h 'differ from Llk.llk' "$work/out-tree/$name.txt" | sed "s/^/[same-bits] $name tree: /" || true
done
exit $status
