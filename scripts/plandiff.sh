#!/usr/bin/env bash
# Diff two `graft.Plans` output directories query by query, ignoring the
# per-run noise in Spark's plan text: expression ids (`#123`, `#123L`),
# lambda variable suffixes (`x_12`), exchange plan ids (`plan_id=42`), RDD
# ids (`MapPartitionsRDD[267]`), the
# class and identity hash of a typed operator's JVM lambda
# (`$$Lambda$5160/0x00007f0c851ac3a8@21b5dbc`), the source line of an RDD's
# call site (`at DedupOps.scala:828`), and the checkout that holds the
# transcript store (`file:/<checkout>/target/transcripts/...`). Two dumps of
# the same commit differ in all of these; no plan shape is carried by them.
#
# A `codegen stage N: max method B B, first Op` line compares its stage id,
# first operator and `(over the 8000 B JIT limit)` marker exactly, and its
# byte count B within 16 B: two JVMs can order a split aggregate method's
# parameters differently (see `graft.Plans.codegenStages`), which has moved
# the same stage by 5 B (288/293, 197/202).
#
# Usage: scripts/plandiff.sh <dirA> <dirB>
#   Files are paired by query name: the tag of `<query>_<tag>.txt`, which
#   must not contain `_`, is ignored, so dumps of two commits made with
#   different tags compare directly.
#   Prints a unified diff per differing query and a one-line summary.
#   Exit status: 0 when every query's plan matches, 1 on any difference or
#   on a query present in only one directory, 2 on bad usage.
set -euo pipefail
if [ $# -ne 2 ] || [ ! -d "$1" ] || [ ! -d "$2" ]; then
  echo "usage: $0 <dirA> <dirB>" >&2
  exit 2
fi
a=$1 b=$2
norm() {
  sed -E -e 's/#[0-9]+L?/#/g' -e 's/\b([a-z]{1,3})_[0-9]+\b/\1_/g' \
    -e 's/plan_id=[0-9]+/plan_id=/g' -e 's/RDD\[[0-9]+\]/RDD[]/g' \
    -e 's/\$\$Lambda\$[0-9]+\/0x[0-9a-f]+@[0-9a-f]+/$$Lambda/g' \
    -e 's/\b([A-Za-z0-9_]+\.scala):[0-9]+/\1:/g' \
    -e 's#file:[^] ,]*/target/transcripts/#file:<checkout>/target/transcripts/#g' \
    -e 's/^(codegen stage [0-9]+: max method )[0-9]+ B/\1<n> B/' "$1"
}
tolerance=16
# "<stage> <bytes>" per codegen line of a dump
stagebytes() { sed -nE 's/^codegen stage ([0-9]+): max method ([0-9]+) B.*/\1 \2/p' "$1"; }
# byte counts of two dumps whose codegen lines otherwise match, pairwise;
# prints and fails on a pair further apart than the tolerance
bytesclose() {
  paste -d ' ' <(stagebytes "$1") <(stagebytes "$2") | awk -v tol=$tolerance -v q="$3" '
    { d = $2 - $4; if (d < 0) d = -d
      if (d > tol) { printf "== %s: codegen stage %s max method %s B vs %s B\n", q, $1, $2, $4; bad = 1 } }
    END { exit bad }'
}
# query name of a dump file: strip the directory and the trailing _<tag>.txt
query() { local f=${1##*/}; f=${f%.txt}; echo "${f%_*}"; }
declare -A fa fb
for f in "$a"/*.txt; do [ -e "$f" ] && fa[$(query "$f")]=$f; done
for f in "$b"/*.txt; do [ -e "$f" ] && fb[$(query "$f")]=$f; done
status=0 same=0 differ=0
for q in $(printf '%s\n' "${!fa[@]}" "${!fb[@]}" | sort -u); do
  if [ -z "${fa[$q]:-}" ] || [ -z "${fb[$q]:-}" ]; then
    echo "== $q: only in ${fa[$q]:+$a}${fb[$q]:+$b}"
    status=1 differ=$((differ + 1))
  elif diff -u --label "$q ($a)" --label "$q ($b)" \
      <(norm "${fa[$q]}") <(norm "${fb[$q]}") && bytesclose "${fa[$q]}" "${fb[$q]}" "$q"; then
    same=$((same + 1))
  else
    status=1 differ=$((differ + 1))
  fi
done
echo "plandiff: $same identical, $differ different"
exit $status
