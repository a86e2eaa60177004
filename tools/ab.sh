#!/usr/bin/env bash
# Interleaved A/B of the working tree against another revision.
#
# Usage: tools/ab.sh <rev> <q1,q2,...> [pairs]
#   rev    any git revision (e.g. HEAD~, main, a sha): side A
#   q1,..  registered query names (SparkEntry.queries)
#   pairs  rounds of one A run and one B run each (default 5)
# Env: SPARK_GRAFT_SF_DIR (Scratch's default applies when unset),
#      SPARK_GRAFT_CPUS (the mains' local[N]), SBT_OPTS (default: the
#      offline repository flags), TMPDIR (where <rev> is exported and built).
#
# Side A is <rev>, exported with `git archive` into a fresh directory under
# $TMPDIR (the repo's worktree list is left alone) and compiled there; side
# B is the working tree, compiled in place. Each round runs graft.Scratch
# over the query list once per side in its own JVM, alternating which side
# goes first, and prints each query's min-of-3 per side. The summary line
# per query gives both medians and each side's min..max over the rounds,
# the run-to-run spread a difference has to clear. Results go to stdout
# only; the export directory is deleted on exit.
set -euo pipefail
cd "$(dirname "$0")/.."

if [ $# -lt 2 ]; then
  echo "usage: tools/ab.sh <rev> <q1,q2,...> [pairs]" >&2; exit 2
fi
REV="$1"; QUERIES="$2"; PAIRS="${3:-5}"
SHA="$(git rev-parse --verify "$REV^{commit}")"

export COURSIER_MODE=offline
export SBT_OPTS="${SBT_OPTS:--Dsbt.override.build.repos=true -Dsbt.repository.config=$HOME/.sbt/repositories -Dsbt.offline=true -Xmx4g}"

WORK="$(mktemp -d "${TMPDIR:-/tmp}/graft_ab.XXXXXX")"
trap 'rm -rf "$WORK"' EXIT
mkdir "$WORK/a"
git archive "$SHA" | tar -x -C "$WORK/a"

echo "ab: compiling A = $REV (${SHA:0:12}) and B = working tree"
(cd "$WORK/a" && sbt -batch compile > "$WORK/a_compile.log" 2>&1) \
  || { tail -30 "$WORK/a_compile.log"; echo "ab: A failed to compile" >&2; exit 1; }
sbt -batch compile > "$WORK/b_compile.log" 2>&1 \
  || { tail -30 "$WORK/b_compile.log"; echo "ab: B failed to compile" >&2; exit 1; }

OPENS=()
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
    java.util java.util.concurrent java.util.concurrent.atomic jdk.internal.ref \
    sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS+=("--add-opens=java.base/$p=ALL-UNNAMED")
done

# run <side> <tree>: one Scratch JVM; appends "<side> <round> <query> <min-of-3>"
run() {
  local side="$1" tree="$2"
  if ! java -cp "$tree/target/scala-2.13/classes:/opt/spark/jars/*" \
      "${OPENS[@]}" graft.Scratch "$QUERIES" > "$WORK/out" 2> "$WORK/err"; then
    tail -20 "$WORK/err"; echo "ab: side $side failed in round $ROUND" >&2; exit 1
  fi
  # "[scratch] <query> run<i> rows=<n> <seconds> s [counters]"
  awk -v side="$side" -v round="$ROUND" '
    $1 == "[scratch]" && $3 ~ /^run/ {
      for (i = 5; i <= NF; i++) if ($i == "s") { t = $(i - 1) + 0; break }
      if (!($2 in m) || t < m[$2]) m[$2] = t
    }
    END { for (q in m) printf "%s %d %s %.3f\n", side, round, q, m[q] }' \
    "$WORK/out" >> "$WORK/results"
}

: > "$WORK/results"
for ROUND in $(seq 1 "$PAIRS"); do
  if [ $((ROUND % 2)) -eq 1 ]; then
    run A "$WORK/a"; run B .
  else
    run B .; run A "$WORK/a"
  fi
  echo "round $ROUND:"
  awk -v r="$ROUND" '$2 == r { t[$3] = t[$3] sprintf("  %s=%s", $1, $4) }
    END { for (q in t) printf "  %-32s%s\n", q, t[q] }' "$WORK/results" | sort
done

echo "summary (median [min..max] over $PAIRS rounds, seconds):"
IFS=',' read -r -a QS <<< "$QUERIES"
for q in "${QS[@]}"; do
  line="  $(printf '%-32s' "$q")"
  for side in A B; do
    vals="$(awk -v s="$side" -v q="$q" '$1 == s && $3 == q { print $4 }' "$WORK/results" | sort -g)"
    n="$(printf '%s\n' "$vals" | grep -c . || true)"
    if [ "$n" -eq 0 ]; then line="$line  $side=missing"; continue; fi
    med="$(printf '%s\n' "$vals" | awk -v n="$n" '
      { v[NR] = $1 } END { printf "%.3f", (n % 2) ? v[(n + 1) / 2] : (v[n / 2] + v[n / 2 + 1]) / 2 }')"
    lo="$(printf '%s\n' "$vals" | head -1)"; hi="$(printf '%s\n' "$vals" | tail -1)"
    line="$line  $side=$med [$lo..$hi]"
  done
  echo "$line"
done
