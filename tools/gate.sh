#!/usr/bin/env bash
# One-command local reproduction of the driver's per-round gates, in order:
#   compile -> Verify (sf0.01) -> selfcheck (DuckDB oracle) -> idle check -> Bench (sf0.1)
#
# Encodes the tribal rules that used to live only in SKILL.md / VERDICT:
#   - grep for [verify] / "metric", never for "error" (Spark log noise is
#     tagged [error] by sbt);
#   - NEVER bench while sbt or another heavy process runs — contention
#     inflates numbers 2-6x and poisons the artifact (round-3 evidence).
#
# Usage: tools/gate.sh [verify_sf_dir] [bench_sf_dir]
#   defaults: /root/testdata/sf0.01  /root/testdata/sf0.1
# Env: SPARK_GRAFT_CPUS (default: nproc), GATE_SKIP_BENCH=1 to stop after selfcheck.
set -u
# pipefail: the Bench pipeline below ends in grep/tee — without it, a
# Bench run that prints its metric line and then CRASHES mid-teardown
# would still exit 0 and pass the gate with a possibly-partial artifact
set -o pipefail
cd "$(dirname "$0")/.."

VERIFY_SF="${1:-/root/testdata/sf0.01}"
BENCH_SF="${2:-/root/testdata/sf0.1}"
CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}"
OUT="$(mktemp -d /tmp/graft_gate.XXXXXX)"
FAIL=0

step() { printf '\n=== gate: %s ===\n' "$*"; }

step "sbt compile"
if ! sbt -batch compile > "$OUT/compile.log" 2>&1; then
  tail -30 "$OUT/compile.log"
  echo "GATE FAIL: compile"; exit 1
fi
echo "compile OK"

# Direct-java invocation (SKILL.md fast loop): no sbt lock, no sbt JVM.
JAVA_OPTS=(
  --add-opens=java.base/java.lang=ALL-UNNAMED
  --add-opens=java.base/java.lang.invoke=ALL-UNNAMED
  --add-opens=java.base/java.lang.reflect=ALL-UNNAMED
  --add-opens=java.base/java.io=ALL-UNNAMED
  --add-opens=java.base/java.net=ALL-UNNAMED
  --add-opens=java.base/java.nio=ALL-UNNAMED
  --add-opens=java.base/java.util=ALL-UNNAMED
  --add-opens=java.base/java.util.concurrent=ALL-UNNAMED
  --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED
  --add-opens=java.base/jdk.internal.ref=ALL-UNNAMED
  --add-opens=java.base/sun.nio.ch=ALL-UNNAMED
  --add-opens=java.base/sun.nio.cs=ALL-UNNAMED
  --add-opens=java.base/sun.security.action=ALL-UNNAMED
  --add-opens=java.base/sun.util.calendar=ALL-UNNAMED
)
RUN="java -cp target/scala-2.13/classes:/opt/spark/jars/* ${JAVA_OPTS[*]}"

step "graft.Verify @ $VERIFY_SF"
if ! SPARK_GRAFT_CPUS="$CPUS" $RUN graft.Verify "$VERIFY_SF" "$OUT/verify" \
    > "$OUT/verify.log" 2>&1; then
  grep "\[verify\]" "$OUT/verify.log" | tail -20
  echo "GATE FAIL: Verify exited non-zero"; exit 1
fi
echo "Verify OK ($(ls "$OUT/verify" | wc -l) entries)"

step "DuckDB oracle selfcheck"
if ! python3 tools/selfcheck.py "$VERIFY_SF" "$OUT/verify" > "$OUT/selfcheck.log" 2>&1; then
  grep -v "^ *OK" "$OUT/selfcheck.log" | head -30
  echo "GATE FAIL: selfcheck"; exit 1
fi
tail -2 "$OUT/selfcheck.log"

if [ "${GATE_SKIP_BENCH:-0}" = "1" ]; then
  echo; echo "GATE OK (bench skipped by GATE_SKIP_BENCH)"; exit 0
fi

step "idle check before bench"
# The gate's OWN Verify run just pushed the 1-min load average up; that
# decays with a ~60 s time constant, so wait for it to drain before
# declaring the box contended — fail only if load never comes down
# (i.e., something ELSE is running).
IDLE=0
for _ in $(seq 1 14); do
  LOAD=$(cut -d' ' -f1 /proc/loadavg)
  if awk "BEGIN{exit !($LOAD <= 4.0)}"; then IDLE=1; break; fi
  echo "  load $LOAD > 4.0 — waiting for the gate's own load to decay..."
  sleep 15
done
if [ "$IDLE" != "1" ]; then
  echo "GATE FAIL: load stayed > 4.0 for 3+ minutes — something else is running."
  echo "Stop sbt/other work and re-run (the rule: NEVER bench under load)."
  exit 1
fi
echo "idle OK (load $LOAD)"

step "graft.Bench @ $BENCH_SF"
# Bench at min(nproc, 32): the driver benches local[32] on a 32-core box,
# but pinning 32 on a smaller box would oversubscribe it and self-inflict
# the contention the idle check above exists to prevent.
BENCH_CPUS=$(nproc)
[ "$BENCH_CPUS" -gt 32 ] && BENCH_CPUS=32
SPARK_GRAFT_SF_DIR="$BENCH_SF" SPARK_GRAFT_CPUS="$BENCH_CPUS" $RUN graft.Bench \
  2> "$OUT/bench.err" | grep '"metric"' | tee "$OUT/bench.json"
BENCH_RC=$?  # pipefail: nonzero if Bench ITSELF died, even after printing
if [ "$BENCH_RC" -ne 0 ]; then
  tail -20 "$OUT/bench.err"
  echo "GATE FAIL: bench pipeline exited $BENCH_RC (metric line alone is not a pass)"
  exit 1
fi
if ! [ -s "$OUT/bench.json" ]; then
  tail -20 "$OUT/bench.err"; echo "GATE FAIL: bench produced no JSON line"; exit 1
fi

echo; echo "GATE OK — artifacts in $OUT"
