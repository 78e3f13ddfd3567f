#!/usr/bin/env bash
# Standing gate (round 11): ONE command that holds every line the
# rounds established — DuckDB-oracle correctness, physical-plan shape,
# and the measured single-partition-window bounds. Any leg failing
# fails the gate; run before calling a round done.
#
#   scripts/gate.sh                # full: oracle + plan audit + window/broadcast bounds
#   scripts/gate.sh q_a q_b ...    # oracle subset only (iteration mode)
#
# Legs:
#   1. scripts/local_verify.py     — every SparkEntry query vs its DuckDB
#      oracle at sf0.01 (schema/rows/exact values, driver-identical).
#   2. graft.tools.PlanAudit --gate — final post-AQE plans; exits 1 on
#      any HARD flag (forced corpus broadcast, raw single-partition
#      window, cartesian product, plan error, or drift between the
#      soft-broadcast query set and BroadcastBounds.DefaultQueries).
#   3. graft.tools.WindowBounds    — every agg-bounded single-partition
#      window's measured input rows at sf0.1 vs a 4x replica; exits 1
#      if any grows with the corpus (or the window count changes).
#   4. graft.tools.BroadcastBounds — every "~"-flagged corpus broadcast's
#      measured build-side rows at sf0.1 vs the 4x replica; exits 1 if
#      one grows without demonstrating the size-pick re-plan (round 12).
#
# Plain-java invocations (not sbt runMain) so the three legs share one
# compile and skip two 20 s sbt startups; the add-opens set mirrors
# build.sbt's jdk17AddOpens (Spark 4 on JDK 17 outside spark-submit).
set -uo pipefail
cd "$(dirname "$0")/.."

JOPTS="--add-opens=java.base/java.lang=ALL-UNNAMED \
--add-opens=java.base/java.lang.invoke=ALL-UNNAMED \
--add-opens=java.base/java.lang.reflect=ALL-UNNAMED \
--add-opens=java.base/java.io=ALL-UNNAMED \
--add-opens=java.base/java.net=ALL-UNNAMED \
--add-opens=java.base/java.nio=ALL-UNNAMED \
--add-opens=java.base/java.util=ALL-UNNAMED \
--add-opens=java.base/java.util.concurrent=ALL-UNNAMED \
--add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED \
--add-opens=java.base/sun.nio.ch=ALL-UNNAMED \
--add-opens=java.base/sun.nio.cs=ALL-UNNAMED \
--add-opens=java.base/sun.security.action=ALL-UNNAMED \
--add-opens=java.base/sun.util.calendar=ALL-UNNAMED \
-Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC -Xmx8g"
# sbt compile does not copy resources into classes/: the river fixture
# (Prep.referenceCsv) is read from src/main/resources directly
CP="target/scala-2.13/classes:src/main/resources:/opt/spark/jars/*"

echo "== gate 0/4: compile =="
sbt -batch compile || exit 1

echo "== gate 1/4: DuckDB oracle (local_verify.py) =="
python3 scripts/local_verify.py /root/testdata/sf0.01 /tmp/graft_verify "$@" || exit 1

if [ "$#" -gt 0 ]; then
  echo "subset mode: skipping plan audit + window bounds (run with no args for the full gate)"
  exit 0
fi

echo "== gate 2/4: plan audit (hard flags fail) =="
# shellcheck disable=SC2086
java $JOPTS -cp "$CP" graft.tools.PlanAudit --gate || exit 1

echo "== gate 3/4: single-partition window bounds (1x vs 4x) =="
# shellcheck disable=SC2086
java $JOPTS -cp "$CP" graft.tools.WindowBounds || exit 1

echo "== gate 4/4: corpus-broadcast bounds (1x vs 4x) =="
# shellcheck disable=SC2086
java $JOPTS -cp "$CP" graft.tools.BroadcastBounds || exit 1

echo "GATE GREEN: oracle + plan shape + window bounds + broadcast bounds"
