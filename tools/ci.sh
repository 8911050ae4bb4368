#!/usr/bin/env bash
# The round's single test entry point (r16 VERDICT #6): the scalatest
# suite, the benchmark's compile, its answer key and the end-to-end
# importer smoke in one command that fails red on any of them.
# tools/smoke_importer.sh runs its own `sbt -batch package` — sequencing
# it AFTER the test run (instead of shelling it from inside a suite)
# avoids nested sbt servers fighting over the project lock, and keeps
# `sbt test` itself fast for inner-loop use.
#
# The suite runs with the same settings as ROADMAP.md's tier-1 verify
# command: offline dependency resolution, one Spark core per CPU, and
# a driver heap of half the machine's memory clamped to 2–8g (build.sbt
# falls back to -Xmx24g without SPARK_DRIVER_MEM).
#
# Usage: tools/ci.sh            (from anywhere; cd's to the repo root)
set -euo pipefail
cd "$(cd "$(dirname "$0")/.." && pwd)"

export COURSIER_MODE=offline
export SBT_OPTS="${SBT_OPTS:--Dsbt.override.build.repos=true -Dsbt.repository.config=$HOME/.sbt/repositories -Dsbt.offline=true -Xmx4g}"
export SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)"
export SPARK_DRIVER_MEM="$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)"
export SPARK_LOCAL_DIRS=/tmp/spark-local

echo "[ci] sbt test"
sbt --batch -Dsbt.log.noformat=true "testOnly *"

# The benchmark (perfbench/) compiles the program's sources together
# with its own, so an API change that breaks it must fail here, not only
# when the benchmark runs. Same environment as perfbench/run.py's
# build(): offline, Spark jars from $SPARK_HOME/jars or else the
# directory build.sbt's unmanagedBase names.
if [ -n "${SPARK_HOME:-}" ]; then
  spark_jars="$SPARK_HOME/jars"
else
  spark_jars="$(sed -n 's/^unmanagedBase *:= *file("\([^"]*\)").*/\1/p' build.sbt)"
fi
echo "[ci] perfbench compile"
(cd perfbench && PERFBENCH_SPARK_JARS="$spark_jars" sbt --batch -Dsbt.log.noformat=true compile)

# The benchmark's answer key checks every entity's row count after
# cleaning and every consumer read, so a change in cleaning behaviour or
# in the read path fails here, not only when someone runs the benchmark.
# Both workloads run: consumer-reads has the larger V2 (~2.4x).
echo "[ci] perfbench answer key"
for workload in import-churn consumer-reads; do
  result="$(python3 perfbench/run.py --workload "$workload" --seed 1 --seconds 3 --trace 0 | tail -n 1)"
  if ! python3 -c 'import json, sys; r = json.loads(sys.argv[1]); sys.exit(not (r["correct"] is True and r["failed"] == 0))' "$result"; then
    echo "[ci] FAIL: answer key ($workload): ${result:0:200}" >&2
    exit 1
  fi
  echo "[ci] answer key ok: $workload"
done

echo "[ci] importer smoke"
tools/smoke_importer.sh

echo "[ci] PASS"
