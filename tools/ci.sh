#!/usr/bin/env bash
# The round's single test entry point (r16 VERDICT #6): the scalatest
# suite AND the end-to-end importer smoke in one command that fails
# red on either. tools/smoke_importer.sh runs its own `sbt -batch
# package` — sequencing it AFTER the test run (instead of shelling it
# from inside a suite) avoids nested sbt servers fighting over the
# project lock, and keeps `sbt test` itself fast for inner-loop use.
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

echo "[ci] importer smoke"
tools/smoke_importer.sh

echo "[ci] PASS"
