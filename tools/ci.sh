#!/usr/bin/env bash
# The round's single test entry point (r16 VERDICT #6): the scalatest
# suite, the benchmark's compile, its answer key, the DuckDB oracle over
# the query suite, a Bench smoke and the end-to-end importer smoke in
# one command that fails red on any of them.
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

# The DuckDB oracle: every suite query's Spark answer against an
# independent SQL answer, under the session Bench and Verify share
# (SparkEntry.sessionBuilder), so a change to that session or to a query
# fails here. Red unless the compare reports 0 fail.
echo "[ci] oracle"
oracle_out="$(mktemp -d "${TMPDIR:-/tmp}/graft-oracle.XXXXXX")"
trap 'rm -rf "$oracle_out"' EXIT
sbt --batch -Dsbt.log.noformat=true "runMain graft.Verify /root/testdata/sf0.01 $oracle_out"
compare="$(python3 tools/verify_local.py /root/testdata/sf0.01 "$oracle_out" 2>&1)" || true
summary="$(grep -E '^[0-9]+ pass / [0-9]+ fail' <<<"$compare" || true)"
if ! grep -qE '^[1-9][0-9]* pass / 0 fail' <<<"$summary"; then
  grep -E '^FAIL|Error' <<<"$compare" >&2 || true
  echo "[ci] FAIL: oracle: ${summary:-${compare: -300}}" >&2
  exit 1
fi
echo "[ci] oracle ok: $summary"

# The bench smoke: Bench (warmup included) over the smoke tables, one
# whole-suite pass, so a query or warmup change that breaks only under
# Bench fails here. sbt logs the forked run's stdout as [info] lines and
# its stderr as [error] lines, so Bench's last stdout line is the log's
# last [info] line. Red unless that line parses as JSON with n_failed 0
# and the warmup did not report itself degraded.
echo "[ci] bench smoke"
bench_dir="$(mktemp -d "${TMPDIR:-/tmp}/graft-bench.XXXXXX")"
trap 'rm -rf "$oracle_out" "$bench_dir"' EXIT
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.001 SPARK_GRAFT_BENCH_PASSES=1 \
  SPARK_GRAFT_BENCH_OUT="$bench_dir/bench_out.json" \
  sbt --batch -Dsbt.log.noformat=true "runMain graft.Bench" >"$bench_dir/bench.log" 2>&1
bench_line="$(sed -n 's/^\[info\] //p' "$bench_dir/bench.log" | tail -n 1)"
if ! python3 -c 'import json, sys; r = json.loads(sys.argv[1]); sys.exit(r["n_failed"] != 0)' "$bench_line" 2>/dev/null; then
  echo "[ci] FAIL: bench smoke: ${bench_line:0:300}" >&2
  exit 1
fi
if grep -q '\[warmup\] DEGRADED' "$bench_dir/bench.log"; then
  grep '\[warmup\] DEGRADED' "$bench_dir/bench.log" >&2
  echo "[ci] FAIL: bench smoke: degraded warmup" >&2
  exit 1
fi
echo "[ci] bench smoke ok: ${bench_line:0:120}"

echo "[ci] importer smoke"
tools/smoke_importer.sh

echo "[ci] PASS"
