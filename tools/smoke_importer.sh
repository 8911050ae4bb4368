#!/usr/bin/env bash
# CI-shaped importer smoke (r15 VERDICT #3): pin the README quickstart
# as a repeatable check instead of a by-hand claim. Builds the thin
# jar, zips the TestFeed fixture (single source of truth — dumped via
# Test/runMain, never duplicated here), then drives `bin/graft-importer`
# end-to-end TWICE against the same file:// zip and asserts:
#   run 1: a real import — "importSkipped": false, a newDb is named,
#          and the DSN file points at it (K4)
#          an external reader (DuckDB, via python3's duckdb module) opens the
#          published V2 and types its timestamps as timestamptz
#   run 2: the P5 digest short-circuit — "importSkipped": true, no new db
# Both runs materialize the consumer views (GTFS_MATERIALIZE_VIEWS).
# Fully offline (file:// URL; sbt resolves from the warm local cache).
#
# Usage: tools/smoke_importer.sh            (from the repo root)
set -euo pipefail

here="$(cd "$(dirname "$0")/.." && pwd)"
cd "$here"

work="$(mktemp -d /tmp/graft-smoke.XXXXXX)"
trap 'rm -rf "$work"' EXIT
feed_dir="$work/feed"
zip_path="$work/feed.zip"
store="$work/store"
mkdir -p "$feed_dir" "$store"

echo "[smoke] building thin jar + dumping the TestFeed fixture"
sbt -batch package "Test/runMain graft.gtfs.TestFeedMain $feed_dir" >"$work/sbt.log" 2>&1 || {
  tail -30 "$work/sbt.log" >&2; echo "[smoke] sbt failed" >&2; exit 1; }
# jar -cfM: deterministic-enough zip (same content → same feed digest
# is guaranteed by Digests hashing file CONTENT, not zip bytes)
jar -cfM "$zip_path" -C "$feed_dir" .

run_import() {
  GTFS_DOWNLOAD_USER_AGENT="smoke@graft.invalid" \
  GTFS_DOWNLOAD_URL="file://$zip_path" \
  GTFS_IMPORTER_DB_PREFIX=gtfs \
  GTFS_STORE_ROOT="$store" \
  GTFS_TMP_DIR="$work/tmp" \
  GTFS_IMPORTER_DSN_FILE="$work/dsn.txt" \
  GTFS_MATERIALIZE_VIEWS=true \
  bin/graft-importer 2>"$work/run$1.err" | tee "$work/run$1.out"
}

echo "[smoke] run 1 (expect a real import)"
out1="$(run_import 1 | grep -F '"importSkipped"')"
grep -qF '"importSkipped": false' <<<"$out1" || {
  echo "[smoke] FAIL: run 1 did not import: $out1" >&2; exit 1; }
grep -qE '"newDb": "gtfs_[a-z0-9_]+"' <<<"$out1" || {
  echo "[smoke] FAIL: run 1 named no newDb: $out1" >&2; exit 1; }
db="$(sed -E 's/.*"newDb": "([^"]+)".*/\1/' <<<"$out1")"
grep -qF "$db" "$work/dsn.txt" || {
  echo "[smoke] FAIL: DSN file does not point at $db" >&2; exit 1; }

echo "[smoke] DuckDB reads the published arrivals_departures"
python3 - "$store/dbs/$db/arrivals_departures" <<'PY' || {
import sys
try:
    import duckdb
except ImportError:
    sys.exit("[smoke] FAIL: python3 has no duckdb module; the external-reader check cannot run")
glob = sys.argv[1] + "/*/*.parquet"
rows, ts_type = duckdb.sql(
    f"SELECT count(*), any_value(typeof(t_departure)) "
    f"FROM read_parquet('{glob}', hive_partitioning = 1)").fetchone()
print(f"[smoke] duckdb: {rows} rows, t_departure {ts_type}")
if not (rows > 0 and ts_type == "TIMESTAMP WITH TIME ZONE"):
    sys.exit(f"[smoke] FAIL: expected rows > 0 and TIMESTAMP WITH TIME ZONE, got {rows}, {ts_type}")
PY
  echo "[smoke] FAIL: DuckDB could not read the published V2 as expected" >&2; exit 1; }

echo "[smoke] run 2 (expect the P5 digest short-circuit)"
out2="$(run_import 2 | grep -F '"importSkipped"')"
grep -qF '"importSkipped": true' <<<"$out2" || {
  echo "[smoke] FAIL: run 2 did not skip: $out2" >&2; exit 1; }
grep -qF '"newDb": null' <<<"$out2" || {
  echo "[smoke] FAIL: run 2 created a db: $out2" >&2; exit 1; }

echo "[smoke] PASS: run1 imported $db, run2 skipped (importSkipped=true)"
