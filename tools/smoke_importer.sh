#!/usr/bin/env bash
# CI-shaped importer smoke (r15 VERDICT #3): pin the README quickstart
# as a repeatable check instead of a by-hand claim. Builds the thin
# jar, zips the TestFeed fixture (single source of truth — dumped via
# Test/runMain, never duplicated here), then drives `bin/graft-importer`
# end-to-end TWICE against the same file:// zip and asserts:
#   run 1: a real import — "importSkipped": false, a newDb is named,
#          and the DSN file points at it (K4)
#          an external reader (DuckDB, via python3's duckdb module) opens the
#          published V2 and types its timestamps as timestamptz, and checks
#          the published entities: every trips/stop_times/frequencies
#          reference resolves (no frequencies row names a missing trip,
#          which C9's folds and C10's orphan pass promise), no stop_id or
#          trip_id repeats, each stop_times file is in
#          (trip_id, stop_sequence) order, and the services keep C8's
#          encoding: one calendar row per service, none with an empty
#          mask, and calendar_dates rows that only add dates (type 1)
#          off the mask or outside the calendar span; and, by value, that
#          no two services share a date list in service_days (C13), no two
#          shapes share an ordered point list (C14) and no two timed trips
#          share route, service and ordered stop times (C16)
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

echo "[smoke] DuckDB reads the published arrivals_departures and checks the entities"
python3 - "$store/dbs/$db" <<'PY' || {
import sys
try:
    import duckdb
except ImportError:
    sys.exit("[smoke] FAIL: python3 has no duckdb module; the external-reader check cannot run")
db = sys.argv[1]
con = duckdb.connect()
for entity in ("stops", "routes", "trips", "stop_times", "calendar", "calendar_dates",
               "frequencies", "shapes", "service_days"):
    con.sql(f"CREATE VIEW {entity} AS SELECT * FROM read_parquet('{db}/{entity}/*.parquet')")
rows, ts_type = con.sql(
    f"SELECT count(*), any_value(typeof(t_departure)) "
    f"FROM read_parquet('{db}/arrivals_departures/*/*.parquet', hive_partitioning = 1)").fetchone()
print(f"[smoke] duckdb: {rows} rows, t_departure {ts_type}")
if not (rows > 0 and ts_type == "TIMESTAMP WITH TIME ZONE"):
    sys.exit(f"[smoke] FAIL: expected rows > 0 and TIMESTAMP WITH TIME ZONE, got {rows}, {ts_type}")
# each check counts violations; every count must be 0
mask = "[c.monday, c.tuesday, c.wednesday, c.thursday, c.friday, c.saturday, c.sunday]"
checks = {
    # delete-orphans (C10): every reference resolves
    "trips.route_id without a route":
        "SELECT count(*) FROM trips WHERE route_id NOT IN (SELECT route_id FROM routes)",
    "trips.service_id without a service":
        "SELECT count(*) FROM trips WHERE service_id NOT IN "
        "(SELECT service_id FROM calendar UNION SELECT service_id FROM calendar_dates)",
    "stop_times.trip_id without a trip":
        "SELECT count(*) FROM stop_times WHERE trip_id NOT IN (SELECT trip_id FROM trips)",
    "stop_times.stop_id without a stop":
        "SELECT count(*) FROM stop_times WHERE stop_id NOT IN (SELECT stop_id FROM stops)",
    # minimize-stoptimes (C9) keeps each fold's exemplar trip
    "frequencies.trip_id without a trip":
        "SELECT count(*) FROM frequencies WHERE trip_id NOT IN (SELECT trip_id FROM trips)",
    # minimize-services (C8): one calendar row per service, with a weekday
    # in its mask, and calendar_dates only adds the dates the mask misses
    "calendar_dates.exception_type <> 1":
        "SELECT count(*) FROM calendar_dates WHERE exception_type <> 1",
    "calendar_dates date on a mask weekday within its calendar span": f"""
        SELECT count(*) FROM calendar_dates cd JOIN calendar c USING (service_id)
        WHERE strptime(cd.date, '%Y%m%d')
              BETWEEN strptime(c.start_date, '%Y%m%d') AND strptime(c.end_date, '%Y%m%d')
          AND list_extract({mask}, isodow(strptime(cd.date, '%Y%m%d'))) = 1""",
    "calendar row with an all-zero mask":
        f"SELECT count(*) FROM calendar c WHERE NOT list_contains({mask}, 1)",
    "repeated calendar.service_id": "SELECT count(*) - count(DISTINCT service_id) FROM calendar",
    # the merges (C13, C14, C16) leave no two entities equal on the
    # values they compare
    "services with the same dates": """
        SELECT count(*) - count(DISTINCT dates) FROM (
          SELECT list(svc_date ORDER BY svc_date) AS dates FROM service_days GROUP BY service_id)""",
    "shapes with the same points": """
        SELECT count(*) - count(DISTINCT points) FROM (
          SELECT list([shape_pt_lat, shape_pt_lon] ORDER BY shape_pt_sequence) AS points
          FROM shapes GROUP BY shape_id)""",
    "timed trips with the same route, service and stop times": """
        SELECT count(*) - count(DISTINCT (route_id, service_id, stops)) FROM (
          SELECT any_value(t.route_id) AS route_id, any_value(t.service_id) AS service_id,
                 list((st.stop_id, st.arrival_time, st.departure_time)
                      ORDER BY st.stop_sequence) AS stops
          FROM trips t JOIN stop_times st USING (trip_id) GROUP BY trip_id
          HAVING count(st.departure_time) > 0)""",
    # primary keys
    "repeated stop_id": "SELECT count(*) - count(DISTINCT stop_id) FROM stops",
    "repeated trip_id": "SELECT count(*) - count(DISTINCT trip_id) FROM trips",
    # each stop_times file is in (trip_id, stop_sequence) order
    "stop_times rows out of key order": f"""
        SELECT count(*) FROM (
          SELECT trip_id, stop_sequence,
                 lag(trip_id) OVER w AS prev_trip, lag(stop_sequence) OVER w AS prev_seq
          FROM read_parquet('{db}/stop_times/*.parquet', filename = true, file_row_number = true)
          WINDOW w AS (PARTITION BY filename ORDER BY file_row_number))
        WHERE prev_trip > trip_id OR (prev_trip = trip_id AND prev_seq > stop_sequence)""",
}
bad = {name: n for name, q in checks.items() if (n := con.sql(q).fetchone()[0]) != 0}
n_st = con.sql("SELECT count(*) FROM stop_times").fetchone()[0]
print(f"[smoke] duckdb: {len(checks)} entity checks over {n_st} stop_times")
if n_st == 0 or bad:
    sys.exit(f"[smoke] FAIL: entity checks: {bad or 'no stop_times'}")
PY
  echo "[smoke] FAIL: DuckDB could not read or check the published import" >&2; exit 1; }

echo "[smoke] run 2 (expect the P5 digest short-circuit)"
out2="$(run_import 2 | grep -F '"importSkipped"')"
grep -qF '"importSkipped": true' <<<"$out2" || {
  echo "[smoke] FAIL: run 2 did not skip: $out2" >&2; exit 1; }
grep -qF '"newDb": null' <<<"$out2" || {
  echo "[smoke] FAIL: run 2 created a db: $out2" >&2; exit 1; }

echo "[smoke] PASS: run1 imported $db, run2 skipped (importSkipped=true)"
