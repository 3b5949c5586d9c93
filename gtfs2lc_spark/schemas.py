"""Pinned schemas.

The reference parses every GTFS CSV with inferred headers and keeps all
values as strings (reference: lib/stores/StoreManager.js:38-41,
bin/gtfs2lc-clean.js:21-24) — so every GTFS entity column here is
StringType; typing (int casts for stop_sequence, timestamps) happens
explicitly inside operators, exactly where the reference does it.

Every extracted entity table additionally carries ``feed_id``/``url``
lineage columns (graft requirement: per-partition lineage; all Layer-B
join keys are scoped by feed_id so independent feeds never collide).
"""

from __future__ import annotations

from pyspark.sql import types as T


def _string_struct(*names: str) -> T.StructType:
    return T.StructType([T.StructField(n, T.StringType(), True) for n in names])


# ---- Layer A input (BASELINE.json input_hint) -------------------------------

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# ---- GTFS entity tables (columns = reference sample-feed headers) -----------
# trip_short_name and stop_code (uniqueId parts, SURVEY §2 P3/P4) are not in
# the sample-feed headers; they sit LAST so the sample CSV rows still map
# onto these tuples by position (oracle._values_cte pads the tail with '').

STOP_TIMES_COLS = (
    "trip_id",
    "arrival_time",
    "departure_time",
    "stop_id",
    "stop_sequence",
    "stop_headsign",
    "pickup_type",
    "drop_off_type",
    "shape_dist_traveled",
)
TRIPS_COLS = (
    "route_id",
    "service_id",
    "trip_id",
    "trip_headsign",
    "direction_id",
    "block_id",
    "shape_id",
    "trip_short_name",
)
ROUTES_COLS = (
    "route_id",
    "agency_id",
    "route_short_name",
    "route_long_name",
    "route_desc",
    "route_type",
    "route_url",
    "route_color",
    "route_text_color",
)
STOPS_COLS = (
    "stop_id",
    "stop_name",
    "stop_desc",
    "stop_lat",
    "stop_lon",
    "zone_id",
    "stop_url",
    "stop_code",
)
CALENDAR_COLS = (
    "service_id",
    "monday",
    "tuesday",
    "wednesday",
    "thursday",
    "friday",
    "saturday",
    "sunday",
    "start_date",
    "end_date",
)
CALENDAR_DATES_COLS = ("service_id", "date", "exception_type")

GTFS_FILE_COLS: dict[str, tuple[str, ...]] = {
    "stop_times.txt": STOP_TIMES_COLS,
    "trips.txt": TRIPS_COLS,
    "routes.txt": ROUTES_COLS,
    "stops.txt": STOPS_COLS,
    "calendar.txt": CALENDAR_COLS,
    "calendar_dates.txt": CALENDAR_DATES_COLS,
}
