"""End-to-end golden test on the synthesized sample feed (FIXTURES.md §4,
reference fixture: test/sample-feed-test/connections-samplefeed-notjoined
.nldjsonld — 3,472 connections)."""

import json

from pyspark.sql import functions as F

from gtfs2lc_spark import sinks

EXPECTED_PER_TRIP = {
    "AAMV1": 51, "AAMV2": 51, "AAMV3": 51, "AAMV4": 51,
    "AB1": 180, "AB2": 180, "BFC1": 180, "BFC2": 180, "STBA": 180,
    "CITY1": 720, "CITY2": 720,
    "joining_trip_1": 204, "joining_trip_2": 204,
    "non_joining_splitting_trip_3": 260, "non_joining_splitting_trip_4": 260,
}


def test_total_and_per_trip_counts(connections):
    per_trip = {
        r.trip_id: r["count"] for r in connections.groupBy("trip_id").count().collect()
    }
    assert per_trip == EXPECTED_PER_TRIP
    assert sum(per_trip.values()) == 3472


def test_example_jsonld_row(jsonld):
    row = jsonld.where(
        jsonld.id == "http://example.org/connections/20070106/BEATTY_AIRPORT/AAMV1"
    ).collect()
    assert len(row) == 1
    r = row[0]
    assert r.departureStop == "http://example.org/stops/BEATTY_AIRPORT"
    assert r.arrivalStop == "http://example.org/stops/AMV"
    assert r.departureTime == "2007-01-06T07:00:00.000Z"
    assert r.arrivalTime == "2007-01-06T08:00:00.000Z"
    assert r.gtfs_trip == "http://example.org/trips/AAMV1/20070106"
    assert r.gtfs_route == "http://example.org/routes/AAMV"
    assert r.direction == "to Amargosa Valley"
    assert r.gtfs_pickupType is None and r.gtfs_dropOffType is None


def test_dst_epoch_arithmetic(jsonld):
    """8:00 local renders 07:00Z under CET and 06:00Z under CEST
    (SURVEY.md §1.5 — epoch arithmetic, never wall-clock addition)."""
    jan = jsonld.where(
        jsonld.id == "http://example.org/connections/20070106/BEATTY_AIRPORT/AAMV1"
    ).first()
    jun = jsonld.where(
        jsonld.id == "http://example.org/connections/20070602/BEATTY_AIRPORT/AAMV1"
    ).first()
    assert jan.departureTime == "2007-01-06T07:00:00.000Z"
    assert jun.departureTime == "2007-06-02T06:00:00.000Z"


def test_boarding_types(jsonld):
    """'' omits the key; '1' emits NotAvailable; '0' emits Regular
    (lib/Connections2JSONLD.js:61-71)."""
    stba = jsonld.where(F.col("gtfs_trip").contains("/STBA/")).first()
    assert stba.gtfs_pickupType == "gtfs:NotAvailable"
    assert stba.gtfs_dropOffType == "gtfs:NotAvailable"
    j1 = jsonld.where(F.col("gtfs_trip").contains("/joining_trip_1/")).first()
    assert j1.gtfs_pickupType == "gtfs:Regular"
    city = jsonld.where(F.col("gtfs_trip").contains("/CITY1/")).first()
    assert city.gtfs_pickupType is None


def test_headsign_current_code_semantics(jsonld):
    """trip_headsign -> route_long_name chain (SURVEY.md §5 caveat 1:
    stale fixture shows 'E'; current code emits the trip headsign)."""
    city = jsonld.where(F.col("gtfs_trip").contains("/CITY1/")).first()
    assert city.direction == "City"  # route_long_name fallback
    j1 = jsonld.where(F.col("gtfs_trip").contains("/joining_trip_1/")).first()
    assert j1.direction == "Joining Trip 1"


def test_triples_shape(connections):
    tr = sinks.connections_to_triples(connections).cache()
    assert tr.count() == 29992  # 3472*7 fixed + 3472 headsign + 2216 boarding
    per_subj = tr.groupBy("subj").count()
    mn, mx = per_subj.agg(F.min("count"), F.max("count")).first()
    assert mn >= 7 and mx <= 10
    preds = {r.pred for r in tr.select("pred").distinct().collect()}
    assert "http://semweb.mmlab.be/ns/linkedconnections#departureTime" in preds
    assert "http://www.w3.org/1999/02/22-rdf-syntax-ns#type" in preds


def test_jsonld_lines_shape(jsonld):
    line = sinks.jsonld_lines(jsonld.limit(5)).first().line
    obj = json.loads(line)
    assert obj["@type"] == "Connection"
    assert set(obj) >= {"@id", "departureStop", "arrivalStop", "departureTime", "arrivalTime", "gtfs:trip", "gtfs:route"}


def test_csv_contract(connections):
    rows = sinks.connections_to_csv_rows(connections.limit(3)).collect()
    assert sinks.CSV_HEADER.count(",") == 6
    for r in rows:
        assert r.line.count('","') == 6
        assert r.line.startswith('"') and r.line.endswith('"')


def test_empty_calendar_feed(spark, feed):
    """Conversion works without calendar.txt — services come only from
    calendar_dates (reference test/resultStream.test.js:80-105)."""
    from gtfs2lc_spark import pipeline

    empty_cal = feed["calendar"].where(F.lit(False))
    conns = pipeline.convert(
        feed["stop_times"], feed["trips"], feed["routes"], feed["stops"],
        empty_cal, feed["calendar_dates"], salt_n=None,
    )
    dates = {r.service_date for r in conns.select("service_date").distinct().collect()}
    assert dates == {"20070605", "20070606", "20070607"}  # FULLW added days only


def test_dst_transition_days(entity_frame):
    """Transition-DAY semantics (SURVEY §1.5 / §7.4 risk 1): timestamps
    are epoch(local midnight) + dfm seconds, never wall-clock interval
    addition. Spring-forward day is 23h long; fall-back day is 25h —
    a 26:00:00 dfm on 2007-10-28 lands at 00:00Z Oct 29 (epoch), where
    wall-clock 'add 26 hours' would give 01:00Z. Also covers dfm inside
    the skipped hour (02:30 on 2007-03-25 -> wall 03:30 CEST)."""
    from pyspark.sql import functions as F  # noqa: F401

    from gtfs2lc_spark import pipeline, sinks

    def feed(dates):
        stop_times = entity_frame(
            "stop_times.txt",
            ["trip_id", "arrival_time", "departure_time", "stop_id", "stop_sequence"],
            [("T", "2:30:00", "2:30:00", "A", "1"), ("T", "26:00:00", "26:00:00", "B", "2")],
        )
        trips = entity_frame(
            "trips.txt", ["route_id", "service_id", "trip_id", "trip_headsign"],
            [("R", "S", "T", "h")],
        )
        routes = entity_frame(
            "routes.txt",
            ["route_id", "agency_id", "route_short_name", "route_long_name", "route_type"],
            [("R", "a", "r", "Long", "3")],
        )
        stops = entity_frame(
            "stops.txt", ["stop_id", "stop_name", "stop_lat", "stop_lon"],
            [("A", "An", "1", "1"), ("B", "Bn", "2", "2")],
        )
        calendar = entity_frame("calendar.txt", ["service_id"], [])
        cdates = entity_frame(
            "calendar_dates.txt", ["service_id", "date", "exception_type"],
            [("S", d, "1") for d in dates],
        )
        return pipeline.convert(stop_times, trips, routes, stops, calendar, cdates, salt_n=4)

    conns = feed(["20070325", "20071028"]).select(
        "service_date",
        F.date_format("departure_ts", "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").alias("dep"),
        F.date_format("arrival_ts", "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").alias("arr"),
    ).collect()
    got = {r.service_date: (r.dep, r.arr) for r in conns}
    # spring forward: local midnight 23:00Z; +2.5h = 01:30Z; +26h = 25:00Z next day
    assert got["20070325"] == ("2007-03-25T01:30:00.000Z", "2007-03-26T01:00:00.000Z")
    # fall back: local midnight 22:00Z; +2.5h = 00:30Z; +26h = 00:00Z Oct 29
    # (wall-clock 'add 26 hours' would say 01:00Z — the 25-hour-day trap)
    assert got["20071028"] == ("2007-10-28T00:30:00.000Z", "2007-10-29T00:00:00.000Z")


def test_duplicate_dimension_key_last_wins(spark, feed):
    """LevelDB put semantics (StoreManager.js:8-35): a duplicated
    dimension key keeps ONE row — the last in file order — instead of
    multiplying every joined connection."""
    from pyspark.sql import functions as F

    from gtfs2lc_spark import fixtures, pipeline

    # duplicate one stop row with a changed name; append AFTER the
    # original (higher _line) so it must win
    stops = feed["stops"]
    max_line = stops.agg(F.max("_line")).first()[0] if "_line" in stops.columns else None
    dup = stops.where(F.col("stop_id") == "AMV").withColumn(
        "stop_name", F.lit("Renamed Amargosa Valley")
    )
    if max_line is not None:
        dup = dup.withColumn("_line", F.lit(max_line + 1).cast("long"))
    stops2 = stops.unionByName(dup)

    conns = pipeline.convert(
        feed["stop_times"], feed["trips"], feed["routes"], stops2,
        feed["calendar"], feed["calendar_dates"], salt_n=None,
    )
    # no join multiply
    assert conns.count() == fixtures.SAMPLE_FEED_CONNECTIONS
    # and the later row won
    amv = conns.where(F.col("arr_stop_id") == "AMV").first()
    assert amv.arr_stop_name == "Renamed Amargosa Valley"
