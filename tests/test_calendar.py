"""A1/A2/J5 — service-date expansion semantics
(reference: lib/services/CalendarExpander.js, test fixture calendar)."""

from pyspark.sql import functions as F

from gtfs2lc_spark import pipeline
from gtfs2lc_spark.schemas import _string_struct


def _services(spark, feed):
    return {
        r.service_id: set(r.dates)
        for r in pipeline.expand_services(feed["calendar"], feed["calendar_dates"]).collect()
    }


def test_expanded_sizes(spark, feed):
    s = _services(spark, feed)
    assert len(s["FULLW"]) == 180
    assert len(s["WE"]) == 51
    assert len(s["W"]) == 130


def test_exceptions(spark, feed):
    s = _services(spark, feed)
    # exception_type=2 removes 20070604; added dates were already weekday-matched
    assert "20070604" not in s["FULLW"]
    assert {"20070605", "20070606", "20070607"} <= s["FULLW"]
    # WE contains only Sat/Sun
    assert "20070106" in s["WE"] and "20070105" not in s["WE"]


def test_exception_only_service_flush(entity_frame):
    """Services with calendar_dates but no calendar keep their added days
    (CalendarExpander.js:57-68); removed-only services expand to empty."""
    cal = entity_frame(
        "calendar.txt",
        ["service_id", "monday", "tuesday", "wednesday", "thursday", "friday",
         "saturday", "sunday", "start_date", "end_date"],
        [("S1", "1", "1", "1", "1", "1", "0", "0", "20070101", "20070107")],
    )
    cd = entity_frame(
        "calendar_dates.txt",
        ["service_id", "date", "exception_type"],
        [
            ("S2", "20070110", "1"),
            ("S2", "20070111", "1"),
            ("S3", "20070112", "2"),
        ],
    )
    out = {r.service_id: sorted(r.dates) for r in pipeline.expand_services(cal, cd).collect()}
    assert out["S2"] == ["20070110", "20070111"]
    assert out["S3"] == []
    # S1: Mon 20070101 .. Fri 20070105 (Sat/Sun excluded)
    assert out["S1"] == ["20070101", "20070102", "20070103", "20070104", "20070105"]


def test_added_date_also_removed_wins(entity_frame):
    """The expander inserts added dates unconditionally, before removal
    filtering (CalendarExpander.js:24-36): added ∪ (weekday ∖ removed)."""
    cal = entity_frame(
        "calendar.txt",
        ["service_id", "monday", "tuesday", "wednesday", "thursday", "friday",
         "saturday", "sunday", "start_date", "end_date"],
        [("S", "1", "1", "1", "1", "1", "1", "1", "20070101", "20070102")],
    )
    cd = entity_frame(
        "calendar_dates.txt",
        ["service_id", "date", "exception_type"],
        [("S", "20070101", "1"), ("S", "20070101", "2")],
    )
    out = {r.service_id: sorted(r.dates) for r in pipeline.expand_services(cal, cd).collect()}
    assert out["S"] == ["20070101", "20070102"]


def test_reversed_calendar_range_drops_not_crashes(entity_frame):
    """One malformed calendar row (end_date < start_date) must expand to
    ZERO weekday days — the reference's for-loop runs no iterations —
    instead of failing the whole corpus run (F.sequence throws on
    reversed boundaries)."""
    cal = entity_frame(
        "calendar.txt",
        ["service_id", "monday", "tuesday", "wednesday", "thursday", "friday",
         "saturday", "sunday", "start_date", "end_date"],
        [
            ("BAD", "1", "1", "1", "1", "1", "1", "1", "20070201", "20070101"),
            ("OK", "0", "0", "0", "0", "0", "0", "1", "20070101", "20070114"),
        ],
    )
    cd = entity_frame(
        "calendar_dates.txt", ["service_id", "date", "exception_type"], [("BAD", "20070301", "1")]
    )
    got = {
        r.service_id: r.dates
        for r in pipeline.expand_services(cal, cd).collect()
    }
    # BAD keeps only its added exception day; OK expands its Sundays
    assert got["BAD"] == ["20070301"]
    assert got["OK"] == ["20070107", "20070114"]


def test_date_dim_join_neither_drops_nor_multiplies(spark, feed):
    """r6 date->epoch broadcast-dimension regression pin: an added
    exception date OUTSIDE every calendar range must still emit its
    connection rows — exactly once per rule — with timestamps computed
    through the distinct-date dimension identical to direct epoch
    arithmetic. (Garbage date STRINGS throw under ANSI in both the old
    inline shape and the dim — parity verified r6, not pinned here.)"""
    cd = feed["calendar_dates"]
    extra = spark.createDataFrame(
        [("FULLW", "20190301", "1", "samplefeed", "u", 999)],
        _string_struct("service_id", "date", "exception_type", "feed_id", "url").add(
            "_line", "long"
        ),
    )
    conns = pipeline.convert(
        feed["stop_times"], feed["trips"], feed["routes"], feed["stops"],
        feed["calendar"], cd.unionByName(extra), salt_n=4,
    )
    rows = conns.where(F.col("service_date") == "20190301")
    got = rows.select("unique_id", "departure_ts", "departure_dfm").collect()
    assert len(got) > 0  # left dim join kept the rows
    assert len(got) == len({r.unique_id for r in got})  # and never multiplied
    # spot-check the epoch arithmetic through the dim: 2019-03-01 is
    # CET (UTC+1), so an 08:00:00 departure renders 07:00:00Z
    eight = [r for r in got if r.departure_dfm == "8:00:00"]
    assert eight
    assert all(
        r.departure_ts.strftime("%Y-%m-%dT%H:%M:%S") == "2019-03-01T07:00:00"
        for r in eight
    )
