"""Explicit skew handling (skew.py): salted two-phase aggregation and
the salted service-day explode on a skewed feed."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gtfs2lc_spark import fixtures, pipeline, skew


def _skewed_entities(spark, mega_rows: int):
    """Entity DataFrames with a deliberately skewed mega-trip: ONE trip
    ("MEGA", on the 180-date FULLW service) owning ``mega_rows``
    stop_times on top of the sample feed, so most stop_times belong to
    a single trip_id.

    The mega rows are generated distributed (spark.range), with
    arrival == departure each 30 s apart across alternating stops —
    every consecutive pair therefore survives P1 and becomes a
    connection rule, giving (mega_rows - 1) x 180 connections that,
    UNSALTED, all explode inside one (feed_id, trip_id) partition."""
    feed_id = "skewfeed"
    ents = dict(fixtures.entity_dfs(spark, feed_id=feed_id))
    secs = (F.col("id") * 30 + 4 * 3600).cast("long")
    hms = F.concat_ws(
        ":",
        F.floor(secs / 3600).cast("string"),  # H>23 allowed by P5
        F.lpad((F.floor(secs / 60) % 60).cast("string"), 2, "0"),
        F.lpad((secs % 60).cast("string"), 2, "0"),
    )
    mega = spark.range(1, mega_rows + 1).select(
        F.lit("MEGA").alias("trip_id"),
        hms.alias("arrival_time"),
        hms.alias("departure_time"),
        F.when(F.col("id") % 2 == 0, F.lit("BEATTY_AIRPORT"))
        .otherwise(F.lit("BULLFROG"))
        .alias("stop_id"),
        F.col("id").cast("string").alias("stop_sequence"),
        F.lit("").alias("stop_headsign"),
        F.lit("").alias("pickup_type"),
        F.lit("").alias("drop_off_type"),
        F.lit("").alias("shape_dist_traveled"),
        F.lit(feed_id).alias("feed_id"),
        F.lit(fixtures.page_url(feed_id, "stop_times.txt")).alias("url"),
        (F.col("id") + 10_000_000).alias("_line"),
    )
    ents["stop_times"] = ents["stop_times"].unionByName(mega)
    trips = ents["trips"]
    mega_trip = (
        trips.limit(1)
        .withColumn("trip_id", F.lit("MEGA"))
        .withColumn("service_id", F.lit("FULLW"))
        .withColumn("block_id", F.lit(""))
    )
    ents["trips"] = trips.unionByName(mega_trip)
    return ents


def test_salted_agg_matches_plain_groupby(spark):
    # one zipf-hot key (90% of rows) plus a tail
    df = spark.range(0, 5000).select(
        F.when(F.col("id") % 10 < 9, F.lit("hot"))
        .otherwise(F.concat(F.lit("k"), (F.col("id") % 7).cast("string")))
        .alias("k"),
        (F.col("id") % 100).cast("double").alias("v"),
    )
    got = {
        r["k"]: (r["n"], r["total"], r["lo"], r["hi"])
        for r in skew.salted_agg(
            df, ["k"],
            {"n": ("count", "v"), "total": ("sum", "v"),
             "lo": ("min", "v"), "hi": ("max", "v")},
            n_salts=8,
        ).collect()
    }
    want = {
        r["k"]: (r["n"], r["total"], r["lo"], r["hi"])
        for r in df.groupBy("k").agg(
            F.count("v").alias("n"), F.sum("v").alias("total"),
            F.min("v").alias("lo"), F.max("v").alias("hi"),
        ).collect()
    }
    assert got == want


def test_salted_agg_two_exchanges_second_is_tiny(spark):
    df = spark.range(100).select(F.lit("k").alias("k"), F.col("id").alias("v"))
    plan = skew.salted_agg(
        df, ["k"], {"n": ("count", "v")}, n_salts=4
    )._jdf.queryExecution().executedPlan().toString()
    # phase 1 keyed on (k, _salt), phase 2 on k: two hash aggregations
    assert plan.count("HashAggregate") >= 4  # partial+final per phase


def test_salted_agg_rejects_non_decomposable(spark):
    df = spark.range(10).select(F.lit("k").alias("k"), F.col("id").alias("v"))
    with pytest.raises(ValueError):
        skew.salted_agg(df, ["k"], {"m": ("avg", "v")})


def test_skewed_feed_salted_matches_unsalted(spark):
    """north_rule risk shape: ONE mega-trip owns ~95% of stop_times.
    convert() output must be IDENTICAL for every salt mode (salting is
    a physical-plan choice, never a semantic one), and key_profile must
    flag the hot trip — the detector that tells an operator to salt."""
    ents = _skewed_entities(spark, mega_rows=300)

    prof = skew.key_profile(ents["stop_times"], "trip_id", top_n=1).collect()
    assert prof[0]["key"] == "MEGA" and prof[0]["share"] > 0.85

    def conv(salt):
        return pipeline.convert(
            ents["stop_times"], ents["trips"], ents["routes"], ents["stops"],
            ents["calendar"], ents["calendar_dates"], salt_n=salt,
        )

    unsalted = conv(None)
    salted = conv(64).drop("salt")  # the salt column is plumbing, not data
    assert unsalted.columns == salted.columns
    # mega trip: (300-1) consecutive pairs x 180 FULLW service days
    assert unsalted.where(F.col("trip_id") == "MEGA").count() == 299 * 180
    assert unsalted.exceptAll(salted).count() == 0
    assert salted.exceptAll(unsalted).count() == 0
