"""P10-P12 — URI template compiler vs the reference's URIStrategy tests
(/root/reference/test/URIStrategy.test.js)."""

import pytest
from pyspark.sql import functions as F

from gtfs2lc_spark import FEED_TIMEZONE_DEFAULT as TZ
from gtfs2lc_spark.uris import (
    TemplateError,
    URIStrategy,
    compile_resolver,
    compile_template,
    percent_encode,
)


@pytest.fixture(scope="module")
def conn_df(spark):
    """One synthetic connection row with the pipeline's column layout."""
    df = spark.createDataFrame(
        [
            (
                "T1 x", "2007-01-06 07:00:00", "2007-01-06 08:00:00",
                "2007-01-06 07:00:00", "BEATTY AIRPORT", "AMV", "R1", "Route Long",
            )
        ],
        "trip_trip_id string, dep_ts string, arr_ts string, start_ts string,"
        "dep_stop_id string, arr_stop_id string, route_route_id string, route_route_long_name string",
    )
    return (
        df.withColumn("departure_ts", F.to_timestamp("dep_ts"))
        .withColumn("arrival_ts", F.to_timestamp("arr_ts"))
        .withColumn("trip_start_ts", F.to_timestamp("start_ts"))
    )


def test_default_templates_and_percent_encoding(conn_df):
    """Spaces must render %20 (reference test/URIStrategy.test.js:24-39)."""
    uris = URIStrategy()
    out = conn_df.select(
        uris.connection_id().alias("cid"),
        uris.stop_id("dep_").alias("dep"),
        uris.trip_id().alias("trip"),
        uris.route_id().alias("route"),
    ).first()
    assert out.dep == "http://example.org/stops/BEATTY%20AIRPORT"
    assert out.cid == "http://example.org/connections/20070106/BEATTY%20AIRPORT/T1%20x"
    assert out.trip == "http://example.org/trips/T1%20x/20070106"
    assert out.route == "http://example.org/routes/R1"


def test_percent_encode_rfc6570(spark):
    """Matches urllib.parse.quote(safe='') — RFC 6570 simple expansion."""
    from urllib.parse import quote

    samples = ["a b", "a/b", "a~b", "a*b", "a+b", "héllo", "100%", "a:b?c#d"]
    df = spark.createDataFrame([(s,) for s in samples], "v string")
    got = [r.e for r in df.select(percent_encode(F.col("v")).alias("e")).collect()]
    assert got == [quote(s, safe="") for s in samples]


def test_resolver_substring_and_format(conn_df):
    sub = compile_resolver("connection.departureStop.stop_id.substring(0, 6)", TZ)
    fmt = compile_resolver("format(connection.departureTime, 'yyyyMMdd_HH:mm')", TZ)
    row = conn_df.select(sub.alias("s"), fmt.alias("f")).first()
    assert row.s == "BEATTY"
    assert row.f == "20070106_08:00"  # rendered in feed tz (Brussels, CET)


def test_rejects_executable_expressions():
    """Arbitrary JS must throw (reference URIStrategy.test.js:61-69)."""
    with pytest.raises(TemplateError):
        compile_resolver("connection.departureStop.stop_id; process.exit(1)", TZ)
    with pytest.raises(TemplateError):
        compile_resolver("require('fs').readFileSync('/etc/passwd')", TZ)
    with pytest.raises(TemplateError):
        compile_resolver("global.foo", TZ)


def test_custom_template_with_resolve(conn_df):
    uris = URIStrategy(
        {
            "connection": "http://ex.org/c/{yymmdd}/{depStop}",
            "resolve": {
                "yymmdd": "format(connection.departureTime, 'yyMMdd')",
                "depStop": "connection.departureStop.stop_id",
            },
        }
    )
    out = conn_df.select(uris.connection_id().alias("cid")).first()
    assert out.cid == "http://ex.org/c/070106/BEATTY%20AIRPORT"


def test_template_dates_render_in_feed_tz(conn_df):
    """Trip-day dates follow the strategy's feed timezone: 07:00 UTC
    is still the previous evening in Los Angeles."""
    la = URIStrategy(feed_tz="America/Los_Angeles")
    out = conn_df.select(la.trip_id().alias("trip"), la.connection_id().alias("cid")).first()
    assert out.trip == "http://example.org/trips/T1%20x/20070105"
    assert out.cid == "http://example.org/connections/20070105/BEATTY%20AIRPORT/T1%20x"


def test_template_fills_missing_as_empty(conn_df):
    # uri-templates fills undefined vars as '' — NULL must render ''
    col2 = compile_template("http://ex.org/{routes.route_long_name}/x", TZ)
    df = conn_df.withColumn("route_route_long_name", F.lit(None).cast("string"))
    assert df.select(col2.alias("u")).first().u == "http://ex.org//x"


def test_percent_encode_randomized_parity(spark):
    """Randomized parity with urllib.parse.quote(safe='') over 300
    seeded strings mixing ASCII, Latin-1, BMP CJK, astral emoji, a
    combining mark, and the replacement char — the JVM url_encode +
    fixups must agree byte-for-byte with CPython's RFC 3986 encoder."""
    import random
    from urllib.parse import quote

    rng = random.Random(99)
    pool = [chr(c) for c in range(32, 127)] + [
        "é", "€", "中", "\U0001f600", "́", "�"
    ]
    samples = [
        "".join(rng.choice(pool) for _ in range(rng.randrange(0, 24)))
        for _ in range(300)
    ]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(samples)], "i int, v string")
    got = {r.i: r.e for r in df.select("i", percent_encode(F.col("v")).alias("e")).collect()}
    for i, s in enumerate(samples):
        assert got[i] == quote(s, safe=""), repr(s)


def test_partial_config_degrades_like_reference(conn_df):
    """A partial baseUris config (stop override, no 'resolve' key) must
    keep converting: the default connection template's {depStop} has no
    resolver, and the reference's resolveValue yields null -> '' fill
    (URIStrategy.js:74-123) rather than an error."""
    uris = URIStrategy({"stop": "http://my.org/stops/{stops.stop_id}"})
    row = conn_df.select(
        uris.stop_id("dep_").alias("stop"), uris.connection_id().alias("conn")
    ).first()
    assert row.stop == "http://my.org/stops/BEATTY%20AIRPORT"
    # {depStop} segment renders empty, the rest of the template holds
    assert row.conn == "http://example.org/connections/20070106//T1%20x"
