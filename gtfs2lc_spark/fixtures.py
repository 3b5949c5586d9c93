"""Deterministic synthetic fixtures — no external data.

Reproduces the reference's own test feed (Google's public GTFS demo feed
plus the joining/splitting trips, /root/reference/test/sample-feed-test/)
as in-memory CSV text, then wraps it into the Common-Crawl-style pages
table of BASELINE.json's input_hint. All synthesis is seedless and
deterministic: byte-identical output per url on every run.

Expected end-to-end result on one feed: 3,472 connections
(FIXTURES.md §4; verified against the reference's committed fixture).
"""

from __future__ import annotations

import hashlib
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schemas import GTFS_FILE_COLS, PAGES_SCHEMA, _string_struct

# -- raw CSV text per GTFS file (data parity with the reference fixture) -----

_STOP_TIMES = """\
trip_id,arrival_time,departure_time,stop_id,stop_sequence,stop_headsign,pickup_type,drop_off_type,shape_dist_traveled
AAMV1,8:00:00,8:00:00,BEATTY_AIRPORT,1,,,,
AAMV1,9:00:00,9:00:00,AMV,2,,,,
AAMV2,10:00:00,10:00:00,AMV,1,,,,
AAMV2,11:00:00,11:00:00,BEATTY_AIRPORT,2,,,,
AAMV3,13:00:00,13:00:00,BEATTY_AIRPORT,1,,,,
AAMV3,14:00:00,14:00:00,AMV,2,,,,
AAMV4,15:00:00,15:00:00,AMV,1,,,,
AAMV4,16:00:00,16:00:00,BEATTY_AIRPORT,2,,,,
AB1,8:00:00,8:00:00,BEATTY_AIRPORT,1,,,,
AB1,8:10:00,8:15:00,BULLFROG,2,,,,
AB2,12:05:00,12:05:00,BULLFROG,1,,,,
AB2,12:15:00,12:15:00,BEATTY_AIRPORT,2,,,,
BFC1,8:20:00,8:20:00,BULLFROG,1,,,,
BFC1,9:20:00,9:20:00,FUR_CREEK_RES,2,,,,
BFC2,11:00:00,11:00:00,FUR_CREEK_RES,1,,,,
BFC2,12:00:00,12:00:00,BULLFROG,2,,,,
CITY1,6:00:00,6:00:00,STAGECOACH,1,,,,
CITY1,6:05:00,6:07:00,NANAA,2,,,,
CITY1,6:12:00,6:14:00,NADAV,3,,,,
CITY1,6:19:00,6:21:00,DADAN,4,,,,
CITY1,6:26:00,6:28:00,EMSI,5,,,,
CITY2,6:28:00,6:30:00,EMSI,1,,,,
CITY2,6:35:00,6:37:00,DADAN,2,,,,
CITY2,6:42:00,6:44:00,NADAV,3,,,,
CITY2,6:49:00,6:51:00,NANAA,4,,,,
CITY2,6:56:00,6:58:00,STAGECOACH,5,,,,
joining_trip_1,12:00,12:00,A,1,E,0,0,
joining_trip_1,12:05,12:05,B,2,E,0,0,
joining_trip_1,12:10,12:10,C,3,E,0,0,
joining_trip_1,12:15,12:15,D,4,E,0,0,
joining_trip_1,12:20,12:20,E,5,E,0,0,
joining_trip_2,12:00,12:00,X,1,E,0,0,
joining_trip_2,12:05,12:05,Y,2,E,0,0,
joining_trip_2,12:10,12:10,C,3,E,1,0,
non_joining_splitting_trip_3,12:05,12:05,Y,1,E,0,0,
non_joining_splitting_trip_3,12:10,12:10,C,2,E,1,0,
non_joining_splitting_trip_3,12:15,12:15,D,3,E,1,0,
non_joining_splitting_trip_4,12:05,12:05,Y,1,E,0,1,
non_joining_splitting_trip_4,12:10,12:10,C,2,E,1,1,
non_joining_splitting_trip_4,12:20,12:20,BULLFROG,3,F,1,1,
joining_trip_2,12:15,12:15,D,4,E,1,0,
joining_trip_2,12:20,12:20,E,5,E,1,0,
STBA,6:00:00,6:00:00,STAGECOACH,1,,1,1,
STBA,6:20:00,6:20:00,BEATTY_AIRPORT,2,,1,1,
"""

_TRIPS = """\
route_id,service_id,trip_id,trip_headsign,direction_id,block_id,shape_id
AAMV,WE,AAMV1,to Amargosa Valley,0,,
AAMV,WE,AAMV2,to Airport,1,,
AAMV,WE,AAMV3,to Amargosa Valley,0,,
AAMV,WE,AAMV4,to Airport,1,,
AB,FULLW,AB1,to Bullfrog,0,1,
AB,FULLW,AB2,to Airport,1,2,
BFC,FULLW,BFC1,to Furnace Creek Resort,0,1,
BFC,FULLW,BFC2,to Bullfrog,1,2,
CITY,FULLW,CITY1,,0,,
CITY,FULLW,CITY2,,1,,
joining_route,WE,joining_trip_1,Joining Trip 1,,
joining_route,WE,joining_trip_2,Joining Trip 2,,
splitting_route,W,non_joining_splitting_trip_3,Non Joining Yet Splitting Trip 3,,
splitting_route,W,non_joining_splitting_trip_4,Non Joining Yet Splitting Trip 4,,
STBA,FULLW,STBA,Shuttle,,,
"""

_ROUTES = """\
route_id,agency_id,route_short_name,route_long_name,route_desc,route_type,route_url,route_color,route_text_color
AB,DTA,10,Airport - Bullfrog,,3,,,
BFC,DTA,20,Bullfrog - Furnace Creek Resort,,3,,,
STBA,DTA,30,Stagecoach - Airport Shuttle,,3,,,
CITY,DTA,40,City,,3,,,
AAMV,DTA,50,Airport - Amargosa Valley,,3,,,
joining_route,DTA,60,Joining Route,,3,,,
splitting_route,DTA,60,Splitting Route,,3,,,
"""

_STOPS = """\
stop_id,stop_name,stop_desc,stop_lat,stop_lon,zone_id,stop_url
FUR_CREEK_RES,Furnace Creek Resort (Demo),,36.425288,-117.133162,,
BEATTY_AIRPORT,Nye County Airport (Demo),,36.868446,-116.784582,,
BULLFROG,Bullfrog (Demo),,36.88108,-116.81797,,
STAGECOACH,Stagecoach Hotel & Casino (Demo),,36.915682,-116.751677,,
NADAV,North Ave / D Ave N (Demo),,36.914893,-116.76821,,
NANAA,North Ave / N A Ave (Demo),,36.914944,-116.761472,,
DADAN,Doing Ave / D Ave N (Demo),,36.909489,-116.768242,,
EMSI,E Main St / S Irving St (Demo),,36.905697,-116.76218,,
AMV,Amargosa Valley (Demo),,36.641496,-116.40094,,
A,Amargosa Valley (Demo),,36.641496,-116.40094,,
B,Amargosa Valley (Demo),,36.641496,-116.40094,,
C,Amargosa Valley (Demo),,36.641496,-116.40094,,
D,Amargosa Valley (Demo),,36.641496,-116.40094,,
E,Amargosa Valley (Demo),,36.641496,-116.40094,,
X,Amargosa Valley (Demo),,36.641496,-116.40094,,
Y,Amargosa Valley (Demo),,36.641496,-116.40094,,
"""

_CALENDAR = """\
service_id,monday,tuesday,wednesday,thursday,friday,saturday,sunday,start_date,end_date
FULLW,1,1,1,1,1,1,1,20070101,20070630
WE,0,0,0,0,0,1,1,20070101,20070630
W,1,1,1,1,1,0,0,20070101,20070630
"""

_CALENDAR_DATES = """\
service_id,date,exception_type
FULLW,20070604,2
FULLW,20070605,1
FULLW,20070606,1
FULLW,20070607,1
"""

SAMPLE_FEED_CSV: dict[str, str] = {
    "stop_times.txt": _STOP_TIMES,
    "trips.txt": _TRIPS,
    "routes.txt": _ROUTES,
    "stops.txt": _STOPS,
    "calendar.txt": _CALENDAR,
    "calendar_dates.txt": _CALENDAR_DATES,
}

SAMPLE_FEED_CONNECTIONS = 3472  # FIXTURES.md §4

GTFS_MARKER = "#gtfs-file:"


def _parse_csv_rows(text: str) -> tuple[list[str], list[list[str]]]:
    lines = [ln for ln in text.split("\n") if ln.strip()]
    header = lines[0].split(",")
    rows = [ln.split(",") for ln in lines[1:]]
    return header, rows


def entity_dfs(
    spark: SparkSession, feed_id: str = "samplefeed", n_feeds: int = 1
) -> dict[str, DataFrame]:
    """GTFS entity DataFrames (all-string columns + feed_id/url lineage).

    ``n_feeds > 1`` replicates the feed under feed ids ``{feed_id}-{i}``
    — the deterministic scale knob for bench runs (each copy adds 3,472
    connections).
    """
    feeds = [feed_id] if n_feeds == 1 else [f"{feed_id}-{i}" for i in range(n_feeds)]
    out: dict[str, DataFrame] = {}
    for fname, cols in GTFS_FILE_COLS.items():
        header, rows = _parse_csv_rows(SAMPLE_FEED_CSV[fname])
        idx = [header.index(c) if c in header else None for c in cols]
        data = []
        for fid in feeds:
            url = page_url(fid, fname)
            for line_no, r in enumerate(rows):
                vals = [(r[i] if i is not None and i < len(r) else "") for i in idx]
                data.append((*vals, fid, url, line_no))
        # _line mirrors extraction's posexplode line number: file-order
        # lineage for last-row-wins dimension dedup
        schema = _string_struct(*cols, "feed_id", "url").add("_line", "long")
        name = fname.removesuffix(".txt")
        out[name] = spark.createDataFrame(data, schema)
    return out


def page_url(feed_id: str, file_name: str) -> str:
    return f"https://transit.example.org/feeds/{feed_id}/{file_name}"


def _noise_text(i: int) -> str:
    h = hashlib.sha256(f"noise-{i}".encode()).hexdigest()
    words = [h[j : j + 6] for j in range(0, 60, 6)]
    return "Lorem ipsum " + " ".join(words) + f" page {i}.\nNo schedules here.\n"


def pages_df(
    spark: SparkSession,
    feed_id: str = "samplefeed",
    n_feeds: int = 1,
    noise_pages: int = 40,
    n_partitions: int | None = None,
) -> DataFrame:
    """Common-Crawl-style pages table (input_hint schema).

    One page per (feed, GTFS file) whose ``text`` embeds the raw CSV
    behind a ``#gtfs-file: <name> feed=<id>`` marker line, plus
    deterministic non-GTFS noise pages the detector must skip. ``html``
    is a deterministic wrapper around ``text``.
    """
    feeds = [feed_id] if n_feeds == 1 else [f"{feed_id}-{i}" for i in range(n_feeds)]
    base_ts = datetime(2026, 1, 15, tzinfo=timezone.utc)
    rows = []
    i = 0
    for fid in feeds:
        for fname, csv_text in SAMPLE_FEED_CSV.items():
            text = f"{GTFS_MARKER} {fname} feed={fid}\n{csv_text}"
            rows.append(_page_row(page_url(fid, fname), base_ts, text, i))
            i += 1
    for k in range(noise_pages):
        rows.append(
            _page_row(f"https://noise.example.org/p/{k}", base_ts, _noise_text(k), i)
        )
        i += 1
    df = spark.createDataFrame(rows, PAGES_SCHEMA)
    if n_partitions:
        df = df.repartition(n_partitions)
    return df


def _page_row(url: str, base_ts: datetime, text: str, idx: int):
    ts = datetime.fromtimestamp(base_ts.timestamp() + idx, tz=timezone.utc)
    html = b"<html><pre>" + text.encode("utf-8") + b"</pre></html>"
    return (url, ts, html, text, "en")


def pages_df_scaled(
    spark: SparkSession,
    n_feeds: int,
    noise_pages: int = 0,
    n_partitions: int | None = None,
) -> DataFrame:
    """Deterministic JVM-side scale-out of the pages table.

    Driver-side synthesis is O(feeds); for bench runs we instead build
    ONE template feed whose feed_id is the placeholder ``F-E-E-D`` and
    fan it out with crossJoin(range(n_feeds)) + string replace — all
    JVM, so a 10,000-feed pages table costs the driver nothing.
    Extraction stays a pure function of ``text``.
    """
    template = pages_df(spark, feed_id="F-E-E-D", noise_pages=noise_pages)
    feeds = spark.range(n_feeds).select(
        F.concat(F.lit("feed"), F.col("id").cast("string")).alias("fid")
    )
    out = (
        template.crossJoin(F.broadcast(feeds))
        .select(
            F.replace(F.col("url"), F.lit("F-E-E-D"), F.col("fid")).alias("url"),
            "warc_ts",
            F.col("html"),
            F.replace(F.col("text"), F.lit("F-E-E-D"), F.col("fid")).alias("text"),
            "lang",
        )
        .withColumn(
            "html",
            F.encode(
                F.concat(F.lit("<html><pre>"), F.col("text"), F.lit("</pre></html>")),
                "UTF-8",
            ),
        )
    )
    if n_partitions:
        out = out.repartition(n_partitions)
    return out
