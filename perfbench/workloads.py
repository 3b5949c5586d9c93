"""Seeded input generation for the pages-to-triples benchmark.

Every workload is a Common-Crawl-style pages table (the engine's input
schema, ``schemas.PAGES_SCHEMA``) written to parquet before timing
starts, without Spark. GTFS pages are built from the sample feed of
``gtfs2lc_spark.fixtures``: one feed is kept byte-for-byte (it is the
one checked against the DuckDB oracle); every other feed gets a
seed-chosen id prefix on its stop, trip and route ids and a seed-chosen
shift of all its stop times. The seed also picks the noise text and
the page order. Row counts never depend on the seed, so the expected
output counts below hold for every seed.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from gtfs2lc_spark.fixtures import GTFS_MARKER, SAMPLE_FEED_CONNECTIONS, SAMPLE_FEED_CSV, page_url

TRIPLES_PER_FEED = 29_992  # sample feed, oracle-verified (tests/test_pipeline_e2e.py)
FULLW_DATES = 180  # service days of the sample feed's FULLW calendar
MEGA_TRIPLES_PER_CONNECTION = 8  # 7 fixed + headsign (no pickup/drop-off codes)

# id columns that get the per-feed prefix, by file
_ID_COLS = {
    "stop_times.txt": ("trip_id", "stop_id"),
    "trips.txt": ("route_id", "trip_id"),
    "routes.txt": ("route_id",),
    "stops.txt": ("stop_id",),
}
_TIME_COLS = ("arrival_time", "departure_time")
_BASE_TS = datetime(2026, 1, 15, tzinfo=timezone.utc)
_PAGE_FILES = 8


@dataclass(frozen=True)
class Spec:
    """One workload's shape. ``feeds`` counts the prefixed feeds; the
    triples workloads add the untouched sample feed on top."""

    name: str
    feeds: int
    noise_pages: int = 0
    near_miss_every: int = 0  # every k-th noise page is a near miss
    mega: bool = False  # add one feed with a mega trip
    history: bool = False  # jsonld + join-and-sort into a history store

    @property
    def mega_rows(self) -> int:
        """Stop times of the mega trip: its (rows - 1) x 180 connections
        about equal those of all other feeds together."""
        return self.feeds * SAMPLE_FEED_CONNECTIONS // FULLW_DATES + 1 if self.mega else 0


SPECS = {
    "feeds_skewed": Spec("feeds_skewed", feeds=20, noise_pages=400, mega=True),
    # F feeds among crawl noise, committed into an empty history store
    "history_sorted": Spec("history_sorted", feeds=8, noise_pages=5_000, near_miss_every=20, history=True),
}


def _hms(t: int) -> str:
    return f"{t // 3600}:{t // 60 % 60:02d}:{t % 60:02d}"


def _shift(value: str, offset_s: int) -> str:
    if not value:
        return value
    h, m, *s = (int(p) for p in value.split(":"))
    return _hms(h * 3600 + m * 60 + (s[0] if s else 0) + offset_s)


def feed_csv(prefix: str, offset_s: int, mega_rows: int = 0) -> dict[str, str]:
    """The sample feed with ``prefix`` on every stop/trip/route id and
    every stop time moved by ``offset_s``. ``mega_rows`` > 0 adds trip
    ``MEGA`` on the 180-day FULLW service: stop times 30 s apart,
    alternating between two stops, so each consecutive pair is a rule."""
    out = {}
    for fname, text in SAMPLE_FEED_CSV.items():
        lines = [ln for ln in text.split("\n") if ln.strip()]
        header = lines[0].split(",")
        ids = [header.index(c) for c in _ID_COLS.get(fname, ())]
        times = [header.index(c) for c in _TIME_COLS] if fname == "stop_times.txt" else []
        rows = []
        for ln in lines[1:]:
            vals = ln.split(",")
            for i in ids:
                vals[i] = prefix + vals[i]
            for i in times:
                vals[i] = _shift(vals[i], offset_s)
            rows.append(",".join(vals))
        if mega_rows and fname == "trips.txt":
            rows.append(f"{prefix}AAMV,FULLW,{prefix}MEGA,to Amargosa Valley,0,,")
        if mega_rows and fname == "stop_times.txt":
            for k in range(1, mega_rows + 1):
                t = _hms(4 * 3600 + 30 * k + offset_s)
                stop = "BEATTY_AIRPORT" if k % 2 == 0 else "BULLFROG"
                rows.append(f"{prefix}MEGA,{t},{t},{prefix}{stop},{k},,,,")
        out[fname] = "\n".join([lines[0], *rows]) + "\n"
    return out


@dataclass(frozen=True)
class Feed:
    feed_id: str
    prefix: str = ""  # "" keeps the sample feed untouched
    offset_s: int = 0
    mega_rows: int = 0

    def pages(self) -> list[tuple[str, str]]:
        """(url, text) of the feed's six GTFS pages."""
        csv = feed_csv(self.prefix, self.offset_s, self.mega_rows) if self.prefix else SAMPLE_FEED_CSV
        return [
            (page_url(self.feed_id, f), f"{GTFS_MARKER} {f} feed={self.feed_id}\n{t}")
            for f, t in csv.items()
        ]


SAMPLE_FEED = Feed("sample")


def make_feeds(seed: int, n: int, first: int = 0) -> list[Feed]:
    """``n`` prefixed feeds with indexes ``first``..``first+n-1``; the
    prefix and time shift of feed ``i`` depend only on (seed, i)."""
    feeds = []
    for i in range(first, first + n):
        rng = random.Random(seed * 1_000_003 + i)
        feeds.append(Feed(f"feed{i:05d}", f"s{rng.getrandbits(24):06x}i{i}-", 60 * rng.randrange(60)))
    return feeds


def mega_feed(spec: Spec) -> Feed:
    """The skew feed. Its ids and times do not vary with the seed: they
    decide how the mega trip's rows fall into the salted explode's
    buckets and so into output files, and with a seed-chosen prefix the
    Parquet encoding of those files flipped between dictionary and
    plain (output size 5.2 vs 7.4 MB across seeds)."""
    return Feed("megafeed", "mega-", 0, spec.mega_rows)


_NEAR_MISS_MARKERS = (
    GTFS_MARKER + " stop_times.txt feed=",  # empty feed id
    GTFS_MARKER + "stop_times.txt feed=nm{i}",  # no blank after the marker
    GTFS_MARKER + " stop_times.txt feed=nm{i} extra",  # trailing token
)
_ST_HEADER = SAMPLE_FEED_CSV["stop_times.txt"].split("\n", 1)[0]


def noise_pages(seed: int, n: int, near_miss_every: int = 0, id0: int = 0) -> list[tuple[str, str]]:
    """``n`` non-GTFS pages of about 700 bytes of seeded random text.
    Every ``near_miss_every``-th page instead starts with the GTFS
    marker but fails detection (three malformed marker lines in turn)
    and carries a stop_times body whose NEARMISS trips must never reach
    the output."""
    rng = random.Random(seed)
    out = []
    for k in range(n):
        i = id0 + k
        if near_miss_every and i % near_miss_every == 0:
            marker = _NEAR_MISS_MARKERS[(i // near_miss_every) % 3].format(i=i)
            text = (f"{marker}\n{_ST_HEADER}\nNEARMISS{i},8:00:00,8:00:00,NMSTOP_A,1,,,,\n"
                    f"NEARMISS{i},9:00:00,9:00:00,NMSTOP_B,2,,,,\n")
        else:
            text = f"<p>Lorem ipsum {rng.randbytes(320).hex()} page {i}.\nNo schedules here.\n"
        out.append((f"https://noise.example.org/s{seed}/p/{i}", text))
    return out


def write_pages(path: str, seed: int, pages: list[tuple[str, str]], ts_days: int = 0) -> int:
    """Write (url, text) pages, in an order the seed picks, as parquet
    files of the engine's pages schema; returns the page count."""
    order = list(range(len(pages)))
    random.Random(seed).shuffle(order)
    text = pa.array([pages[i][1] for i in order], pa.string())
    ts0 = int((_BASE_TS + timedelta(days=ts_days)).timestamp())
    table = pa.table({
        "url": pa.array([pages[i][0] for i in order], pa.string()),
        "warc_ts": pa.array(range(ts0, ts0 + len(order)), pa.timestamp("s", tz="UTC")),
        "html": pc.binary_join_element_wise("<html><body>", text, "</body></html>", "").cast(pa.binary()),
        "text": text,
        "lang": pa.array(["en"] * len(order), pa.string()),
    })
    os.makedirs(path, exist_ok=True)
    step = -(-len(order) // _PAGE_FILES)
    for f in range(_PAGE_FILES):
        pq.write_table(table.slice(f * step, step), os.path.join(path, f"part-{f:05d}.parquet"))
    return len(order)


def expected_triples(spec: Spec) -> int:
    """Triples ``job.run --format triples-parquet`` must write."""
    mega = (spec.mega_rows - 1) * FULLW_DATES * MEGA_TRIPLES_PER_CONNECTION + TRIPLES_PER_FEED if spec.mega else 0
    return (spec.feeds + 1) * TRIPLES_PER_FEED + mega
