"""Layer A — GTFS detection/extraction from web pages.

input_hint invariants: vectorized pandas UDF detection, pure function of
``text``, byte-identical extracted content per url run-to-run."""

from pyspark.sql import functions as F

from gtfs2lc_spark import extraction, fixtures, pipeline


def _pages(spark):
    return fixtures.pages_df(spark, noise_pages=25, n_partitions=8)


def test_detector_skips_noise(spark):
    pages = _pages(spark)
    detected = extraction.detect_pages(pages)
    urls = {r.url for r in detected.select("url").collect()}
    assert len(urls) == 6  # exactly one page per GTFS file
    assert all("transit.example.org" in u for u in urls)


def test_extracted_tables_match_direct_synthesis(spark, feed):
    pages = _pages(spark)
    entities = extraction.extract_entities(pages)
    for name, direct in feed.items():
        got = {tuple(r) for r in entities[name].collect()}
        want = {tuple(r) for r in direct.collect()}
        assert got == want, f"{name} mismatch"


def test_byte_identical_per_url(spark):
    """Extraction is deterministic: two runs yield identical bytes per url."""
    pages = _pages(spark)

    def snapshot():
        return {
            r.url: (r.gtfs_file, r.feed_id, r.header, r.body)
            for r in extraction.detect_pages(pages).collect()
        }

    a, b = snapshot(), snapshot()
    assert a == b
    # and the body is byte-identical to the synthesized CSV payload
    for fname, csv_text in fixtures.SAMPLE_FEED_CSV.items():
        url = fixtures.page_url("samplefeed", fname)
        header, _, body = csv_text.partition("\n")
        assert a[url][2] == header
        assert a[url][3] == body


def test_pages_to_connections_end_to_end(spark):
    """Full graft path: pages -> extraction -> pipeline -> 3,472 connections."""
    pages = _pages(spark)
    e = extraction.extract_entities(pages)
    conns = pipeline.convert(
        e["stop_times"], e["trips"], e["routes"], e["stops"],
        e["calendar"], e["calendar_dates"], salt_n=8,
    )
    assert conns.count() == fixtures.SAMPLE_FEED_CONNECTIONS


def test_quoted_csv_fields(spark):
    """from_csv must honor GTFS quoting: embedded commas and escaped
    quotes survive extraction intact (the reference uses fast-csv with
    quote '\"' — lib/stoptimes/StopTimes2Cxs.js:31-33)."""
    from datetime import datetime, timezone

    from gtfs2lc_spark.schemas import PAGES_SCHEMA

    csv = (
        "stop_id,stop_name,stop_desc,stop_lat,stop_lon,zone_id,stop_url\n"
        'S1,"Main St, Platform ""A""",desc,1.0,2.0,,\n'
    )
    text = f"{fixtures.GTFS_MARKER} stops.txt feed=qf\n{csv}"
    ts = datetime(2026, 1, 15, tzinfo=timezone.utc)
    pages = spark.createDataFrame([("u", ts, b"", text, "en")], PAGES_SCHEMA)
    stops = extraction.entities_from_detected(extraction.detect_pages(pages))["stops"]
    row = stops.first()
    assert row.stop_name == 'Main St, Platform "A"'
    assert row.stop_id == "S1"


def test_multi_feed_scoping(spark):
    """Two feeds extract independently; all joins are feed_id-scoped."""
    pages = fixtures.pages_df(spark, n_feeds=2, noise_pages=5)
    e = extraction.extract_entities(pages)
    conns = pipeline.convert(
        e["stop_times"], e["trips"], e["routes"], e["stops"],
        e["calendar"], e["calendar_dates"], salt_n=8,
    )
    per_feed = {r.feed_id: r["count"] for r in conns.groupBy("feed_id").count().collect()}
    assert per_feed == {
        "samplefeed-0": fixtures.SAMPLE_FEED_CONNECTIONS,
        "samplefeed-1": fixtures.SAMPLE_FEED_CONNECTIONS,
    }


def _page(spark, url, text):
    return spark.createDataFrame(
        [(url, None, None, text, "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )


def test_crlf_pages_extract(spark):
    """CRLF bodies and a '\r'-terminated header line must not defeat
    extraction (ADVICE r1)."""
    text = (
        "#gtfs-file: stops.txt feed=crlf\r\n"
        "stop_id,stop_code,stop_name,stop_desc,stop_lat,stop_lon,zone_id,stop_url\r\n"
        "S1,,Alpha,,1.0,2.0,,\r\n"
        "S2,,Beta,,3.0,4.0,,\r\n"
    )
    e = extraction.extract_entities(_page(spark, "http://x/crlf", text))
    rows = {r.stop_id: r.stop_name for r in e["stops"].collect()}
    assert rows == {"S1": "Alpha", "S2": "Beta"}


def test_coupled_trains_keep_their_own_unique_ids(spark):
    """trip_short_name and stop_code are uniqueId parts (st2c.js:68-89):
    coupled trains IC101 and IC202 share route, stops and times and
    differ only in their train numbers, so each keeps its connection
    through J7. Extraction used to drop both columns, giving the two
    trains one uniqueId and deleting IC202's connection."""
    st_rows = "".join(
        f"{t},{hm},{hm},{s},{q}\n"
        for t in ("IC101", "IC202")
        for hm, s, q in (("8:00:00", "A", 1), ("9:00:00", "B", 2))
    )
    files = {
        "routes.txt": "route_id,route_long_name\nR,Coast Line\n",
        "trips.txt": "route_id,service_id,trip_id,trip_short_name\n"
                     "R,S,IC101,101\nR,S,IC202,202\n",
        "stops.txt": "stop_id,stop_code,stop_name\nA,,Alpha\nB,8400B,Beta\n",
        "stop_times.txt": "trip_id,arrival_time,departure_time,stop_id,stop_sequence\n"
                          + st_rows,
        "calendar.txt": "service_id,monday,tuesday,wednesday,thursday,friday,"
                        "saturday,sunday,start_date,end_date\n"
                        "S,1,0,0,0,0,0,0,20070101,20070101\n",
        "calendar_dates.txt": "service_id,date,exception_type\nS,20070102,2\n",
    }
    pages = None
    for fname, body in files.items():
        page = _page(spark, f"http://x/coupled/{fname}",
                     f"#gtfs-file: {fname} feed=coupled\n{body}")
        pages = page if pages is None else pages.unionByName(page)
    e = extraction.extract_entities(pages)
    conns = pipeline.convert(
        e["stop_times"], e["trips"], e["routes"], e["stops"],
        e["calendar"], e["calendar_dates"], salt_n=None,
    )
    got = sorted(
        (r.trip_id, r.unique_id) for r in conns.select("trip_id", "unique_id").collect()
    )
    assert got == [
        ("IC101", "CoastLine/101/A/8400B/8:00:00/8:00:00/9:00:00//"),
        ("IC202", "CoastLine/202/A/8400B/8:00:00/8:00:00/9:00:00//"),
    ]


def test_header_mapped_by_name(spark):
    """Reordered + extra columns map by name (fast-csv headers:true
    semantics); canonical columns absent from the header fill ''."""
    text = (
        "#gtfs-file: stops.txt feed=reorder\n"
        "stop_name,stop_id,wheelchair_boarding\n"
        "Gamma,S9,1\n"
    )
    e = extraction.extract_entities(_page(spark, "http://x/reorder", text))
    row = e["stops"].collect()[0]
    assert (row.stop_id, row.stop_name, row.stop_desc) == ("S9", "Gamma", "")


def test_missing_required_column_dropped_and_counted(spark, caplog):
    """A header without the entity's required key columns is rejected —
    loudly (warning carries the page count and the missing columns)."""
    import logging

    text = "#gtfs-file: trips.txt feed=bad\nroute_id,service_id\nR1,S1\n"
    with caplog.at_level(logging.WARNING, logger="gtfs2lc_spark.extraction"):
        e = extraction.extract_entities(_page(spark, "http://x/bad", text))
        assert e["trips"].count() == 0
    assert any("trip_id" in r.message and "trips.txt" in r.message for r in caplog.records)


def test_malformed_pages_yield_nothing(spark):
    """Marker + garbage body / None text: no crash, no rows."""
    pages = _page(spark, "http://x/g1", "#gtfs-file: stops.txt feed=g\n\x00\x01garbage").unionByName(
        _page(spark, "http://x/g2", None)
    )
    e = extraction.extract_entities(pages)
    assert e["stops"].count() == 0


def test_recrawled_page_newest_wins_batch_path(spark):
    """Common-Crawl re-crawls: two crawls of the same stop_times url in
    one batch pages table must yield ONE detected row (the newest), not
    doubled stop_times rows that corrupt the lag pairing."""
    from pyspark.sql import functions as F

    from gtfs2lc_spark import fixtures, pipeline
    from gtfs2lc_spark.extraction import detect_pages, extract_entities

    pages = fixtures.pages_df(spark, noise_pages=0)
    older = pages.where(F.col("url").contains("stop_times")).select(
        "url",
        (F.col("warc_ts") - F.expr("interval 365 days")).alias("warc_ts"),
        "html", "text", "lang",
    )
    doubled = pages.unionByName(older)

    det = detect_pages(doubled)
    assert det.groupBy("url").count().agg(F.max("count")).first()[0] == 1
    # the NEWEST crawl's timestamp survives
    st = det.where(F.col("url").contains("stop_times")).first()
    orig_ts = pages.where(F.col("url").contains("stop_times")).first().warc_ts
    assert st.warc_ts == orig_ts

    e = extract_entities(doubled)
    conns = pipeline.convert(
        e["stop_times"], e["trips"], e["routes"], e["stops"],
        e["calendar"], e["calendar_dates"], salt_n=8,
    )
    assert conns.count() == fixtures.SAMPLE_FEED_CONNECTIONS


def test_recrawled_near_miss_keeps_older_detected_crawl(spark):
    """Newest DETECTED crawl wins: a newer crawl of a stop_times url that
    carries the marker but fails detection must not displace the older
    valid crawl, and a url whose every crawl is a near miss yields no
    row."""
    from datetime import datetime, timezone

    from gtfs2lc_spark.schemas import PAGES_SCHEMA

    pages = fixtures.pages_df(spark, noise_pages=0)
    st_url = fixtures.page_url("samplefeed", "stop_times.txt")
    valid = pages.where(F.col("url") == st_url).first()
    newer = datetime(2099, 1, 1, tzinfo=timezone.utc)
    near_miss = f"{fixtures.GTFS_MARKER}stop_times.txt\ntrip_id\nT1\n"
    extra = spark.createDataFrame(
        [
            (st_url, newer, b"", near_miss, "en"),
            ("http://x/miss", newer, b"", near_miss, "en"),
            ("http://x/miss", valid.warc_ts, b"", near_miss, "en"),
        ],
        PAGES_SCHEMA,
    )
    det = extraction.detect_pages(pages.unionByName(extra))
    rows = {r.url: r for r in det.collect()}
    assert "http://x/miss" not in rows
    assert len(rows) == 6
    assert rows[st_url].warc_ts == valid.warc_ts
    assert rows[st_url].body == valid.text.split("\n", 2)[2]


def _detector_stage_tasks(spark, df) -> list[int]:
    """Task counts of the completed stages that ran the pandas UDF when
    ``df`` was written, read from Spark's status store."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    store = jsc.statusStore()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)

    def stages():
        jsc.listenerBus().waitUntilEmpty()
        lst = store.stageList(None, False, False, no_quantiles, None)
        return [lst.apply(i) for i in range(lst.size())]

    def op_names(cluster):
        kids = cluster.childClusters()
        yield cluster.name()
        for i in range(kids.size()):
            yield from op_names(kids.apply(i))

    seen = {st.stageId() for st in stages()}
    df.write.format("noop").mode("overwrite").save()
    return [
        st.numTasks()
        for st in stages()
        if st.stageId() not in seen
        and str(st.status()) == "COMPLETE"
        and "ArrowEvalPython" in op_names(store.operationGraphForStage(st.stageId()).rootCluster())
    ]


def test_detector_stage_is_sized_by_marker_bytes(spark):
    """AQE sizes the Python stage by the marker pages' bytes: the sample
    feed's few KB run in one task (one Python worker); marker text well
    past ``defaultParallelism`` MB gets one task per core."""
    import random

    cores = spark.sparkContext.defaultParallelism
    small = extraction.detect_pages(fixtures.pages_df(spark, noise_pages=10))
    assert _detector_stage_tasks(spark, small) == [1]

    rng = random.Random(7)
    big = spark.createDataFrame(
        [
            (
                f"http://big.example.org/{i:03d}/stop_times.txt", None, None,
                f"{fixtures.GTFS_MARKER} stop_times.txt feed=big\nh\n"
                + rng.randbytes(256 * 1024).hex(),
                "en",
            )
            for i in range(8 * cores)
        ],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    tasks = _detector_stage_tasks(spark, extraction.detect_pages(big))
    assert tasks and all(t == cores for t in tasks), tasks


def test_hostile_header_variant_count_stays_linear(spark):
    """VERDICT r3 #5: ~100 header variants of one gtfs file must NOT
    produce ~100 union branches or a ~100-row driver collect — the
    MAX_HEADER_BRANCHES most common headers get dedicated branches and
    the tail routes through ONE generic name-mapping branch. Values
    must come out identical either way."""
    import itertools

    base_cols = ["stop_id", "stop_name", "stop_desc", "stop_lat", "stop_lon"]
    rows = []
    perms = itertools.permutations(base_cols)
    for i, perm in enumerate(itertools.islice(perms, 100)):
        hdr = ",".join(perm)
        vals = {
            "stop_id": f"S{i:03d}",
            "stop_name": f"Stop {i}",
            "stop_desc": f"desc{i}",
            "stop_lat": "1.0",
            "stop_lon": "2.0",
        }
        body = ",".join(vals[c] for c in perm)
        text = f"{fixtures.GTFS_MARKER} stops.txt feed=hostile\n{hdr}\n{body}\n"
        rows.append((f"http://x/h{i:03d}", text))
    pages = spark.createDataFrame(
        [(u, None, None, t, "en") for u, t in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    e = extraction.entities_from_detected(extraction.detect_pages(pages))
    stops = e["stops"]
    got = {r.stop_id: (r.stop_name, r.stop_desc) for r in stops.collect()}
    assert len(got) == 100
    assert got["S042"] == ("Stop 42", "desc42")

    # plan stays linear: one posexplode per branch — at most the
    # dedicated cap + ONE generic tail branch, NOT one per variant
    # (inlined per-column from_csv copies are deduped at runtime by
    # codegen subexpression elimination; branch count is the metric
    # that scales with variants)
    plan = stops._jdf.queryExecution().optimizedPlan().toString().lower()
    from gtfs2lc_spark.extraction import MAX_HEADER_BRANCHES
    assert 0 < plan.count("posexplode") <= MAX_HEADER_BRANCHES + 1


def test_generic_tail_branch_required_check_and_quoting(spark):
    """The generic branch enforces REQUIRED_COLS in-plan and parses
    quoted fields exactly like the dedicated path."""
    import itertools

    base_cols = ["stop_id", "stop_name", "stop_desc", "stop_lat", "stop_lon"]
    rows = []
    # 20 variants so stops.txt overflows MAX_HEADER_BRANCHES=16
    for i, perm in enumerate(itertools.islice(itertools.permutations(base_cols), 20)):
        hdr = ",".join(perm)
        vals = {
            "stop_id": f"Q{i:02d}",
            "stop_name": f'"quoted, ""name"" {i}"',
            "stop_desc": "d",
            "stop_lat": "0",
            "stop_lon": "0",
        }
        body = ",".join(vals[c] for c in perm)
        rows.append((f"http://x/q{i}", f"{fixtures.GTFS_MARKER} stops.txt feed=q\n{hdr}\n{body}\n"))
    # plus a tail header MISSING the required stop_id -> rows dropped in-plan
    rows.append((
        "http://x/bad-tail",
        f"{fixtures.GTFS_MARKER} stops.txt feed=q\nstop_name,stop_desc\nX,Y\n",
    ))
    pages = spark.createDataFrame(
        [(u, None, None, t, "en") for u, t in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    e = extraction.entities_from_detected(extraction.detect_pages(pages))
    got = {r.stop_id: r.stop_name for r in e["stops"].collect()}
    assert len(got) == 20 and "X" not in got.values()
    assert got["Q07"] == 'quoted, "name" 7'
