"""Structured Streaming ingest: a growing pages table -> incremental
Linked Connections.

The reference is strictly batch (SURVEY.md §2.7) — this is the Spark-
native extension a continuously-crawled corpus needs. Shape:

    readStream(pages dir) ──▶ foreachBatch:
        detect_pages(batch)                     (pandas-UDF, batch only)
        stage detected pages                    (staging/batch=N, overwrite)
        newest_crawl_per_url(staged)            (ALL staged pages of the
                                                 feeds touched this batch)
        entities_from_detected + convert        (same batch algebra)
        HistoryStore.emit(snapshot_id = N):     (job.run's ingest path)
            anti-join vs snapshots < N          (delta vs earlier batches)
            write delta ║ stage snapshot N      (two driver threads:
                                                 output/batch=N and
                                                 snapshot=N, overwrite)
            mark snapshot N                     (commit marker last)

Why stage-and-reconvert instead of converting each batch in isolation:
a feed spans 4-6 GTFS files, and the file source (maxFilesPerTrigger)
can split them across micro-batches — converting only the batch's pages
would silently drop stop_times whose trips/stops/calendar pages arrive
in another batch, and the source never re-reads files. Staging the
(tiny, post-detection) pages and reconverting the feeds *touched by
this batch* makes late-arriving entity pages retroactively productive:
the history anti-join emits exactly the connections that became newly
derivable. Per-trigger cost is proportional to the touched feeds, not
the corpus (feed_id predicate pushdown on the staging parquet; at real
scale the staging table would be bucketed by feed_id).

Exactly-once output, including mid-batch crashes: every effect of batch
N is keyed by N with overwrite semantics —

- staging/batch=N        (overwrite: replay re-stages identical rows)
- output/batch=N         (overwrite: replay rewrites, never appends)
- history snapshot=N     (overwrite; commit marker last, after both
                          the output and the snapshot data landed)

and the delta is computed against history snapshots with id < N only,
so a replayed batch reproduces its original delta byte-for-byte even
when its own history commit already landed. A crash at ANY point
between effects therefore converges on replay (tested by
tests/test_streaming.py::test_crash_between_output_and_commit).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from . import FEED_TIMEZONE_DEFAULT, pipeline, sinks
from .checkpoint import HistoryStore
from .extraction import detect_pages, entities_from_detected, newest_crawl_per_url
from .materialize import materialize
from .schemas import PAGES_SCHEMA
from .uris import URIStrategy


def read_pages_stream(spark: SparkSession, pages_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", "16")
        .parquet(pages_dir)
    )


def process_pages_batch(
    spark: SparkSession,
    batch: DataFrame,
    batch_id: int,
    store: HistoryStore,
    staging_dir: str,
    output_dir: str,
    feed_tz: str = FEED_TIMEZONE_DEFAULT,
) -> None:
    """One idempotent micro-batch step (see module docstring). Public so
    tests can drive crash/replay scenarios without a streaming query."""
    if batch.isEmpty():
        return
    detected = materialize(detect_pages(batch))
    feeds = [r.feed_id for r in detected.select("feed_id").distinct().collect()]
    detected.write.mode("overwrite").parquet(f"{staging_dir}/batch={batch_id}")
    if not feeds:
        return
    # A re-crawled url (same url detected again in a later batch — the
    # natural update path for a continuously-crawled corpus) must
    # REPLACE its earlier staged rows, not union with them, by the same
    # newest-crawl rule as the batch path: a later-arriving batch that
    # backfills an OLDER crawl of a url does not replace the staged
    # newer one. The newest crawl per url is taken over ALL staged rows
    # BEFORE the feed_id filter: a url whose newest crawl moved to a
    # different feed must not resurrect its stale snapshot when its old
    # feed is touched.
    #
    # (A url whose newer crawl no longer contains GTFS content is not
    # re-detected, so its last detected snapshot remains staged —
    # retraction would need an explicit tombstone, out of scope.)
    staged_all = spark.read.parquet(staging_dir)
    # cheap per-trigger preselect (2-column pruned scan): urls that have
    # EVER carried a touched feed — the full-width body scan below only
    # reads these urls' rows, keeping per-trigger cost proportional to
    # the touched feeds, not the corpus
    touched_urls = (
        staged_all.select("url", "feed_id")
        .where(F.col("feed_id").isin(feeds))
        .select("url")
        .distinct()
    )
    staged = newest_crawl_per_url(
        staged_all.join(F.broadcast(touched_urls), "url")
    ).where(F.col("feed_id").isin(feeds))
    # materialize once: entities_from_detected embeds this subtree
    # into ~6 entity lineages plus two driver collects — Catalyst
    # doesn't share sub-plans (same rationale as extract_entities)
    staged = materialize(staged)
    e = entities_from_detected(staged)
    conns = pipeline.convert(
        e["stop_times"], e["trips"], e["routes"], e["stops"],
        e["calendar"], e["calendar_dates"], feed_tz=feed_tz,
    )

    def write(delta: DataFrame) -> None:
        jsonld = sinks.connections_to_jsonld(delta, URIStrategy(feed_tz=feed_tz))
        sinks.jsonld_lines(jsonld).write.mode("overwrite").text(
            f"{output_dir}/batch={batch_id}"
        )

    store.emit(conns, write, {"stream_batch_id": batch_id}, snapshot_id=batch_id)


def start_incremental_conversion(
    spark: SparkSession,
    pages_dir: str,
    output_dir: str,
    history_dir: str,
    stream_checkpoint_dir: str,
    staging_dir: str | None = None,
    feed_tz: str = FEED_TIMEZONE_DEFAULT,
    available_now: bool = True,
) -> StreamingQuery:
    """Stream pages -> append newly-discovered connection JSON-LD lines
    under ``output_dir/batch=N`` (read them with a ``batch=*`` glob)."""
    store = HistoryStore(spark, history_dir)
    staging_dir = staging_dir or f"{stream_checkpoint_dir}_staging"

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        process_pages_batch(
            spark, batch, batch_id, store, staging_dir, output_dir, feed_tz=feed_tz
        )

    writer = (
        read_pages_stream(spark, pages_dir)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", stream_checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

