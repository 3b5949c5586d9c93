"""Structured Streaming ingest: a growing pages table -> incremental
Linked Connections.

The reference is strictly batch (SURVEY.md §2.7) — this is the Spark-
native extension a continuously-crawled corpus needs. Shape:

    readStream(pages dir) ──▶ foreachBatch:
        detect_pages(batch)                     (pandas-UDF, batch only)
        stage detected pages                    (staging/batch=N, overwrite)
        entities_from_detected(staged ∪)        (ALL staged pages of the
                                                 feeds touched this batch)
        pipeline.convert(...)                   (same batch algebra)
        HistoryStore.differential(< batch N)    (delta vs earlier batches)
        write delta                             (output/batch=N, overwrite)
        HistoryStore.commit(snapshot_id = N)

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
- history snapshot=N     (overwrite commit marker last)

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
from .extraction import detect_pages, entities_from_detected
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
    salt_n: int | None = 16,
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
    # REPLACE its earlier staged rows, not union with them. Order of
    # operations matters three times over:
    #
    # - newest-per-url is taken over ALL staged rows BEFORE the feed_id
    #   filter: a url whose newest crawl moved to a different feed must
    #   not resurrect its stale snapshot when its old feed is touched;
    # - "newest" is decided by warc_ts FIRST (the crawl time), exactly
    #   like the batch path (detect_pages): a later-arriving batch that
    #   backfills an OLDER crawl of a url does NOT replace the staged
    #   newer snapshot. Batch id then content break warc_ts ties, so
    #   two crawls of one url in the SAME batch still resolve to a
    #   deterministic row and a crash-replayed batch reproduces its
    #   delta byte-for-byte.
    #
    # (A url whose newer crawl no longer contains GTFS content is not
    # re-detected, so its last detected snapshot remains staged —
    # retraction would need an explicit tombstone, out of scope.)
    staged_all = spark.read.parquet(staging_dir)
    data_cols = [c for c in staged_all.columns if c != "batch"]
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
    staged = (
        staged_all.join(F.broadcast(touched_urls), "url")
        .groupBy("url")
        .agg(
            F.max(
                F.struct(
                    F.col("warc_ts").alias("_ts"),
                    F.col("batch").cast("long").alias("_b"),
                    *[F.col(c).alias(c) for c in data_cols],
                )
            ).alias("_s")
        )
        .select("_s.*")
        .drop("_ts", "_b")
        # the WINNER's feed decides membership: a url whose newest crawl
        # moved to an untouched feed is dropped here, not resurrected
        .where(F.col("feed_id").isin(feeds))
    )
    # materialize once: entities_from_detected embeds this subtree
    # into ~6 entity lineages plus two driver collects — Catalyst
    # doesn't share sub-plans (same rationale as extract_entities)
    staged = materialize(staged)
    e = entities_from_detected(staged)
    conns = pipeline.convert(
        e["stop_times"], e["trips"], e["routes"], e["stops"],
        e["calendar"], e["calendar_dates"],
        feed_tz=feed_tz, salt_n=salt_n,
    )
    delta = store.differential(conns, before_snapshot=batch_id)
    # persist: consumed twice (output + history commit)
    delta = materialize(delta)
    jsonld = sinks.connections_to_jsonld(delta, URIStrategy(feed_tz=feed_tz))
    sinks.jsonld_lines(jsonld).write.mode("overwrite").text(
        f"{output_dir}/batch={batch_id}"
    )
    store.commit(
        delta, run_info={"stream_batch_id": batch_id}, snapshot_id=batch_id
    )


def start_incremental_conversion(
    spark: SparkSession,
    pages_dir: str,
    output_dir: str,
    history_dir: str,
    stream_checkpoint_dir: str,
    staging_dir: str | None = None,
    feed_tz: str = FEED_TIMEZONE_DEFAULT,
    salt_n: int | None = 16,
    available_now: bool = True,
) -> StreamingQuery:
    """Stream pages -> append newly-discovered connection JSON-LD lines
    under ``output_dir/batch=N`` (read them with a ``batch=*`` glob)."""
    store = HistoryStore(spark, history_dir)
    staging_dir = staging_dir or f"{stream_checkpoint_dir}_staging"

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        process_pages_batch(
            spark, batch, batch_id, store, staging_dir, output_dir,
            feed_tz=feed_tz, salt_n=salt_n,
        )

    writer = (
        read_pages_stream(spark, pages_dir)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", stream_checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# ---------------------------------------------------------------------------
# Streaming corpus dedup: the live twin of datapipe/incremental.py.
# Same exactly-once protocol as the connection stream above — every
# effect of batch N keyed by N with overwrite semantics, delta computed
# against history snapshots < N only.

DOCS_STREAM_SCHEMA = (
    "doc_id bigint, text string, lang string, source string, n_chars bigint"
)


def process_docs_batch(
    batch: DataFrame,
    batch_id: int,
    store,
    output_dir: str,
) -> None:
    """One idempotent corpus-dedup micro-batch: within-batch min-id
    winners + anti-join against the fingerprint history of EARLIER
    batches (``before_snapshot=batch_id`` — a crash-replayed batch
    recomputes its original delta even after its own commit landed),
    survivors written to ``output_dir/batch=N`` (overwrite), fingerprint
    snapshot committed LAST (metrics file = commit marker). Public so
    tests can drive crash/replay without a streaming query."""
    from .datapipe.incremental import commit_batch, dedupe_batch

    if batch.isEmpty():
        return
    survivors = materialize(dedupe_batch(batch, store, before_snapshot=batch_id))
    survivors.write.mode("overwrite").parquet(f"{output_dir}/batch={batch_id}")
    commit_batch(survivors, store, snapshot_id=batch_id)


def start_corpus_dedup_stream(
    spark: SparkSession,
    docs_dir: str,
    output_dir: str,
    history_dir: str,
    stream_checkpoint_dir: str,
    schema: str = DOCS_STREAM_SCHEMA,
    available_now: bool = True,
) -> StreamingQuery:
    """Stream a growing documents directory -> append cross-batch-unique
    documents (with their ``fp``) under ``output_dir/batch=N``. The
    history side is the skinny fingerprint store — per-trigger cost is
    one fingerprint scan of the batch plus an anti-join against every
    earlier batch's fingerprint snapshot (the store keeps one snapshot
    per batch; nothing merges them)."""
    from .datapipe.incremental import CorpusDedupStore

    store = CorpusDedupStore(spark, history_dir)

    def process(batch: DataFrame, batch_id: int) -> None:
        process_docs_batch(batch, batch_id, store, output_dir)

    writer = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "4")
        .parquet(docs_dir)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", stream_checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
