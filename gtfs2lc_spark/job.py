"""spark-submit entrypoint: pages table -> Linked Connections outputs.

CLI parity with the reference's ``gtfs2lc`` command (bin/gtfs2lc.js):
format selection, custom base URIs, fresh vs incremental conversion —
re-expressed for a cluster:

    spark-submit --py-files gtfs2lc_spark.zip -m gtfs2lc_spark.job \\
        --pages /path/to/pages_parquet \\
        --output /path/out --format jsonld \\
        --base-uris baseUris.json --history /path/history [--fresh] \\
        [--join-and-sort] [--feed-tz Europe/Brussels] [--salt 64]

With ``--synthesize-feeds N`` (no --pages) the job generates the
deterministic fixture pages table — the sandbox path; on a real
cluster --pages points at the Iceberg/parquet pages table.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from pyspark.sql import DataFrame, SparkSession  # noqa: F401

# absolute imports: spark-submit executes this file as a top-level
# script (no package parent), with the package zip on --py-files
from gtfs2lc_spark import FEED_TIMEZONE_DEFAULT, fixtures, pipeline, postprocess, sinks
from gtfs2lc_spark.checkpoint import HistoryStore
from gtfs2lc_spark.extraction import extract_entities
from gtfs2lc_spark.schemas import PAGES_SCHEMA
from gtfs2lc_spark.session import build_session, cds_state, stop_session
from gtfs2lc_spark.uris import URIStrategy

# the reference's format whitelist (lib/gtfs2connections.js:29-38) minus
# 'jelly' (binary framing out of scope per BASELINE.json), plus the
# Spark-native 'triples-parquet' staging format
FORMATS = ("json", "jsonld", "mongo", "mongold", "csv", "turtle", "ntriples",
           "triples-parquet")


# formatExtension (lib/gtfs2connections.js:147-153): json/mongo/jsonld/
# mongold ALL map to 'json' — the merged file is linkedConnections.json
# for every JSON-shaped format, so downstream consumers of the
# reference's filenames work unchanged
FORMAT_EXT = {
    "json": "json", "mongo": "json", "jsonld": "json", "mongold": "json",
    "csv": "csv", "turtle": "ttl", "ntriples": "nt",
}


def merge_shards(
    shards_dir: str, dest: str, header: str | None, gz: bool = False
) -> None:
    """Driver-side shard concat (S7, mergeWorkerOutput): header line(s)
    first, then every part file in name order. Streaming copy — the
    driver never holds more than one buffer. Binary mode throughout:
    Spark shards are UTF-8 and the merge is a pure byte concat, so the
    locale default encoding (e.g. LANG=C) must never touch the bytes."""
    import glob
    import gzip
    import shutil

    opener = gzip.open if gz else open
    with opener(dest, "wb") as w:
        if header is not None:
            w.write(header.encode("utf-8") + b"\n")
        for part in sorted(glob.glob(f"{shards_dir}/part-*")):
            with open(part, "rb") as r:
                shutil.copyfileobj(r, w)
    # the reference deletes worker intermediates after the merge
    # (cleanIntermediateFiles, lib/gtfs2connections.js:234-248)
    shutil.rmtree(shards_dir, ignore_errors=True)


def format_header(fmt: str) -> str | None:
    """The once-only worker-0 header line(s) for a format (O5):
    CSV column header, jsonld/mongold @context record, Turtle
    version+prefixes, N-Triples version line."""
    if fmt == "csv":
        return sinks.CSV_HEADER
    if fmt in ("jsonld", "mongold"):
        return json.dumps(sinks.JSONLD_CONTEXT, separators=(",", ":"))
    if fmt == "turtle":
        return sinks.turtle_header()
    if fmt == "ntriples":
        return sinks.NTRIPLES_VERSION_LINE
    return None


def build_outputs(
    conns: DataFrame,
    fmt: str,
    uris: URIStrategy,
    join_and_sort: bool,
    message_counter: bool = False,
) -> DataFrame:
    if fmt == "csv":
        return sinks.connections_to_csv_rows(conns)
    if fmt == "json":
        # reference 'json' = raw Connection objects (CLI default,
        # bin/gtfs2lc.js:19-22), distinct from compacted JSON-LD
        return sinks.raw_json_lines(conns)
    if fmt == "mongo":
        return sinks.mongo_lines(conns)
    if fmt in ("jsonld", "mongold"):
        jsonld = sinks.connections_to_jsonld(conns, uris)
        if join_and_sort:
            jsonld = postprocess.join_and_sort(
                jsonld.drop("feed_id", "type", "departure_ts", "arrival_ts")
            )
        if fmt == "mongold":
            return sinks.mongold_lines(jsonld)
        return sinks.jsonld_lines(jsonld)
    if fmt == "turtle":
        if message_counter:
            # W4 framed output: one Turtle line IS one message; message
            # order = the counter's total order over connection URIs,
            # so an orderBy on the subject (range partition, no single
            # reducer) emits the framed message log
            return sinks.turtle_message_lines(
                conns.orderBy(uris.connection_id()), uris
            )
        return sinks.turtle_message_lines(conns, uris)
    triples = sinks.connections_to_triples(conns, uris)
    if fmt == "ntriples":
        if message_counter:
            # framed N-Triples: triples grouped by message in counter
            # order — the counter is the dense rank of subj, so a range
            # sort on (subj, pred) emits the same log without computing it
            triples = triples.orderBy("subj", "pred")
        return sinks.triples_to_ntriples_lines(triples)
    if message_counter:
        return sinks.triples_with_message_counter(conns, uris)
    return triples  # triples-parquet


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--pages", help="path to pages parquet/Iceberg table")
    ap.add_argument("--gtfs-dir",
                    help="plain GTFS feed directory (the reference CLI's "
                         "own input mode: gtfs2lc <path>, bin/gtfs2lc.js:13-50)")
    ap.add_argument("--synthesize-feeds", type=int, default=0)
    ap.add_argument("--output", required=True)
    ap.add_argument("--format", default="jsonld", choices=FORMATS)
    ap.add_argument("--base-uris", help="baseUris JSON file (URIStrategy config)")
    ap.add_argument("--feed-scoped-uris", action="store_true",
                    help="namespace default URIs by feed_id (multi-feed corpora)")
    ap.add_argument("--history", help="history store path for incremental runs")
    ap.add_argument("--fresh", action="store_true")
    ap.add_argument("--join-and-sort", action="store_true")
    ap.add_argument("--message-counter", action="store_true",
                    help="RDF 1.2 message-log framing for turtle/ntriples/"
                         "triples-parquet (W4): message-ordered text output; "
                         "triples-parquet keeps the message_counter column")
    ap.add_argument("--feed-tz", default=FEED_TIMEZONE_DEFAULT)
    ap.add_argument("--salt", type=int, default=pipeline.DEFAULT_SALT_N)
    ap.add_argument("--compressed", action="store_true",
                    help="gzip text output (S6, reference --compressed)")
    ap.add_argument("--single-file", action="store_true",
                    help="driver-side shard merge like the reference's worker-merge (S7)")
    ap.add_argument("--audit-missing-refs", action="store_true",
                    help="count stop_times rows dropped by unresolved "
                         "stop/trip/route keys (the reference crashes on these; "
                         "we drop-and-count) into the run summary")
    return ap.parse_args(argv)


def run(spark: SparkSession, args: argparse.Namespace) -> dict:
    """Execute one conversion on an existing session (testable core of
    ``main``); returns the run-summary dict the CLI prints."""
    t0 = time.time()

    if args.gtfs_dir:
        from gtfs2lc_spark.sources import read_gtfs_dir

        e = read_gtfs_dir(spark, args.gtfs_dir)
    else:
        if args.pages:
            # the input contract fixes the five columns: a pinned schema
            # skips the footer-inference job and resolves them by name
            pages = spark.read.schema(PAGES_SCHEMA).parquet(args.pages)
        elif args.synthesize_feeds:
            pages = fixtures.pages_df_scaled(spark, args.synthesize_feeds, noise_pages=40)
        else:
            raise ValueError("need --pages, --gtfs-dir or --synthesize-feeds")
        e = extract_entities(pages)
    conns = pipeline.convert(
        e["stop_times"], e["trips"], e["routes"], e["stops"],
        e["calendar"], e["calendar_dates"],
        feed_tz=args.feed_tz, salt_n=args.salt or None,
    )

    base_uris = None
    if args.base_uris:
        with open(args.base_uris) as f:
            base_uris = json.load(f)
    elif args.feed_scoped_uris:
        from gtfs2lc_spark.uris import FEED_SCOPED_BASE_URIS

        base_uris = FEED_SCOPED_BASE_URIS
    uris = URIStrategy(base_uris, args.feed_tz)
    header = format_header(args.format)

    def write(conns: DataFrame) -> None:
        out = build_outputs(
            conns, args.format, uris, args.join_and_sort,
            message_counter=args.message_counter,
        )
        if args.format == "triples-parquet":
            out.write.mode("overwrite").parquet(args.output)
        elif args.single_file:
            # S7: the reference merges worker shards into ONE file on the
            # main thread, worker 0 (and thus the header/@context) first
            # (mergeWorkerOutput, lib/gtfs2connections.js:155-184). Same
            # here: write shards, driver-concat in shard order.
            shards_dir = f"{args.output}/_shards"
            out.write.mode("overwrite").text(shards_dir)
            ext = FORMAT_EXT.get(args.format, "txt") + (".gz" if args.compressed else "")
            merge_shards(shards_dir, f"{args.output}/linkedConnections.{ext}",
                         header, gz=args.compressed)
        else:
            writer = out.write.mode("overwrite")
            if args.compressed:
                writer = writer.option("compression", "gzip")
            writer.text(args.output)
            if header is not None:
                # O5: header emitted once, driver-side (reference: only
                # worker 0 streams the header / @context / @version —
                # lib/Connections2CSV.js:12-17, lib/gtfs2connections.js:265-294).
                # '_'-prefixed: sorts first for cat, ignored by Spark readers.
                with open(f"{args.output}/_header.txt", "w") as f:
                    f.write(header + "\n")

    snap = None
    if args.history:
        store = HistoryStore(spark, args.history)
        if args.fresh:
            store.fresh()
        snap = store.emit(conns, write, {"format": args.format, "output": args.output})
    else:
        write(conns)

    quarantine = None
    if args.audit_missing_refs:
        quarantine = [
            {"feed_id": r.feed_id, "missing_kind": r.missing_kind, "n_rows": r.n_rows}
            for r in pipeline.dimension_quarantine(
                e["stop_times"], e["trips"], e["routes"], e["stops"]
            ).collect()
        ]

    # reference logs "<file> created in <ms> ms" (lib/gtfs2connections.js:95-97)
    return {
        "output": args.output,
        "format": args.format,
        "elapsed_ms": int((time.time() - t0) * 1000),
        "snapshot": snap.metrics if snap else None,
        "missing_refs": quarantine,
        "cds": cds_state(spark),
    }


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    spark = build_session(app_name="gtfs2lc-spark-job")
    msg = run(spark, args)
    print(json.dumps(msg))
    stop_session(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())
