"""Physical-plan regression tests: the properties that make this engine
viable at 100 TB must not silently regress (see PLANS.md)."""

import pytest

from gtfs2lc_spark import extraction, fixtures, pipeline, sinks


@pytest.fixture(scope="module")
def pages_parquet(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("pages") / "pq")
    fixtures.pages_df(spark, noise_pages=10).write.parquet(d)
    return d


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_scan_pushdown_and_pruning(spark, pages_parquet):
    """The GTFS-marker prefilter and the (url, warc_ts, text)
    projection must reach the parquet scan — html/lang are never read
    (warc_ts is read for the newest-crawl-per-url dedup)."""
    det = extraction.detect_pages(spark.read.parquet(pages_parquet))
    plan = _executed_plan(det)
    assert "StringStartsWith(text,#gtfs-file:)" in plan
    scan_line = next(l for l in plan.split("\n") if "FileScan parquet" in l)
    assert "ReadSchema: struct<url:string,warc_ts:timestamp,text:string>" in scan_line
    assert "html" not in scan_line


def test_detector_runs_once_behind_a_hash_exchange(spark, pages_parquet):
    """The pandas-UDF detector is planned once: its hit filter tests the
    newest-crawl aggregate, so Catalyst cannot push a second copy of the
    UDF into the scan stage. The Python stage sits behind the url-hashed
    exchange (AQE-coalescable), not a fixed round-robin one."""
    det = extraction.detect_pages(spark.read.parquet(pages_parquet))
    det.collect()
    final = _executed_plan(det).split("== Initial Plan ==")[0]
    assert final.count("ArrowEvalPython") == 1, final
    assert "RoundRobinPartitioning" not in final, final


def test_embedding_neardup_plan_has_no_cartesian(spark):
    """The blocked near-dup must stay equi-join-only: no all-pairs
    CartesianProduct/BroadcastNestedLoopJoin anywhere in the plan
    (VERDICT r1 scale-killer fix)."""
    from gtfs2lc_spark.datapipe import similarity

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    nd = similarity.embedding_near_duplicates(
        e, threshold=0.15, dim=64, n_planes=6, n_tables=4, seed=7
    )
    plan = _executed_plan(nd)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pipeline_plan_is_broadcast_only(spark, pages_parquet):
    """No SortMergeJoin anywhere; dimension enrichment is all broadcast;
    the exploded connections never shuffle (only rule-sized exchanges)."""
    e = extraction.extract_entities(spark.read.parquet(pages_parquet))
    tr = sinks.connections_to_triples(
        pipeline.convert(
            e["stop_times"], e["trips"], e["routes"], e["stops"],
            e["calendar"], e["calendar_dates"], salt_n=16,
        )
    )
    plan = _executed_plan(tr)
    assert "SortMergeJoin" not in plan
    # the J4 services lookup under both J7 branches, and the J7 anti and
    # semi probes (the rule table is materialized, so its joins are not here)
    assert plan.count("BroadcastHashJoin") >= 4
    # structural check: no Exchange appears above (closer to root than)
    # the dates explode in any subtree — i.e. exploded rows never
    # shuffle; approximate tree position via indentation:
    lines = plan.split("\n")
    # the invariant concerns the FINAL 180x service-date explode (J6);
    # the J7 dedupe's dup-group branch explodes dirty rules' dates
    # below the salt exchange — ALLOWED: it carries zero rows unless
    # duplicated uniqueIds exist, and those rows are rare by
    # construction. Match the FACT explode by its output alias: nested
    # column pruning leaves only the struct alias on the Generate line.
    explode_idx = [
        i for i, l in enumerate(lines) if "Generate explode" in l and "[_sd#" in l
    ]
    assert explode_idx, "service_date explode missing from plan"
    for i in explode_idx:
        depth = len(lines[i]) - len(lines[i].lstrip(" +-:"))
        # everything ABOVE the explode at shallower depth up to the root
        for j in range(i - 1, -1, -1):
            dj = len(lines[j]) - len(lines[j].lstrip(" +-:"))
            if dj < depth and "Exchange" in lines[j]:
                raise AssertionError(
                    f"exchange above the explode (line {j}): {lines[j].strip()}"
                )


def test_convert_plan_starts_at_materialized_rules(spark, feed):
    """convert() materializes the rule table once, so the W1 lag window
    and its dimension broadcasts are not re-planned under each of the
    J7 dedupe's three reads of the rules: the connections' executed
    plan holds no Window node."""
    conns = pipeline.convert(
        feed["stop_times"], feed["trips"], feed["routes"], feed["stops"],
        feed["calendar"], feed["calendar_dates"], salt_n=16,
    )
    plan = _executed_plan(conns)
    assert "Window" not in plan, plan


def test_stops_are_broadcast_once(spark, feed):
    """The departure and arrival stop lookups join one stops dimension
    under two aliases, so the executed rules plan broadcasts stops once
    and reuses that exchange for the second role."""
    rules = pipeline.stop_times_to_rules(
        feed["stop_times"], feed["trips"], feed["routes"], feed["stops"]
    )
    rules.collect()
    final = _executed_plan(rules).split("== Initial Plan ==")[0].split("\n")
    reused = [l for l in final if "ReusedExchange" in l]
    assert len(reused) == 1 and "BroadcastExchange" in reused[0], reused
    plan_id = reused[0].rsplit("[plan_id=", 1)[1]
    src = next(
        i for i, l in enumerate(final)
        if "ReusedExchange" not in l and "BroadcastExchange" in l and f"[plan_id={plan_id}" in l
    )
    assert "stop_code" in "\n".join(final[src:src + 4]), final[src:src + 4]
    # one broadcast each for stops, trips and routes
    assert sum("ReusedExchange" not in l and "BroadcastExchange" in l for l in final) == 3


def test_dense_index_has_no_global_window(spark):
    """W4 scale fix: the framed message counter must rank within range
    partitions (partitionBy _pid), never in one global empty-partition
    window."""
    from pyspark.sql import functions as F

    from gtfs2lc_spark import sinks

    e = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    out = sinks.dense_index(e.select("event_id", "ts"), ["ts", "event_id"], n_parts=8)
    plan = _executed_plan(out)
    # r6 shape: row_number within _pid buckets over the DISTINCT key
    # set (keys are unique there, so row_number == dense_rank), and the
    # full-width input attaches via a hash join — never a sort-merge
    # join, which would re-introduce the full-width sort the distinct
    # rewrite removed, and never a global single-partition window.
    window_lines = [l for l in plan.split("\n") if "Window" in l and "row_number" in l]
    assert window_lines
    assert all("_pid" in l for l in window_lines)
    assert "SortMergeJoin" not in plan
    # and values are the true global dense index
    rows = sorted((r.ts, r.event_id, r._dense_idx) for r in out.collect())
    assert [r[2] for r in rows] == list(range(len(rows)))


def test_w1_window_shuffle_is_aqe_exempt(spark, feed):
    """The W1 lag-window shuffle must be an explicit-numPartitions
    exchange (REPARTITION_BY_NUM): stop_times are tiny in bytes, so a
    plain window exchange would be AQE-coalesced to ONE task carrying
    the window + broadcast joins + uniqueId derivation serially
    (profiled 7s single-task stage; the round-3 scaling root cause)."""
    rules = pipeline.stop_times_to_rules(
        feed["stop_times"], feed["trips"], feed["routes"], feed["stops"]
    )
    plan = _executed_plan(rules)
    repart_lines = [
        l for l in plan.split("\n")
        if "Exchange hashpartitioning" in l and "REPARTITION_BY_NUM" in l
    ]
    assert any(
        "feed_id" in l and "trip_id" in l for l in repart_lines
    ), plan


def test_packing_plan_shapes(spark):
    """doc_chunks is shuffle-free (pure narrow chunking — the property
    that makes it a single scan at 100 TB); seq_pack shuffles exactly
    once, on the shard key (the per-shard prefix sum), with no
    SortMergeJoin or cartesian anywhere."""
    from gtfs2lc_spark.datapipe import packing

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    chunk_plan = _executed_plan(packing.doc_chunks(docs, chunk_tokens=16))
    assert "Exchange" not in chunk_plan

    pack_plan = _executed_plan(packing.seq_pack(docs, seq_tokens=64, n_shards=4))
    assert pack_plan.count("Exchange hashpartitioning") == 1
    assert "shard" in pack_plan
    assert "SortMergeJoin" not in pack_plan
    assert "CartesianProduct" not in pack_plan


def test_bgp_match_plan_is_equijoin_only(spark):
    """The BGP planner's left-deep chain must be equi-joins on shared
    variables — a disconnected-group cartesian can't sneak in, and the
    constant filters must sit under the joins, not above them."""
    from gtfs2lc_spark import kg

    t = spark.createDataFrame(
        [("a", "type", "P"), ("a", "knows", "b"), ("b", "type", "P")],
        "subj string, pred string, obj string",
    )
    q = kg.bgp_match(
        t,
        [("?p", "type", "P"), ("?p", "knows", "?q"), ("?q", "type", "P")],
    )
    plan = _executed_plan(q)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pmi_topk_plan_is_take_ordered(spark):
    """pmi_collocations' global top-k must compile to
    TakeOrderedAndProject (per-partition heaps + driver merge), never
    a full global sort exchange."""
    from gtfs2lc_spark.datapipe import text

    df = spark.createDataFrame([("a b c a b",)], "text string")
    plan = _executed_plan(text.pmi_collocations(df, min_count=1, top_k=5))
    assert "TakeOrderedAndProject" in plan


def test_triangles_plan_has_no_cartesian(spark):
    from gtfs2lc_spark import kg

    df = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], "src int, dst int")
    plan = _executed_plan(kg.triangles(df))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_quantile_bins_broadcasts_thresholds(spark):
    """The curriculum binning join must broadcast the handful of
    per-group threshold rows — the corpus side must never sort-merge
    (a SMJ here would shuffle every document to bucket it)."""
    from gtfs2lc_spark.datapipe import text as t

    d = spark.createDataFrame(
        [(i, "en", "w " * (i + 1)) for i in range(20)],
        "doc_id bigint, lang string, text string",
    )
    plan = _executed_plan(t.quantile_bins(d))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_fingerprint_containment_broadcasts_benchmark(spark):
    """Contamination joins must broadcast the eval set: the corpus
    side is 10^12 rows, the benchmark a few MB of fingerprints."""
    from gtfs2lc_spark.datapipe import text as t

    d = spark.createDataFrame(
        [(i, "some benchmark text long enough here okay") for i in range(10)],
        "doc_id bigint, text string",
    )
    bench = d.limit(2).selectExpr("doc_id AS bench_id", "text")
    plan = _executed_plan(t.fingerprint_containment(d, bench, hash_fn="md5"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_contrastive_pairs_no_cartesian(spark):
    from gtfs2lc_spark.datapipe import curate

    d = spark.createDataFrame(
        [(i, f"text body number {i} with words") for i in range(12)],
        "doc_id bigint, text string",
    )
    plan = _executed_plan(curate.contrastive_pairs(d, hash_fn="md5"))
    assert "CartesianProduct" not in plan
    # the only nested-loop join allowed is negative_samples' 1-row
    # corpus-count broadcast (IdentityBroadcastMode scalar attach);
    # an all-pairs BNLJ between fact-sized sides would not be identity
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert "BuildRight" in line or "BuildLeft" in line
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_duplicated_spans_plan_no_cartesian_and_one_merge_exchange(spark):
    """The span detector must stay equi-join only (the dedup keys are
    shingle hash and substring — never a cross product), and the whole
    gaps-and-islands interval merge (lag window + running sum + span
    rollup) must reuse ONE doc-keyed exchange."""
    from gtfs2lc_spark.datapipe import dedup

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _executed_plan(dedup.duplicated_spans(d, min_len=40))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # exchanges: one per dedup agg/join key (hash count, hash semi,
    # substring count, substring semi) + exactly ONE for the merge —
    # hashpartitioning on doc_id appears once
    doc_exchanges = [
        l for l in plan.split("\n")
        if "Exchange hashpartitioning(doc_id" in l
    ]
    assert len(doc_exchanges) == 1, plan


def test_stratified_sample_plan_single_exchange(spark):
    """Exact stratified sampling: rank window + stratum-count window
    share one strata-keyed exchange; no join, no extra shuffle."""
    from gtfs2lc_spark.datapipe import text as t

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _executed_plan(t.stratified_sample(d, strata_col="lang", fraction=0.3))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan


def test_semantic_dedup_plan_no_cartesian(spark):
    """SemDeDup's pair search must stay an equi-join on the cluster id
    — never a global cross product."""
    from gtfs2lc_spark.datapipe import similarity

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = _executed_plan(similarity.semantic_dedup(e, threshold=0.3, n_centroids=4))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_j9_linking_plan_has_no_sort_merge_join(spark):
    """r6: the split/join link sides are structurally rare and now
    broadcast; without the hints every one of these joins was a
    SortMergeJoin that shuffled + sorted the full connection set even
    when the rare side was empty."""
    from pyspark.sql import functions as F

    from gtfs2lc_spark import postprocess

    jsonld = spark.createDataFrame(
        [
            ("c1", "t1", "2024-01-01T00:00:00.000Z", "2024-01-01T00:10:00.000Z",
             "r1", "A", "B", "gtfs:Regular", "gtfs:Regular"),
            ("c2", "t1", "2024-01-01T00:10:00.000Z", "2024-01-01T00:20:00.000Z",
             "r1", "B", "C", "gtfs:Regular", "gtfs:Regular"),
        ],
        "id string, gtfs_trip string, departureTime string, arrivalTime string, "
        "gtfs_route string, departureStop string, arrivalStop string, "
        "gtfs_pickupType string, gtfs_dropOffType string",
    )
    linked = postprocess.link_next_connections(
        postprocess.merge_movements(jsonld)
    )
    plan = linked._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    got = {r.id: r.nextConnection for r in linked.collect()}
    assert got["c1"] == ["c2"] and got["c2"] is None
