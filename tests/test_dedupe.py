"""J7 fresh-run dedup semantics (reference st2c.js:134-181; SURVEY §7.4
risk 6): identical movements (same uniqueId — note uniqueId omits
trip_id) emit each service date once, first rule in stream order wins;
a later rule with extra dates emits only the new dates."""

from pyspark.sql import functions as F

from gtfs2lc_spark import pipeline


def test_twin_trip_dedup(entity_frame):
    stop_times = entity_frame(
        "stop_times.txt",
        ["trip_id", "arrival_time", "departure_time", "stop_id", "stop_sequence",
         "stop_headsign", "pickup_type", "drop_off_type", "shape_dist_traveled"],
        [
            ("T1", "8:00:00", "8:00:00", "S1", "1", "", "", "", ""),
            ("T1", "9:00:00", "9:00:00", "S2", "2", "", "", "", ""),
            # twin trip: identical movement -> identical uniqueId
            ("T2", "8:00:00", "8:00:00", "S1", "1", "", "", "", ""),
            ("T2", "9:00:00", "9:00:00", "S2", "2", "", "", "", ""),
        ],
    )
    trips = entity_frame(
        "trips.txt",
        ["route_id", "service_id", "trip_id", "trip_headsign", "direction_id",
         "block_id", "shape_id"],
        [("R", "SVC_A", "T1", "", "", "", ""), ("R", "SVC_B", "T2", "", "", "", "")],
    )
    routes = entity_frame(
        "routes.txt",
        ["route_id", "agency_id", "route_short_name", "route_long_name", "route_desc",
         "route_type", "route_url", "route_color", "route_text_color"],
        [("R", "A", "1", "Long Name", "", "3", "", "", "")],
    )
    stops = entity_frame(
        "stops.txt",
        ["stop_id", "stop_name", "stop_desc", "stop_lat", "stop_lon", "zone_id", "stop_url"],
        [("S1", "", "", "", "", "", ""), ("S2", "", "", "", "", "", "")],
    )
    # SVC_A: mon+tue of one week; SVC_B: tue+wed (overlap tue)
    calendar = entity_frame(
        "calendar.txt",
        ["service_id", "monday", "tuesday", "wednesday", "thursday", "friday",
         "saturday", "sunday", "start_date", "end_date"],
        [
            ("SVC_A", "1", "1", "0", "0", "0", "0", "0", "20070101", "20070107"),
            ("SVC_B", "0", "1", "1", "0", "0", "0", "0", "20070101", "20070107"),
        ],
    )
    calendar_dates = entity_frame("calendar_dates.txt", ["service_id", "date", "exception_type"], [])

    conns = pipeline.convert(
        stop_times, trips, routes, stops, calendar, calendar_dates,
        salt_n=None,
    )
    rows = conns.select("trip_id", "service_date").collect()
    got = {(r.trip_id, r.service_date) for r in rows}
    # T1 (first in stream order) keeps mon(0101)+tue(0102);
    # T2 emits only its new date wed(0103) — tue deduped away.
    assert got == {("T1", "20070101"), ("T1", "20070102"), ("T2", "20070103")}
    # the history store writes these keys as is: J7 leaves them unique
    keys = conns.select("feed_id", "unique_id", "service_date")
    assert keys.count() == keys.distinct().count() == 3


def test_connected_components_chain_and_islands(spark):
    """Min-label propagation over a chain (a-b, b-c, c-d), a separate
    2-clique, and an untouched singleton (absent from pairs)."""
    from gtfs2lc_spark.datapipe import dedup

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    got = {r.id: r.cluster_id for r in dedup.connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_near_duplicate_clusters_keep_policy(spark):
    """Duplicate docs cluster together; exactly one keeper (min id) per
    cluster; unpaired docs are singleton keepers."""
    from pyspark.sql import functions as F

    from gtfs2lc_spark.datapipe import dedup

    text = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [(1, text), (2, text + " ok"), (7, text), (9, "completely different words entirely unrelated content here now")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: (r.cluster_id, r.keep) for r in
           dedup.near_duplicate_clusters(df, threshold=0.5).collect()}
    assert out[1] == (1, True)
    assert out[7] == (1, False)
    assert out[9] == (9, True)
    assert out[2][0] in (1, 2)  # near-dup of 1 at this threshold or its own
    # exactly one keeper per cluster
    from collections import defaultdict
    keepers = defaultdict(int)
    for cid, keep in out.values():
        keepers[cid] += keep
    assert all(v == 1 for v in keepers.values())


def test_connected_components_nonconvergence_is_loud(spark):
    """VERDICT r2 item 4: exhausting max_iters with labels still
    changing must raise (strict default) or warn (strict=False), never
    silently return partial clusters; fixpoint behavior unchanged when
    the round budget suffices."""
    import pytest

    from gtfs2lc_spark.datapipe import dedup

    # a 16-node chain has diameter 15: min-label propagation moves the
    # 0-label one hop per round, so 5 rounds cannot converge
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(15)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(pairs, max_iters=5)
    with pytest.warns(RuntimeWarning, match="did not converge"):
        partial = dedup.connected_components(pairs, max_iters=5, strict=False)
    assert partial.count() == 16  # labels still returned, but loudly partial

    full = {
        r.id: r.cluster_id
        for r in dedup.connected_components(pairs, max_iters=20).collect()
    }
    assert full == {i: 0 for i in range(16)}


def test_connected_components_converges_exactly_at_budget(spark):
    """Boundary case: component diameter == max_iters. The final
    budgeted round completes the propagation; the probe round must
    recognize convergence instead of raising on correct labels."""
    from gtfs2lc_spark.datapipe import dedup

    # 9-node chain: diameter 8 -> label 0 reaches node 8 on round 8
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "id_a long, id_b long"
    )
    got = {
        r.id: r.cluster_id
        for r in dedup.connected_components(pairs, max_iters=8).collect()
    }
    assert got == {i: 0 for i in range(9)}


def test_thousand_duplicate_rules_route_linear_path(entity_frame):
    """VERDICT r3 #5: a hostile feed with 1,000 identical-movement
    trips (one uniqueId group of 1,000 rules) must stay LINEAR — dup
    groups take the min-rule aggregate per (uniqueId, date), g x dates
    rows, never an O(g^2)-cell prefix-union — with exact J7 semantics:
    the first rule in (trip_id, stop_sequence) order keeps its dates,
    later rules emit only dates unseen so far."""
    n = 1_000
    st_rows, trip_rows, cal_rows = [], [], []
    for i in range(n):
        t = f"T{i:04d}"
        st_rows += [
            (t, "8:00:00", "8:00:00", "S1", "1", "", "", "", ""),
            (t, "9:00:00", "9:00:00", "S2", "2", "", "", "", ""),
        ]
        # every trip its own service: T0000 runs mon, all others run
        # mon+tue — so T0000 (first in order) claims mon, T0001 claims
        # tue, every later trip emits NOTHING
        svc = f"SV{i:04d}"
        trip_rows.append(("R", svc, t, "", "", "", ""))
        cal_rows.append(
            (svc, "1", "1" if i > 0 else "0", "0", "0", "0", "0", "0",
             "20070101", "20070107")
        )
    stop_times = entity_frame(
        "stop_times.txt",
        ["trip_id", "arrival_time", "departure_time", "stop_id", "stop_sequence",
         "stop_headsign", "pickup_type", "drop_off_type", "shape_dist_traveled"],
        st_rows,
    )
    trips = entity_frame(
        "trips.txt",
        ["route_id", "service_id", "trip_id", "trip_headsign", "direction_id",
         "block_id", "shape_id"],
        trip_rows,
    )
    routes = entity_frame(
        "routes.txt",
        ["route_id", "agency_id", "route_short_name", "route_long_name", "route_desc",
         "route_type", "route_url", "route_color", "route_text_color"],
        [("R", "A", "1", "Long Name", "", "3", "", "", "")],
    )
    stops = entity_frame(
        "stops.txt",
        ["stop_id", "stop_name", "stop_desc", "stop_lat", "stop_lon", "zone_id", "stop_url"],
        [("S1", "", "", "", "", "", ""), ("S2", "", "", "", "", "", "")],
    )
    calendar = entity_frame(
        "calendar.txt",
        ["service_id", "monday", "tuesday", "wednesday", "thursday", "friday",
         "saturday", "sunday", "start_date", "end_date"],
        cal_rows,
    )
    calendar_dates = entity_frame("calendar_dates.txt", ["service_id", "date", "exception_type"], [])

    conns = pipeline.convert(
        stop_times, trips, routes, stops, calendar, calendar_dates,
        salt_n=None,
    )
    got = {(r.trip_id, r.service_date) for r in conns.select("trip_id", "service_date").collect()}
    # first rule (T0000) claims mon; T0001 adds tue; 998 others add nothing
    assert got == {("T0000", "20070101"), ("T0001", "20070102")}
    keys = conns.select("feed_id", "unique_id", "service_date")
    assert keys.count() == keys.distinct().count() == 2
