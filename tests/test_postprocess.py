"""J8/J9 — join & sort post-processor vs the reference's
splittingAndJoiningTrips tests (/root/reference/test/
splittingAndJoiningTrips.test.js:18-64, current-code semantics)."""

import random

import pandas as pd
import pytest
from pyspark.sql import functions as F

from gtfs2lc_spark import postprocess

NA = postprocess.NA
SCHEMA = (
    "id string, departureStop string, arrivalStop string, "
    "departureTime string, arrivalTime string, gtfs_trip string, "
    "gtfs_route string, direction string, gtfs_pickupType string, "
    "gtfs_dropOffType string"
)


def _merge_group_pdf(pdf: pd.DataFrame) -> pd.DataFrame:
    """Exact sequential pairwise merge of one movement group, scanned in
    descending order (mergeMovement, sort.js:107-135)."""
    pdf = pdf.sort_values("id", ascending=False)
    rows = pdf.to_dict("records")
    for r in rows:
        r["joinedWithTrip"] = []
        r["willSplitInto"] = []
    out: list[dict] = []
    prev: dict | None = None
    for c in rows:
        if prev is None:
            prev = c
            continue
        merged = None
        c_pu, p_pu = c.get("gtfs_pickupType"), prev.get("gtfs_pickupType")
        c_do, p_do = c.get("gtfs_dropOffType"), prev.get("gtfs_dropOffType")
        if c_pu == NA and p_pu != NA:
            merged = prev
            merged["joinedWithTrip"].append(c["gtfs_trip"])
        elif p_pu == NA and c_pu != NA:
            merged = c
            merged["joinedWithTrip"].append(prev["gtfs_trip"])
        elif c_do == NA and p_do != NA:
            merged = prev
            merged["willSplitInto"].append(c["gtfs_trip"])
        elif p_do == NA and c_do != NA:
            merged = c
            merged["willSplitInto"].append(prev["gtfs_trip"])
        if merged is not None:
            prev = merged
            continue
        out.append(prev)
        prev = c
    if prev is not None:
        out.append(prev)
    return pd.DataFrame(out)


def _expected_merge(rows):
    """id -> (joinedWithTrip, willSplitInto) of the surviving rows, by
    running _merge_group_pdf over each movement group of ``rows``."""
    pdf = pd.DataFrame(rows, columns=SCHEMA.replace(" string", "").split(", "))
    want = {}
    for _, g in pdf.groupby(["departureTime", "arrivalTime", "gtfs_route",
                             "departureStop", "arrivalStop"], dropna=False):
        for r in _merge_group_pdf(g).to_dict("records"):
            want[r["id"]] = (tuple(r["joinedWithTrip"]), tuple(r["willSplitInto"]))
    return want


def _snap(out):
    return {
        r.id: (tuple(r.joinedWithTrip), tuple(r.willSplitInto))
        for r in out.collect()
    }


@pytest.fixture(scope="module")
def processed(spark, jsonld):
    base = jsonld.drop("feed_id", "type", "departure_ts", "arrival_ts")
    return postprocess.join_and_sort(base).cache()


def test_joined_trips_collapse(processed):
    """On one service day the shared D->E segment of the joining trips
    yields exactly ONE connection (test.js:18-42)."""
    d_departures = processed.where(
        (F.col("departureStop") == "http://example.org/stops/D")
        & F.col("departureTime").startswith("2007-02-17")
    ).collect()
    assert len(d_departures) == 1
    row = d_departures[0]
    assert "joining_trip_1" in row.gtfs_trip  # absorber keeps its identity


def test_merged_connection_count(processed, jsonld):
    """Joining trips share C->D and D->E on every WE day (51 days);
    splitting trips share Y->C on every W day (130 days)."""
    assert processed.count() == jsonld.count() - 2 * 51 - 130


def test_non_joining_splitting_trip_survives(processed):
    """Exact @id survives the merge (test.js:44-53)."""
    hit = processed.where(
        F.col("id")
        == "http://example.org/connections/20070216/C/non_joining_splitting_trip_3"
    ).collect()
    assert len(hit) == 1


def test_split_branch_links(processed):
    """The merged Y->C connection of the splitting trips links to BOTH
    continuations: trip_3's C->D and trip_4's C->BULLFROG."""
    row = processed.where(
        F.col("id")
        == "http://example.org/connections/20070216/Y/non_joining_splitting_trip_3"
    ).first()
    assert row is not None
    nxt = set(row.nextConnection or [])
    assert (
        "http://example.org/connections/20070216/C/non_joining_splitting_trip_3" in nxt
    )
    assert (
        "http://example.org/connections/20070216/C/non_joining_splitting_trip_4" in nxt
    )
    assert len(nxt) == 2


def test_joined_trip_inherits_next(processed):
    """trip_2's last surviving connection (Y->C) chains into the merged
    trip_1 connection at the join point (sort.js:157-163)."""
    row = processed.where(
        F.col("id") == "http://example.org/connections/20070217/Y/joining_trip_2"
    ).first()
    assert row is not None
    assert row.nextConnection == [
        "http://example.org/connections/20070217/C/joining_trip_1"
    ]


def test_per_trip_chain(processed):
    """Plain per-trip nextConnection chain: CITY1 connections on one day
    chain 4 -> 3 -> 2 -> 1 -> none."""
    day = processed.where(
        F.col("gtfs_trip").contains("/CITY1/")
        & F.col("departureTime").startswith("2007-01-02")
    ).orderBy("departureTime").collect()
    assert len(day) == 4
    for cur, nxt in zip(day, day[1:]):
        assert cur.nextConnection == [nxt.id]
    assert day[-1].nextConnection is None


def test_ascending_order(processed):
    """O2: output ascending by (departureTime, arrivalTime, route,
    depStop, arrStop, id), missing -> '' (sort.js:24-43)."""
    rows = processed.limit(2000).collect()
    keys = [
        tuple((getattr(r, k) or "") for k in postprocess.SORT_KEYS) for r in rows
    ]
    assert keys == sorted(keys)


def _mk_jsonld(spark, rows):
    """jsonld-shaped rows: (id, trip, pickup, dropoff) sharing ONE
    movement (same times/stops/route)."""
    data = [
        (
            rid, "http://x/stops/A", "http://x/stops/B",
            "2007-01-01T08:00:00.000Z", "2007-01-01T08:10:00.000Z",
            f"http://x/trips/{trip}", "http://x/routes/R1", None, pu, do,
        )
        for (rid, trip, pu, do) in rows
    ]
    return spark.createDataFrame(data, SCHEMA)


def test_three_way_join_collision_absorber_last(spark):
    """VERDICT r1 item 8: a 3-way same-movement collision (two
    NotAvailable-pickup joiners + one absorber). Reference semantics
    (mergeMovement, sort.js:107-135): the DESCENDING id scan is
    sequential first-match — with the absorber scanned LAST it absorbs
    both joiners into one connection."""
    df = _mk_jsonld(spark, [
        ("id_a_join2", "join2", "gtfs:NotAvailable", None),
        ("id_b_join1", "join1", "gtfs:NotAvailable", None),
        ("id_z_main", "main", None, None),   # highest id -> scanned first
    ])
    out = postprocess.merge_movements(df).collect()
    assert len(out) == 1
    row = out[0]
    assert row.gtfs_trip == "http://x/trips/main"
    # absorbed in descending-scan order: join1 (id_b) before join2 (id_a)
    assert row.joinedWithTrip == ["http://x/trips/join1", "http://x/trips/join2"]


def test_three_way_join_collision_absorber_first(spark):
    """Same 3 rows, but the absorber has the LOWEST id: the reference's
    sequential scan meets the two NA-pickup rows first (no rule matches
    between two NA rows), emits the first joiner unmerged, then the
    absorber absorbs only the second joiner. Order-dependent — and
    merge_movements must reproduce it exactly."""
    df = _mk_jsonld(spark, [
        ("id_a_main", "main", None, None),   # lowest id -> scanned last
        ("id_y_join1", "join1", "gtfs:NotAvailable", None),
        ("id_z_join2", "join2", "gtfs:NotAvailable", None),
    ])
    out = {r.id: r for r in postprocess.merge_movements(df).collect()}
    assert set(out) == {"id_z_join2", "id_a_main"}
    assert out["id_z_join2"].joinedWithTrip == []
    assert out["id_a_main"].joinedWithTrip == ["http://x/trips/join1"]


def test_three_way_split_collision(spark):
    """Split flavor: two NotAvailable-dropOff branches + one absorber
    scanned first -> one connection carrying both willSplitInto."""
    df = _mk_jsonld(spark, [
        ("id_a_br2", "branch2", None, "gtfs:NotAvailable"),
        ("id_b_br1", "branch1", None, "gtfs:NotAvailable"),
        ("id_z_main", "main", None, None),
    ])
    out = postprocess.merge_movements(df).collect()
    assert len(out) == 1
    assert out[0].willSplitInto == ["http://x/trips/branch1", "http://x/trips/branch2"]
    assert out[0].joinedWithTrip == []


def test_merge_matches_python_reference(spark):
    """Property check: merge_movements must reproduce _merge_group_pdf
    (the direct transcription of mergeMovement) exactly, over
    randomized collision groups of 1-12 rows with random NA
    pickup/dropOff flags, for several deterministic seeds."""
    rows = []
    gid = 0
    for seed in (7, 11, 23, 42, 99):
        rng = random.Random(seed)
        for size in list(range(1, 13)) * 4:
            gid += 1
            for i in range(size):
                rows.append((
                    f"id_{gid:04d}_{rng.randrange(1000):03d}_{i:02d}",
                    f"http://x/stops/D{gid}", f"http://x/stops/A{gid}",
                    f"2007-01-01T{gid % 24:02d}:00:00.000Z",
                    f"2007-01-01T{gid % 24:02d}:10:00.000Z",
                    f"http://x/trips/t{gid}_{i}", "http://x/routes/R", None,
                    rng.choice([None, NA, "gtfs:Regular"]),
                    rng.choice([None, NA, "gtfs:Regular"]),
                ))
    df = spark.createDataFrame(rows, SCHEMA)
    assert _snap(postprocess.merge_movements(df)) == _expected_merge(rows)


PILEUP_CLASSES = {
    # (pickup, dropOff) by row index; the scan visits the highest id first
    "same_class": lambda i: (NA, None),
    "cycling_classes": lambda i: [(None, None), (NA, None), (None, NA), (NA, NA)][i % 4],
}


@pytest.mark.parametrize("case", ["absorber", *PILEUP_CLASSES])
def test_mega_movement_group_bounded(spark, case):
    """VERDICT r2 item 3: a pathological identical-movement pile-up
    (100k rows sharing one movement key) must complete and keep exact
    mergeMovement semantics:

    - absorber: the absorber (highest id, scanned first in the
      descending scan) absorbs every NotAvailable-pickup row;
    - same_class: no two rows merge, so every row comes out;
    - cycling_classes: the class cycles through all four pickup/dropOff
      combinations (starts, takeovers, both list kinds), checked
      against _merge_group_pdf."""
    n = 100_000
    if case == "absorber":
        flags = [(NA, None)] * (n - 1)
    else:
        flags = [PILEUP_CLASSES[case](i) for i in range(n)]
    rows = [
        (f"id_{i:06d}", "http://x/stops/A", "http://x/stops/B",
         "2007-01-01T08:00:00.000Z", "2007-01-01T08:10:00.000Z",
         f"http://x/trips/t{i:06d}", "http://x/routes/R", None, pu, do)
        for i, (pu, do) in enumerate(flags)
    ]
    if case == "absorber":
        rows.append(("zz_main", "http://x/stops/A", "http://x/stops/B",
                     "2007-01-01T08:00:00.000Z", "2007-01-01T08:10:00.000Z",
                     "http://x/trips/main", "http://x/routes/R", None, None, None))
    got = _snap(postprocess.merge_movements(spark.createDataFrame(rows, SCHEMA)))
    if case == "absorber":
        assert list(got) == ["zz_main"]
        joined, split = got["zz_main"]
        assert len(joined) == n - 1 and split == ()
        # descending-scan absorption order: t099998, t099997, ...
        assert joined[0] == "http://x/trips/t099998"
        assert joined[-1] == "http://x/trips/t000000"
    elif case == "same_class":
        assert len(got) == n
        assert set(got.values()) == {((), ())}
    else:
        assert got == _expected_merge(rows)


def test_merge_movements_is_lazy_with_guard_on(spark, jsonld):
    """Plan lock: building the merge runs no Spark job (no eager
    checkpoint, no driver probe), and the executed plan is one hash
    shuffle on the movement key with no Python node."""
    # checkpointed so the plan starts at a scan: the cached fixture's
    # own plan (with its exchanges) would otherwise print inside it
    jl = jsonld.drop("feed_id", "type", "departure_ts", "arrival_ts").localCheckpoint()
    tracker = spark.sparkContext._jsc.sc().statusTracker()
    n_before = len(list(tracker.getJobIdsForGroup(None)))
    plan = postprocess.merge_movements(jl)  # construction only
    n_after = len(list(tracker.getJobIdsForGroup(None)))
    assert n_after == n_before
    phys = plan._jdf.queryExecution().executedPlan().toString()
    assert phys.count("Exchange hashpartitioning") == 1, phys
    assert "FlatMapGroupsInPandas" not in phys
    assert "ArrowEvalPython" not in phys
