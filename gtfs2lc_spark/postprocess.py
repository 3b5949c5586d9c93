"""Post-processor: joined/split-trip movement merge + nextConnection
linking + final ordering (reference: bin/linkedconnections-sort.js).

The reference is a single sequential descending scan with three pieces
of state (previous connection, per-trip last connection, joined-trip
map). Decomposition into Spark ops, preserving exact semantics:

- J8 movement merge (sameMovement/mergeMovement, sort.js:97-135):
  same-movement connections are ADJACENT in the descending sort (the
  movement key is a prefix of the sort key), so the merge is local to a
  movement group. One window over each group in descending id order
  plus one aggregate reproduce the sequential pairwise merge exactly,
  in the JVM, for any group size (see merge_movements).
- J9 linking (joinConnections, sort.js:137-190): "per-trip last seen
  connection in a descending scan" ≡ lead() over an ascending per-trip
  window; the split/join cross-trip links are as-of lookups ("first
  connection of trip X after sort position k"), implemented as joins
  against the (rare) rows that carry willSplitInto/joinedWithTrip.
- O2 ordering (compareConnections, sort.js:24-43): plain orderBy on the
  6 string keys, missing -> ''.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .materialize import materialize

NA = "gtfs:NotAvailable"

SORT_KEYS = [
    "departureTime",
    "arrivalTime",
    "gtfs_route",
    "departureStop",
    "arrivalStop",
    "id",
]
MOVEMENT_KEYS = SORT_KEYS[:-1]


def _key_struct(prefix: str = "") -> F.Column:
    return F.struct(*[F.coalesce(F.col(prefix + k), F.lit("")).alias(k) for k in SORT_KEYS])


def merge_movements(jsonld: DataFrame) -> DataFrame:
    """J8: collapse same-movement join/split counterparts.

    The reference scans each movement group in descending id order and
    merges pairwise (mergeMovement, sort.js:107-135). Give each row the
    class ``v = 2*[pickup NotAvailable] + [dropOff NotAvailable]``: in
    that scan the row of lower class always absorbs the other (a pickup
    difference lands in ``joinedWithTrip``, else a dropOff difference
    in ``willSplitInto``), and an equal class emits the current
    survivor and starts a new one. So the survivor's class just before
    a row is the prefix minimum ``m`` of ``v`` over the rows scanned
    before it, and ``m`` never rises. Each row is then one of:

    - a start (first row, or ``v == m``): a new survivor, empty lists;
    - a takeover (``v < m``): replaces the survivor, with the replaced
      survivor's trip as its only list entry (the replaced survivor's
      own lists are dropped, like the reference's ``merged = connection``);
    - absorbed (``v > m``): appended to the current survivor's list.

    One window pass numbers the starts (segments) and the starts plus
    takeovers (sub-segments); one aggregate per segment keeps the row
    of minimum class — the last takeover, or the start — and appends
    the absorbed trips of its own sub-segment in scan order. Rows
    absorbed by a survivor that was later taken over vanish, as in the
    reference. One shuffle, no Python, O(n log n) for any group size.
    """
    cols = jsonld.columns
    kcols = [f"_k_{k}" for k in MOVEMENT_KEYS]

    def na_bit(c):
        return F.when(F.col(c) == NA, 1).otherwise(0)

    keyed = jsonld.select(
        *cols,
        *[F.coalesce(F.col(k), F.lit("")).alias(kc) for k, kc in zip(MOVEMENT_KEYS, kcols)],
        (2 * na_bit("gtfs_pickupType") + na_bit("gtfs_dropOffType")).alias("_v"),
    )
    scan = Window.partitionBy(*kcols).orderBy(F.col("id").desc())
    before = scan.rowsBetween(Window.unboundedPreceding, -1)
    upto = scan.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    v, m = F.col("_v"), F.col("_m")
    start = m.isNull() | (v == m)
    survivor = m.isNull() | (v <= m)  # a start or a takeover
    scanned = keyed.withColumn("_m", F.min("_v").over(before)).select(
        "*",
        F.sum(start.cast("int")).over(upto).alias("_seg"),
        F.sum(survivor.cast("int")).over(upto).alias("_sub"),
        # trip of the survivor a takeover replaces
        F.when(v < m, F.last(F.when(survivor, F.col("gtfs_trip")), ignorenulls=True).over(before))
        .alias("_inherit"),
        # pair differs in pickup -> joinedWithTrip, else willSplitInto
        (F.shiftright(v, 1) != F.shiftright(m, 1)).alias("_j"),
    )

    merged = scanned.groupBy(*kcols, "_seg").agg(
        F.min_by(F.struct(*cols, "_inherit", "_j", "_sub"), "_v").alias("_s"),
        F.collect_list(F.when(v > m, F.struct("id", "_sub", "_j", "gtfs_trip"))).alias("_abs"),
    )
    s = F.col("_s")
    # absorbed rows of the survivor's own sub-segment, descending id
    tail = F.sort_array(F.filter("_abs", lambda a: a["_sub"] == s["_sub"]), asc=False)

    def trips(joined):
        head = F.when(s["_inherit"].isNotNull() & (s["_j"] == joined), F.array(s["_inherit"]))
        rest = F.transform(F.filter(tail, lambda a: a["_j"] == joined), lambda a: a["gtfs_trip"])
        return F.concat(F.coalesce(head, F.array().cast("array<string>")), rest)

    return merged.select(
        *[s[c].alias(c) for c in cols],
        trips(True).alias("joinedWithTrip"),
        trips(False).alias("willSplitInto"),
    )


def link_next_connections(merged: DataFrame) -> DataFrame:
    """J9: per-trip nextConnection chains + split/join branch links
    (joinConnections, sort.js:137-190).

    The keyed + lead-window frame is materialized once (r6): five plan
    branches read it (final projection, keys, split sources, last
    connections — plus the rare-side probes), and Catalyst shares no
    common sub-plans, so each branch re-ran the per-trip window
    (exchange + sort over the full connection set) — four window
    executions where one suffices."""
    df = merged.withColumn("_key", _key_struct())
    w_trip = Window.partitionBy("gtfs_trip").orderBy("_key")
    df = materialize(
        df.withColumn("_next_id", F.lead("id").over(w_trip))
        .withColumn("_next_wsi", F.lead("willSplitInto").over(w_trip)),
    )

    keys = df.select(
        F.col("gtfs_trip").alias("_ktrip"), F.col("_key").alias("_kkey"), F.col("id").alias("_kid")
    )

    # split links: c has willSplitInto, a next connection, and that next
    # connection is not itself a split point (sort.js:150-156).
    # r6 (guide §3.1): split points are STRUCTURALLY rare (a handful of
    # joined/split trips per feed; usually zero) but the planner cannot
    # estimate that through the size() filters, so without the hint
    # every one of these joins became a SortMergeJoin that shuffled and
    # sorted the FULL connection set even when the rare side was empty.
    # Broadcasting the rare side turns them into broadcast joins — the
    # big side never re-shuffles. (A hostile corpus where most
    # connections are split points would blow the broadcast; that input
    # shape fails loudly at the 8 GB broadcast cap, documented.)
    split_src = df.where(
        (F.size("willSplitInto") > 0)
        & F.col("_next_id").isNotNull()
        & (F.coalesce(F.size("_next_wsi"), F.lit(0)) == 0)
    ).select("id", "_key", F.posexplode("willSplitInto").alias("_pos", "_split_trip"))
    split_links = (
        keys.join(
            F.broadcast(split_src),
            (keys["_ktrip"] == split_src["_split_trip"]) & (keys["_kkey"] > split_src["_key"]),
            "inner",
        )
        .groupBy("id", "_pos")
        .agg(F.min_by("_kid", "_kkey").alias("_link"))
        .groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("_pos", "_link"))).alias("_ps"))
        .select("id", F.transform("_ps", lambda s: s["_link"]).alias("_split_links"))
    )

    # joined-trip inheritance: c is its trip's LAST connection; find the
    # earliest later merged connection M that absorbed c's trip, then
    # link to M's trip's first connection after c (sort.js:157-163)
    # setters (rows that absorbed a trip) are as rare as split points —
    # broadcast them for the same guide §3.1 reason; the inherited
    # result is bounded by |setters| x |their absorbed trips|, so it
    # broadcasts too, and the keys probe stays shuffle-free.
    setters = merged.where(F.size("joinedWithTrip") > 0).select(
        F.col("gtfs_trip").alias("_abs_trip"),
        _key_struct().alias("_mk"),
        F.explode("joinedWithTrip").alias("_absorbed"),
    )
    last_conns = df.where(F.col("_next_id").isNull()).select("id", "gtfs_trip", "_key")
    inherited = (
        last_conns.join(
            F.broadcast(setters),
            (setters["_absorbed"] == last_conns["gtfs_trip"])
            & (setters["_mk"] > last_conns["_key"]),
            "inner",
        )
        .groupBy("id", "_key")
        .agg(F.min_by("_abs_trip", "_mk").alias("_target_trip"))
    )
    inherited = (
        keys.join(
            F.broadcast(inherited),
            on=[keys["_ktrip"] == F.col("_target_trip"), keys["_kkey"] > F.col("_key")],
            how="inner",
        )
        .groupBy("id")
        .agg(F.min_by("_kid", "_kkey").alias("_joined_link"))
    )

    out = (
        df.join(F.broadcast(split_links), "id", "left")
        .join(F.broadcast(inherited), "id", "left")
        .withColumn(
            "nextConnection",
            F.when(
                F.col("_next_id").isNotNull(),
                F.concat(
                    F.array("_next_id"),
                    F.coalesce("_split_links", F.array().cast("array<string>")),
                ),
            ).otherwise(
                F.when(F.col("_joined_link").isNotNull(), F.array("_joined_link"))
            ),
        )
        .drop("_key", "_next_id", "_next_wsi", "_split_links", "_joined_link",
              "joinedWithTrip", "willSplitInto")
    )
    return out


def join_and_sort(jsonld: DataFrame) -> DataFrame:
    """Full post-processor: merge movements, link nextConnection, order
    ascending by the reference comparator (sort.js:210-233).

    The merged set is materialized once (``materialize``): J9
    references it from five plan branches (lead window, split-link
    keys, setters, last-connections, final projection), and without the
    cut each branch would re-run the movement merge — measured ~11%
    slower and far less stable at 208k connections."""
    merged = materialize(merge_movements(jsonld))
    linked = link_next_connections(merged)
    return linked.orderBy(*[F.coalesce(F.col(k), F.lit("")) for k in SORT_KEYS])
