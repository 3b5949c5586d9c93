"""Layer B — the Linked Connections pipeline as Spark DataFrame algebra.

Stage map (reference -> here; SURVEY.md §2):

- A1/A2/J5  calendar + calendar_dates -> expanded service dates
  (lib/services/CalendarExpander.js, lib/stores/StoreManager.js:52-70)
  => ``expand_services``
- W1/A3/J1-J4/P1-P4  stop_times lag pairing + dimension enrichment
  (lib/stoptimes/st2c.js) => ``stop_times_to_rules``
- J6/P5-P8  service-day explode + timestamp build
  (lib/ConnectionsBuilder.js) => ``rules_to_connections``

Scale posture (the part the reference hand-rolled with worker_threads
and LevelDB; SURVEY.md §4):

- stops/routes/trips/services are *dimensions*: broadcast hash joins,
  zero shuffle. At 100 TB the fact side (stop_times / pages) never
  re-shuffles for enrichment.
- The only unavoidable wide exchange is the W1 window shuffle on
  (feed_id, trip_id). Trips are short (bounded stops/trip), so the
  window itself cannot skew a partition; skew appears *after* the
  service-day explode (a mega-trip × 365 days). We therefore salt the
  exploded output: ``repartition(salt(uniqueId))`` spreads a hot trip's
  connections over SALT_N reducers before any downstream wide op, and
  AQE skew-join handles residual imbalance.
- The J6 explode multiplies rows ~180x on the fixture; all
  date-independent work (joins, headsign, uniqueId) happens *before*
  the explode, date-dependent work (timestamps, URIs) after — the same
  cost split the reference gets from its rule-shard intermediates.
- ``convert`` materializes the rule table and the service table once
  (``materialize``: a local checkpoint here, a reliable checkpoint or
  parquet staging on a cluster), as the reference writes its
  connection-rule shards once (SURVEY §3.1 step 3). The J7 dedupe reads
  the rules three times and the services twice, so the W1 window and
  its four dimension broadcasts run once instead of on every read. The
  rules are pre-explode rows, ~180x fewer than the connections.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .materialize import materialize

DEFAULT_SALT_N = 64


def _nullif_empty(c: Column) -> Column:
    return F.nullif(c, F.lit(""))


def _blank(c: Column) -> Column:
    """JS-ish: undefined/null -> '' (string-typed row model, SURVEY §1.1)."""
    return F.coalesce(c, F.lit(""))


# ---------------------------------------------------------------------------
# A1 + A2 + J5 — service-date expansion
# ---------------------------------------------------------------------------

def expand_services(calendar: DataFrame, calendar_dates: DataFrame) -> DataFrame:
    """(feed_id, service_id, dates: array<string yyyyMMdd>).

    Semantics (lib/services/CalendarExpander.js:14-68):
    dates = added ∪ (days-in-[start,end] where weekday flag == '1' ∖ removed);
    services appearing only in calendar_dates keep just their added days
    (the expander's _flush). Full-outer join reproduces both sides.

    Added days are placed first in the array, matching the reference's
    insertion order (order is otherwise insignificant — consumers treat
    it as a set).
    """
    # duplicate-keyed calendar rows: the reference expands each row and
    # PUTs into servicesDB — last row per service_id wins
    calendar = keep_last_per_key(calendar, "service_id")

    # A1 — group exceptions per service (StoreManager.js:52-70)
    exceptions = calendar_dates.groupBy("feed_id", "service_id").agg(
        F.sort_array(
            F.collect_set(F.when(F.col("exception_type") == "1", F.col("date")))
        ).alias("added"),
        F.sort_array(
            F.collect_set(F.when(F.col("exception_type") == "2", F.col("date")))
        ).alias("removed"),
    )

    # A2 — enumerate [start_date, end_date], keep days whose weekday flag
    # is '1'. Pure array expressions (sequence + filter + transform): the
    # whole expansion is map-side — no explode/groupBy shuffle at all.
    # dayofweek: 1=Sunday..7=Saturday
    flags = F.array(
        "sunday", "monday", "tuesday", "wednesday", "thursday", "friday", "saturday"
    )
    # guard reversed/unparseable ranges: the reference's expansion loop
    # (for d = start; d <= end; d++) runs zero iterations when
    # end < start, but F.sequence THROWS on reversed boundaries — one
    # malformed calendar row in one feed must not kill a corpus run
    start_d, end_d = F.to_date("start_date", "yyyyMMdd"), F.to_date("end_date", "yyyyMMdd")
    days = F.when(start_d <= end_d, F.sequence(start_d, end_d, F.expr("interval 1 day"))).otherwise(
        F.array().cast("array<date>")
    )
    weekday_days = calendar.select(
        "feed_id",
        "service_id",
        F.transform(
            F.filter(days, lambda d: F.element_at(flags, F.dayofweek(d)) == "1"),
            lambda d: F.date_format(d, "yyyyMMdd"),
        ).alias("weekday_days"),
    )

    # J5 — full-outer SEMANTICS without a full-outer JOIN: a full outer
    # forces a sort-merge exchange on both sides, but both directions
    # are broadcast-able separately: calendars LEFT-broadcast-join their
    # exceptions, and exception-only services (the expander's _flush,
    # CalendarExpander.js:57-68) come from a broadcast anti-join.
    empty = F.array().cast("array<string>")
    with_exc = weekday_days.join(
        F.broadcast(exceptions), ["feed_id", "service_id"], "left"
    ).select(
        "feed_id",
        "service_id",
        F.array_union(
            F.coalesce("added", empty),
            F.array_except(F.col("weekday_days"), F.coalesce("removed", empty)),
        ).alias("dates"),
    )
    flush = exceptions.join(
        F.broadcast(calendar.select("feed_id", "service_id").distinct()),
        ["feed_id", "service_id"],
        "left_anti",
    ).select("feed_id", "service_id", F.col("added").alias("dates"))
    return with_exc.unionByName(flush)


def keep_last_per_key(df: DataFrame, *key_cols: str) -> DataFrame:
    """One row per (feed_id, *key_cols), reproducing the reference's
    key->row store semantics: LevelDB ``put`` overwrites, so the LAST
    row in stream (file) order wins (lib/stores/StoreManager.js:8-35).

    Order is URL-MAJOR: for a dimension file spanning multiple pages,
    rows of the lexicographically greatest url win first, with the
    ``_line`` lineage column (posexplode line number / CSV row id)
    breaking ties within a page — i.e. the last line of the last page.
    (Page urls carry no reference-defined ordering; url-major is the
    pinned deterministic choice.) Inputs without order lineage get a
    deterministic
    lexicographically-greatest pick instead (documented arbitrary —
    duplicate keys are malformed GTFS either way; what matters is ONE
    row, deterministically, instead of a join multiply)."""
    cols = df.columns
    data = [c for c in cols if c != "feed_id" and c not in key_cols]
    if "_line" in cols:
        order = (
            F.struct(F.col("url"), F.col("_line"))
            if "url" in cols
            else F.col("_line")
        )
    else:
        order = F.struct(*[F.col(c) for c in data])
    row = F.struct(*[F.col(c).alias(c) for c in data])
    return (
        df.groupBy("feed_id", *key_cols)
        .agg(F.max_by(row, order).alias("_row"))
        .select(
            "feed_id", *key_cols, *[F.col(f"_row.{c}").alias(c) for c in data]
        )
    )


# ---------------------------------------------------------------------------
# W1 + A3 + J1-J4 + P1-P4 — connection rules
# ---------------------------------------------------------------------------

def stop_times_to_rules(
    stop_times: DataFrame,
    trips: DataFrame,
    routes: DataFrame,
    stops: DataFrame,
) -> DataFrame:
    """Pair consecutive stop_times of a trip into connection rules.

    The reference's stateful stream scan over sorted stop_times
    (lib/stoptimes/st2c.js:27-117) becomes one window: lag() over
    (feed_id, trip_id) ordered by int(stop_sequence) — trip_id compared
    lexically, stop_sequence numerically, exactly the cleaner's sort
    comparator (bin/gtfs2lc-clean.js:34-38).

    Dimension enrichment (J1-J3) is broadcast-only; the fact side keeps
    its (feed_id, trip_id) clustering from the window shuffle, so the
    downstream explode needs no further exchange.
    """
    st = stop_times.withColumn("stop_sequence_int", F.col("stop_sequence").cast("int"))
    # explicit-numPartitions exchange on the window keys (AQE-exempt):
    # stop_times are tiny in BYTES, so adaptive coalescing would fuse
    # this window's shuffle to ONE task — and that task carries the lag
    # window, all four broadcast joins and the uniqueId/headsign
    # derivation serially (profiled: a 7 s single-task stage at 1440
    # feeds, the dominant serial term in the 2->8 scaling pair). Same
    # trap as the J6/J7 exchanges below, same fix.
    spark = stop_times.sparkSession
    n_parts = max(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions", "32")),
    )
    st = st.repartition(n_parts, "feed_id", "trip_id")
    w = Window.partitionBy("feed_id", "trip_id").orderBy("stop_sequence_int")

    paired = (
        st.withColumn("prev_stop_id", F.lag("stop_id").over(w))
        .withColumn("prev_departure_time", F.lag("departure_time").over(w))
        .withColumn("prev_pickup_type", F.lag("pickup_type").over(w))
        .withColumn("prev_stop_sequence", F.lag("stop_sequence").over(w))
        # A3: trip start time = departure_time of the trip's first stop_time
        .withColumn("trip_start_dfm", F.first("departure_time").over(w))
    )

    rules = paired.where(F.col("prev_stop_id").isNotNull()).where(
        # P1: current stop with both times empty is skipped (st2c.js:32-43)
        ~((F.col("arrival_time") == "") & (F.col("departure_time") == ""))
    )

    # J1-J3 — dimension lookups. Prefixed copies of every dim column plus
    # a join-key column named exactly like the fact side, so the joins are
    # name-equi (keys dedupe automatically) and all stay broadcast.
    #
    # The reference's stores are key->row MAPS (LevelDB put: the LAST
    # row per key wins, StoreManager.js:8-35) — a dimension file with a
    # duplicated key must yield ONE lookup row, not multiply the fact
    # join. keep_last_per_key reproduces that with a tiny aggregation
    # on the (small, broadcast-side) dimension.
    def dim(df: DataFrame, prefix: str, key_src: str, key_as: str) -> DataFrame:
        picked = keep_last_per_key(df, key_src)
        return picked.select(
            "feed_id",
            F.col(key_src).alias(key_as),
            *[
                F.col(c).alias(f"{prefix}{c}")
                for c in picked.columns
                if c not in ("feed_id", "url", "_line")
            ],
        )

    enriched = (
        rules.join(F.broadcast(dim(stops, "dep_", "stop_id", "prev_stop_id")), ["feed_id", "prev_stop_id"], "inner")
        .join(F.broadcast(dim(stops, "arr_", "stop_id", "stop_id")), ["feed_id", "stop_id"], "inner")
        .join(F.broadcast(dim(trips, "trip_", "trip_id", "trip_id")), ["feed_id", "trip_id"], "inner")
        .withColumn("route_key", F.col("trip_route_id"))
        .join(F.broadcast(dim(routes, "route_", "route_id", "route_key")), ["feed_id", "route_key"], "inner")
        .drop("route_key")
    )

    # P2 — headsign chain (current-code semantics, st2c.js:55-62):
    # arrival stop's stop_headsign (only if stops.txt carries one) ->
    # trip_headsign -> route_long_name
    headsign_chain = []
    if "arr_stop_headsign" in enriched.columns:
        headsign_chain.append(_nullif_empty(F.col("arr_stop_headsign")))
    headsign_chain += [
        _nullif_empty(F.col("trip_trip_headsign")),
        _nullif_empty(F.col("route_route_long_name")),
    ]

    # P3 — stop_code fallback ids (only used inside uniqueId)
    def code_or_id(prefix: str) -> Column:
        if f"{prefix}stop_code" in enriched.columns:
            return F.coalesce(
                _nullif_empty(F.col(f"{prefix}stop_code")), F.col(f"{prefix}stop_id")
            )
        return F.col(f"{prefix}stop_id")

    trip_short = (
        _blank(F.col("trip_trip_short_name"))
        if "trip_trip_short_name" in enriched.columns
        else F.lit("")
    )

    # P4 — rule uniqueId (st2c.js:78-89); JS Array.join renders null as ''
    unique_id = F.concat_ws(
        "/",
        F.regexp_replace(_blank(F.col("route_route_long_name")), r"\s", ""),
        trip_short,
        code_or_id("dep_"),
        code_or_id("arr_"),
        _blank(F.col("trip_start_dfm")),
        _blank(F.col("prev_departure_time")),
        _blank(F.col("arrival_time")),
        _blank(F.col("prev_pickup_type")),
        _blank(F.col("drop_off_type")),
    )

    return enriched.select(
        "feed_id",
        "trip_id",
        F.col("trip_start_dfm"),
        F.col("prev_departure_time").alias("departure_dfm"),
        F.col("arrival_time").alias("arrival_dfm"),
        F.col("prev_stop_sequence").alias("stop_sequence"),
        F.col("stop_sequence_int"),
        _blank(F.col("prev_pickup_type")).alias("pickup_type"),
        _blank(F.col("drop_off_type")).alias("drop_off_type"),
        F.coalesce(*headsign_chain).alias("headsign"),
        # previous_headsign reads stop_headsign off the DEPARTURE stops.txt
        # row (st2c.js:63-66) — stops.txt has no such column, so this is
        # null unless the stops table carries one; NOT the lagged
        # stop_times.stop_headsign (a latent reference quirk, kept as-is)
        (_nullif_empty(F.col("dep_stop_headsign")) if "dep_stop_headsign" in enriched.columns else F.lit(None).cast("string")).alias("previous_headsign"),
        unique_id.alias("unique_id"),
        *[
            c
            for c in enriched.columns
            if c.startswith(("dep_", "arr_", "trip_", "route_"))
            and c not in ("trip_id", "trip_start_dfm")
        ],
    )


# ---------------------------------------------------------------------------
# P5 — GTFS duration parse
# ---------------------------------------------------------------------------

def dfm_seconds(c: Column) -> Column:
    """'H:MM[:SS]' -> seconds from local midnight; hours may exceed 23;
    seconds default 0 (lib/ConnectionsBuilder.js:64-70)."""
    parts = F.split(c, ":")
    h = F.element_at(parts, 1).cast("long")
    m = F.element_at(parts, 2).cast("long")
    s = F.coalesce(
        F.when(F.size(parts) >= 3, F.element_at(parts, 3).cast("long")), F.lit(0)
    )
    return h * 3600 + m * 60 + s


# ---------------------------------------------------------------------------
# J6 + P6-P7 — service-day explode and timestamp build
# ---------------------------------------------------------------------------

def rules_to_connections(
    rules: DataFrame,
    services: DataFrame,
    feed_tz: str = "Europe/Brussels",
    dedupe: bool = True,
    salt_n: int | None = DEFAULT_SALT_N,
) -> DataFrame:
    """rule × service-day -> connections with absolute timestamps.

    Timestamps are *epoch arithmetic*: epoch(local midnight of the
    service day in feed_tz) + dfm seconds — DST-correct, identical to
    the reference's date-fns addHours/addMinutes/addSeconds over a
    system-local Date (lib/ConnectionsBuilder.js:28-36,72-77; SURVEY
    §1.5). Never wall-clock interval addition.

    ``dedupe`` reproduces the history-store side effect that even a
    fresh run emits each (uniqueId, serviceDate) once, first rule in
    (trip_id, stop_sequence) order winning (st2c.js:134-181; SURVEY §7.4
    risk 6).

    ``salt_n`` adds a deterministic salt and repartitions RULES (with an
    explicit partition count) right before the explode. Placement is
    load-bearing twice over:

    - skew: a mega-trip's rules spread over salt_n buckets, so its
      ~|serviceDates|x explosion lands on many tasks (north_rule's
      skew-salted repartitioning on trip_id);
    - AQE interaction: the rules shuffle is tiny in BYTES, so adaptive
      coalescing would otherwise collapse it to one partition — and the
      180x row multiplication downstream of it would run single-task.
      An explicit numPartitions exchange is exempt from AQE coalescing.

    Shuffle cost: rules only — the exploded connections never shuffle.
    """
    # J4 — service-dates lookup: left join + empty default (st2c.js:124);
    # services is a tiny dimension -> broadcast, no fact-side shuffle
    with_dates = (
        rules.withColumn("service_id_key", F.col("trip_service_id"))
        .join(
            F.broadcast(services.withColumnRenamed("service_id", "service_id_key")),
            ["feed_id", "service_id_key"],
            "left",
        )
        .drop("service_id_key")
    )
    spark = rules.sparkSession
    n_parts = max(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions", "32")),
    )
    empty = F.array().cast("array<string>")
    if dedupe:
        # J7 fresh-run semantics (st2c.js:134-181): a later rule with the
        # same uniqueId emits only service dates not already emitted by
        # earlier rules ("earlier" = (trip_id, stop_sequence) order, the
        # cleaner's stream order). Done at RULE level, before the ~180x
        # explode, so the dedupe machinery moves rules, not connections.
        #
        # Shape (rewritten r4 — see NOTES_r4): duplicated uniqueIds are
        # RARE in real GTFS (2-3 joined/split rules at most), so the
        # plan routes on a skinny duplicate-key set instead of running
        # per-row window machinery over everything:
        #
        #   1. dup_keys = a SKINNY (2-column) count aggregation over the
        #      rules, kept > 1 — normally zero-to-a-handful of rows;
        #      the full-width rule rows never shuffle for it;
        #   2. clean rows bypass dedupe entirely via a BROADCAST
        #      left_anti probe — no exchange, no sort, and with an
        #      empty dup set the probe is a free codegen'd filter
        #      (measured: within ~2% of no-guard at the 720-feed
        #      headline config, vs ~19% for a count-window branch pair
        #      and ~16% for co-partitioned shuffle-hash probes);
        #   3. only dup-group rows (left_semi) run the exact dedupe: an
        #      F.aggregate fold over the group's rules in (trip_id,
        #      stop_sequence) order with an array_union seen-set
        #      accumulator + array_except emission — LINEAR in group
        #      size x dates (the seen-set is bounded by the group's
        #      distinct dates), unlike the O(g^2)-cell prefix-union
        #      window it replaces (hostile-corpus guard, VERDICT r3 #5;
        #      1,000-duplicate-rule pytest drives this path).
        #
        # Worst-case bounds, both LOUD failures not silent corruption:
        # a corpus with ~10^8+ DISTINCT duplicated uniqueIds exceeds
        # the broadcast limit; a single uniqueId duplicated ~10^5+
        # times exceeds the fold's agg buffer.
        # probe on an 8-byte hash of (feed_id, unique_id): a collision
        # merely routes a clean group through the exact fold — zero
        # correctness dependence on collision-freedom — and the agg
        # shuffle moves longs, not uniqueId strings
        kh = F.xxhash64("feed_id", "unique_id").alias("_kh")
        dup_keys = (
            rules.select(kh)
            .groupBy("_kh")
            .agg(F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") > 1)
            .select("_kh")
        )
        dk = F.broadcast(dup_keys)
        keyed = with_dates.select("*", kh)
        clean = keyed.join(dk, ["_kh"], "left_anti").drop("_kh")
        dirty = keyed.join(dk, ["_kh"], "left_semi").drop("_kh")

        data_cols = [c for c in with_dates.columns if c != "dates"]
        row_struct = F.struct(
            F.col("trip_id").alias("trip_id"),
            F.col("stop_sequence_int").alias("stop_sequence_int"),
            F.struct(*[F.col(c).alias(c) for c in data_cols]).alias("r"),
            F.coalesce("dates", empty).alias("dates"),
        )
        # array_sort on structs = (trip_id, stop_sequence_int, ...) asc
        # with a deterministic whole-row tiebreak — the cleaner's stream
        # order (bin/gtfs2lc-clean.js:34-38)
        rows_sorted = F.array_sort(F.collect_list(row_struct))
        row_ddl = with_dates.drop("dates").schema.simpleString()[len("struct<"):-1]
        out_ddl = f"struct<r:struct<{row_ddl}>,dates:array<string>>"
        acc_ddl = f"struct<seen:array<string>,out:array<{out_ddl}>>"

        def step(acc, x):
            return F.struct(
                F.array_union(acc["seen"], x["dates"]).alias("seen"),
                F.concat(
                    acc["out"],
                    F.array(
                        F.struct(
                            x["r"].alias("r"),
                            F.array_except(x["dates"], acc["seen"]).alias("dates"),
                        )
                    ),
                ).alias("out"),
            )

        init = F.struct(
            empty.alias("seen"), F.array().cast(f"array<{out_ddl}>").alias("out")
        )
        dirty_deduped = (
            dirty.groupBy("feed_id", "unique_id")
            .agg(
                F.aggregate(
                    rows_sorted, init.cast(acc_ddl), step, lambda a: a["out"]
                ).alias("_o")
            )
            .select(F.explode("_o").alias("_x"))
            .select(
                *[F.col(f"_x.r.{c}").alias(c) for c in data_cols],
                F.col("_x.dates").alias("dates"),
            )
        )
        with_dates = clean.unionByName(dirty_deduped.select(*with_dates.columns))

    # r6 (guide §2.3 — do per-row work BEFORE the fan-out): the
    # duration strings are RULE-level values, constant across a rule's
    # ~|dates| exploded copies, so parse them once per rule here (three
    # longs ride the explode instead of three split+cast chains
    # re-running per connection — measured ~1.7x on the skew convert
    # sections, see OPTIMIZATION_r06.md).
    with_dates = (
        with_dates.withColumn("_dep_s", dfm_seconds(F.col("departure_dfm")))
        .withColumn("_arr_s", dfm_seconds(F.col("arrival_dfm")))
        .withColumn("_start_s", dfm_seconds(F.col("trip_start_dfm")))
    )

    # an EXPLICIT exchange must sit between the (tiny, AQE-coalescible)
    # upstream shuffles and the ~180x explode, with or without salt —
    # otherwise AQE coalesces the small pre-explode bytes to one
    # partition and the explode runs on a single task
    if salt_n:
        with_dates = with_dates.withColumn(
            "salt", F.pmod(F.xxhash64("feed_id", "unique_id"), F.lit(salt_n))
        ).repartition(n_parts, F.col("feed_id"), F.col("trip_id"), F.col("salt"))
    else:
        with_dates = with_dates.repartition(
            n_parts, F.col("feed_id"), F.col("trip_id")
        )

    exploded = with_dates.withColumn(
        "service_date",
        F.explode(F.coalesce("dates", empty)),
    ).drop("dates")

    # local midnight of service day in feed tz, as absolute instant.
    # r6 (guide §2.3): service_date values repeat massively post-explode
    # (a corpus year has ~365 distinct days, each exploded onto ~10^4-
    # 10^6 connections), so the yyyyMMdd parse + timezone conversion is
    # computed once per DISTINCT date in a tiny broadcast dimension and
    # attached with a hash probe, instead of re-running java.time
    # parsing per connection. LEFT join so a date value absent from the
    # dim (impossible by construction — the dim is the distinct of the
    # same arrays — but belt-and-braces) yields null timestamps rather
    # than dropping rows; the dim is distinct, so the join never
    # multiplies. Unparseable date STRINGS throw under ANSI mode in
    # both this and the old inline shape (verified parity r6) — same
    # loud failure, now once per distinct value instead of per row.
    dates_dim = (
        services.select(F.explode("dates").alias("service_date"))
        .distinct()
        .withColumn(
            "_mid_ep",
            F.unix_timestamp(
                F.to_utc_timestamp(F.to_timestamp("service_date", "yyyyMMdd"), feed_tz)
            ),
        )
    )
    helper_cols = ("_dep_s", "_arr_s", "_start_s")
    out_cols = [c for c in exploded.columns if c not in helper_cols]
    conns = (
        exploded.join(F.broadcast(dates_dim), "service_date", "left")
        .withColumn(
            "departure_ts",
            F.timestamp_seconds(F.col("_mid_ep") + F.col("_dep_s")),
        )
        .withColumn(
            "arrival_ts",
            F.timestamp_seconds(F.col("_mid_ep") + F.col("_arr_s")),
        )
        .withColumn(
            "trip_start_ts",
            F.timestamp_seconds(F.col("_mid_ep") + F.col("_start_s")),
        )
        .select(*out_cols, "departure_ts", "arrival_ts", "trip_start_ts")
    )

    return conns


def dimension_quarantine(
    stop_times: DataFrame,
    trips: DataFrame,
    routes: DataFrame,
    stops: DataFrame,
) -> DataFrame:
    """Per-feed counts of stop_times rows whose dimension keys don't
    resolve — the rows the inner J1-J3 joins silently drop.

    The reference fails LOUDLY here (LevelDB .get rejects on a missing
    key, st2c.js:119-132, crashing the run); a distributed engine must
    not die on one bad feed, so we drop-and-count instead: run this
    audit beside ``convert`` (job.py --audit-missing-refs) to surface
    recall skew per feed. Broadcast anti-joins only — same cost shape as
    the enrichment itself. Output: (feed_id, missing_kind, n_rows).
    """
    st = stop_times.select("feed_id", "stop_id", "trip_id")
    missing_stop = st.join(
        F.broadcast(stops.select("feed_id", "stop_id").distinct()),
        ["feed_id", "stop_id"],
        "left_anti",
    ).select("feed_id", F.lit("stop").alias("missing_kind"))
    tr = trips.select("feed_id", "trip_id", "route_id")
    missing_trip = st.join(
        F.broadcast(tr.select("feed_id", "trip_id").distinct()),
        ["feed_id", "trip_id"],
        "left_anti",
    ).select("feed_id", F.lit("trip").alias("missing_kind"))
    # route resolution happens via the trip row (st2c.js:123)
    missing_route = (
        st.join(F.broadcast(tr), ["feed_id", "trip_id"], "inner")
        .join(
            F.broadcast(routes.select("feed_id", "route_id").distinct()),
            ["feed_id", "route_id"],
            "left_anti",
        )
        .select("feed_id", F.lit("route").alias("missing_kind"))
    )
    return (
        missing_stop.unionByName(missing_trip)
        .unionByName(missing_route)
        .groupBy("feed_id", "missing_kind")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


def convert(
    stop_times: DataFrame,
    trips: DataFrame,
    routes: DataFrame,
    stops: DataFrame,
    calendar: DataFrame,
    calendar_dates: DataFrame,
    feed_tz: str = "Europe/Brussels",
    dedupe: bool = True,
    salt_n: int | None = DEFAULT_SALT_N,
) -> DataFrame:
    """Full entity-tables -> connections pipeline (reference §3.1 steps
    2-4).

    The rule table and the service table are materialized here, once
    (two Spark jobs at call time); the returned connections are lazy.
    ``rules_to_connections`` reads the rules three times (J7 duplicate
    count, clean anti-probe, dirty semi-probe) and the services twice
    (J4 lookup, date dimension); materialized, the W1 window and its
    dimension broadcasts run once rather than under each read, and the
    connections' plan holds no Window: it starts at the materialized
    rules."""
    services = materialize(expand_services(calendar, calendar_dates), "services")
    rules = materialize(stop_times_to_rules(stop_times, trips, routes, stops), "rules")
    return rules_to_connections(rules, services, feed_tz, dedupe, salt_n)
