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
  (``materialize``), as the reference writes its connection-rule
  shards once (SURVEY §3.1 step 3). The J7 dedupe reads
  the rules three times, so the W1 window and its dimension broadcasts
  run once instead of on every read. The rules are pre-explode rows,
  ~180x fewer than the connections. The services are read once, by
  the J4 lookup, which also carries each date's midnight epoch; their
  materialization stays because dropping it measured no faster.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from . import FEED_TIMEZONE_DEFAULT
from .materialize import materialize

DEFAULT_SALT_N = 64


def _shuffle_partitions(df: DataFrame) -> int:
    """Partition count for the explicit (AQE-exempt) exchanges: the
    session's shuffle partitions, never fewer than one per core."""
    spark = df.sparkSession
    return max(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions", "32")),
    )


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
    (the expander's _flush).

    Added days are placed first in the array, matching the reference's
    insertion order. The order is load-bearing: the service-day explode
    emits connections in array order, and that is the output row order.

    One aggregate over the union of both files, grouped by
    (feed_id, service_id): the service table is small and needs no joins.
    """
    flags = ("sunday", "monday", "tuesday", "wednesday", "thursday", "friday", "saturday")
    cal = calendar.select(
        "feed_id",
        "service_id",
        F.struct("start_date", "end_date", *flags).alias("_cal"),
        F.struct("url", "_line").alias("_order"),
    )
    exc = calendar_dates.select("feed_id", "service_id", "date", "exception_type")

    def dates_of(exception_type: str) -> Column:
        return F.sort_array(
            F.collect_set(F.when(F.col("exception_type") == exception_type, F.col("date")))
        )

    # duplicate-keyed calendar rows: the reference expands each row and
    # PUTs into servicesDB, so the last row wins (url-major, see
    # keep_last_per_key); exception rows carry a null order and never win
    grouped = (
        cal.unionByName(exc, allowMissingColumns=True)
        .groupBy("feed_id", "service_id")
        .agg(
            F.max_by("_cal", "_order").alias("_cal"),
            # A1 — exceptions per service (StoreManager.js:52-70)
            dates_of("1").alias("added"),
            dates_of("2").alias("removed"),
        )
    )

    # A2 — enumerate [start_date, end_date], keep days whose weekday flag
    # is '1' (dayofweek: 1=Sunday..7=Saturday). The reference's loop
    # (for d = start; d <= end; d++) runs zero iterations when end <
    # start, but F.sequence THROWS on reversed boundaries, so reversed
    # ranges and exception-only services (null _cal) get no days.
    start_d = F.to_date("_cal.start_date", "yyyyMMdd")
    end_d = F.to_date("_cal.end_date", "yyyyMMdd")
    days = F.when(
        start_d <= end_d, F.sequence(start_d, end_d, F.expr("interval 1 day"))
    ).otherwise(F.array().cast("array<date>"))
    flag_arr = F.array(*[F.col(f"_cal.{f}") for f in flags])
    weekday_days = F.transform(
        F.filter(days, lambda d: F.element_at(flag_arr, F.dayofweek(d)) == "1"),
        lambda d: F.date_format(d, "yyyyMMdd"),
    )
    # J5 — added first, then the weekday days not removed
    return grouped.select(
        "feed_id",
        "service_id",
        F.array_union("added", F.array_except(weekday_days, "removed")).alias("dates"),
    )


def keep_last_per_key(df: DataFrame, key: str) -> DataFrame:
    """(feed_id, _key, _row): one row per (feed_id, ``key``), ``_row``
    a struct of ``key`` and every other data column, reproducing the
    reference's key->row store semantics: LevelDB ``put`` overwrites, so
    the LAST row in stream (file) order wins (lib/stores/StoreManager.js:
    8-35). A dimension file with a duplicated key thus yields ONE lookup
    row and never multiplies the fact join.

    Order is URL-MAJOR: for a dimension file spanning multiple pages,
    rows of the lexicographically greatest url win first, with the
    ``_line`` lineage column (posexplode line number / CSV row id)
    breaking ties within a page — i.e. the last line of the last page.
    (Page urls carry no reference-defined ordering; url-major is the
    pinned deterministic choice.) Every entity table carries ``url``
    and ``_line`` (extraction, ``sources.read_gtfs_dir``, fixtures)."""
    data = [key] + [c for c in df.columns if c not in ("feed_id", "url", "_line", key)]
    return df.groupBy("feed_id", F.col(key).alias("_key")).agg(
        F.max_by(F.struct(*data), F.struct("url", "_line")).alias("_row")
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
    st = st.repartition(_shuffle_partitions(stop_times), "feed_id", "trip_id")
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

    # J1-J3 — dimension lookups, all broadcast. Each dimension is built
    # once as (feed_id, _key, _row) and joined as is under a role alias,
    # so the two stops roles plan the same broadcast and the second is a
    # ReusedExchange of the first.
    stops_d = keep_last_per_key(stops, "stop_id")
    trips_d = keep_last_per_key(trips, "trip_id")
    routes_d = keep_last_per_key(routes, "route_id")
    roles = (
        ("dep", stops_d, "f.prev_stop_id"),
        ("arr", stops_d, "f.stop_id"),
        ("trip", trips_d, "f.trip_id"),
        ("route", routes_d, "trip._row.route_id"),
    )
    enriched = rules.alias("f")
    for role, d, fact_key in roles:
        enriched = enriched.join(
            F.broadcast(d.alias(role)),
            (F.col("f.feed_id") == F.col(f"{role}.feed_id"))
            & (F.col(fact_key) == F.col(f"{role}._key")),
        )

    # P3 — stop_code fallback ids (only used inside uniqueId)
    def code_or_id(role: str) -> Column:
        return F.coalesce(
            _nullif_empty(F.col(f"{role}._row.stop_code")), F.col(f"{role}._row.stop_id")
        )

    # P4 — rule uniqueId (st2c.js:78-89); JS Array.join renders null as ''
    unique_id = F.concat_ws(
        "/",
        F.regexp_replace(_blank(F.col("route._row.route_long_name")), r"\s", ""),
        _blank(F.col("trip._row.trip_short_name")),
        code_or_id("dep"),
        code_or_id("arr"),
        _blank(F.col("trip_start_dfm")),
        _blank(F.col("prev_departure_time")),
        _blank(F.col("arrival_time")),
        _blank(F.col("prev_pickup_type")),
        _blank(F.col("drop_off_type")),
    )

    return enriched.select(
        "f.feed_id",
        "f.trip_id",
        F.col("trip_start_dfm"),
        F.col("prev_departure_time").alias("departure_dfm"),
        F.col("arrival_time").alias("arrival_dfm"),
        F.col("prev_stop_sequence").alias("stop_sequence"),
        F.col("stop_sequence_int"),
        _blank(F.col("prev_pickup_type")).alias("pickup_type"),
        _blank(F.col("drop_off_type")).alias("drop_off_type"),
        # P2 — headsign chain (st2c.js:55-62): the arrival stops.txt
        # row's stop_headsign comes first there, but stops.txt has no
        # such column (SURVEY §2 P2), so trip_headsign -> route_long_name
        F.coalesce(
            _nullif_empty(F.col("trip._row.trip_headsign")),
            _nullif_empty(F.col("route._row.route_long_name")),
        ).alias("headsign"),
        unique_id.alias("unique_id"),
        # flattened to the dep_*/arr_*/trip_*/route_* column contract
        *[
            F.col(f"{role}._row.{f}").alias(f"{role}_{f}")
            for role, d, _ in roles
            for f in d.schema["_row"].dataType.names
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
    feed_tz: str = FEED_TIMEZONE_DEFAULT,
    salt_n: int | None = DEFAULT_SALT_N,
) -> DataFrame:
    """rule × service-day -> connections with absolute timestamps.

    Timestamps are *epoch arithmetic*: epoch(local midnight of the
    service day in feed_tz) + dfm seconds — DST-correct, identical to
    the reference's date-fns addHours/addMinutes/addSeconds over a
    system-local Date (lib/ConnectionsBuilder.js:28-36,72-77; SURVEY
    §1.5). Never wall-clock interval addition.

    J7 always runs: it reproduces the history-store side effect that
    even a fresh run emits each (uniqueId, serviceDate) once, first rule
    in (trip_id, stop_sequence) order winning (st2c.js:134-181; SURVEY
    §7.4 risk 6).

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
    # services is a tiny dimension -> broadcast, no fact-side shuffle.
    # Each date rides with the epoch of its local midnight in feed_tz,
    # computed here once per (service, date) on the broadcast side
    # instead of per connection; the fact side then pays one long add per
    # timestamp. Unparseable date strings fail loudly under ANSI mode.
    def with_midnight(d: Column) -> Column:
        mid_ep = F.unix_timestamp(F.to_utc_timestamp(F.to_timestamp(d, "yyyyMMdd"), feed_tz))
        return F.struct(d.alias("service_date"), mid_ep.alias("_mid_ep"))

    with_dates = (
        rules.withColumn("service_id_key", F.col("trip_service_id"))
        .join(
            F.broadcast(
                services.select(
                    "feed_id",
                    F.col("service_id").alias("service_id_key"),
                    F.transform("dates", with_midnight).alias("dates"),
                )
            ),
            ["feed_id", "service_id_key"],
            "left",
        )
        .drop("service_id_key")
    )
    n_parts = _shuffle_partitions(rules)
    # explode(coalesce(dates, [])), not explode(dates): the latter infers
    # a size(dates) > 0 filter that is pushed into each branch's services
    # broadcast differently, so the clean and the dirty branch no longer
    # share one broadcast (one more job per call)
    empty = F.array().cast("array<struct<service_date:string,_mid_ep:bigint>>")
    # J7 fresh-run semantics (st2c.js:134-181): each (uniqueId, service
    # date) is emitted once, by the first rule in (trip_id,
    # stop_sequence) order — the cleaner's stream order
    # (bin/gtfs2lc-clean.js:34-38). Done at RULE level, before the
    # ~180x explode. Duplicated uniqueIds are rare in real GTFS, so
    # rules route on an 8-byte hash of (feed_id, unique_id): a skinny
    # count finds the duplicated keys, clean rules pass a broadcast
    # left_anti probe untouched (within ~2% of no guard at 720 feeds),
    # and only dirty rules (left_semi) take the aggregate below. A hash
    # collision only sends a clean group through the exact path.
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

    # dirty rules: explode their dates, keep the minimal rule per
    # (uniqueId, date) — whole-row tiebreak — and regroup each winning
    # rule's dates. One exchange in front clusters both aggregates; a
    # uniqueId duplicated g times costs g x dates rows, never g^2.
    data_cols = [c for c in with_dates.columns if c != "dates"]
    rule = F.struct(
        "trip_id", "stop_sequence_int", F.struct(*data_cols).alias("r")
    )
    dirty_deduped = (
        dirty.repartition("feed_id", "unique_id")
        .select(
            "feed_id", "unique_id", rule.alias("_w"),
            F.explode(F.coalesce("dates", empty)).alias("_d"),
        )
        .groupBy("feed_id", "unique_id", "_d")
        .agg(F.min("_w").alias("_w"))
        .groupBy("feed_id", "unique_id", "_w")
        .agg(F.array_sort(F.collect_list("_d")).alias("dates"))
        .select("_w.r.*", "dates")
    )
    with_dates = clean.unionByName(dirty_deduped)

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

    helper_cols = ("_dep_s", "_arr_s", "_start_s", "dates")
    mid_ep = F.col("_sd._mid_ep")
    exploded = with_dates.select("*", F.explode(F.coalesce("dates", empty)).alias("_sd"))
    return exploded.select(
        *[c for c in with_dates.columns if c not in helper_cols],
        F.col("_sd.service_date").alias("service_date"),
        F.timestamp_seconds(mid_ep + F.col("_dep_s")).alias("departure_ts"),
        F.timestamp_seconds(mid_ep + F.col("_arr_s")).alias("arrival_ts"),
        F.timestamp_seconds(mid_ep + F.col("_start_s")).alias("trip_start_ts"),
    )


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
    feed_tz: str = FEED_TIMEZONE_DEFAULT,
    salt_n: int | None = DEFAULT_SALT_N,
) -> DataFrame:
    """Full entity-tables -> connections pipeline (reference §3.1 steps
    2-4).

    The rule table and the service table are materialized here, once;
    the returned connections are lazy. ``rules_to_connections`` reads
    the rules three times (J7 duplicate count, clean anti-probe, dirty
    semi-probe); materialized, the W1 window and its dimension
    broadcasts run once rather than under each read, and the
    connections' plan holds no Window: it starts at the materialized
    rules. The services are read once (the J4 lookup); dropping their
    materialization measured no faster on a cold job.run (ROADMAP,
    negative results), so it stays."""
    services = materialize(expand_services(calendar, calendar_dates))
    rules = materialize(stop_times_to_rules(stop_times, trips, routes, stops))
    return rules_to_connections(rules, services, feed_tz, salt_n)
