"""Output formats (reference §1.3): JSON-LD rows/lines, CSV rows,
(subj, pred, obj) triples — the P/R comparison surface of BASELINE.json.

All formatting is pure column expressions (ISO rendering, conditional
predicates), so sinks add zero Python to the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from . import BOARDING_TYPES, GTFS, LC, RDF_TYPE, XSD
from .uris import ARR_STOP_PREFIX, ARRIVAL_TS, DEP_STOP_PREFIX, DEPARTURE_TS, URIStrategy

ISO_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"

# dense_index sample-pass routing: TakeOrderedAndProject's driver merge
# sees O(P x k) rows; above this budget the counted hash-threshold path
# (driver O(k), independent of P) takes over. 8M keeps the sandbox's
# 64-partition x 100k config on the count-free path.
_SAMPLE_DRIVER_BUDGET_ROWS = 8_000_000
# dense_index boundary sample: at most this many rows, hashed with this seed
_SAMPLE_SIZE = 100_000
_SAMPLE_SEED = 42

# The @context record worker 0 emits as the first jsonld/mongold line —
# exact key set and order of linkedConnectionsContext()
# (lib/gtfs2connections.js:317-333)
JSONLD_CONTEXT = {
    "@context": {
        "lc": LC,
        "gtfs": GTFS,
        "xsd": XSD,
        "trip": {"@type": "@id", "@id": "gtfs:trip"},
        "Connection": "lc:Connection",
        "CancelledConnection": "lc:CancelledConnection",
        "departureTime": {"@type": "xsd:dateTime", "@id": "lc:departureTime"},
        "departureStop": {"@type": "@id", "@id": "lc:departureStop"},
        "arrivalStop": {"@type": "@id", "@id": "lc:arrivalStop"},
        "arrivalTime": {"@type": "xsd:dateTime", "@id": "lc:arrivalTime"},
    }
}

# RDF 1.2 message-log framing (StreamWriter version option,
# lib/gtfs2connections.js:273-294); non-first workers strip exactly these
# header shapes (lib/streams/RemoveRdfMessageVersion.js:10-36)
TURTLE_VERSION_LINE = '@version "1.2-messages" .'
NTRIPLES_VERSION_LINE = 'VERSION "1.2-messages"'

# rdfPrefixes() (lib/gtfs2connections.js:309-315)
RDF_PREFIXES = {"lc": LC, "gtfs": GTFS, "xsd": XSD}


def turtle_header() -> str:
    """Worker-0 Turtle header: version line first (what
    RemoveRdfMessageVersion strips on other workers), then prefixes."""
    lines = [TURTLE_VERSION_LINE]
    lines += [f"@prefix {p}: <{ns}> ." for p, ns in RDF_PREFIXES.items()]
    return "\n".join(lines)


def iso(c: Column) -> Column:
    """Date.toISOString() — UTC with milliseconds (session tz is UTC)."""
    return F.date_format(c, ISO_FMT)


def _boarding(c: Column, short: bool) -> Column:
    """numeric-string -> gtfs boarding type; emitted only when the raw
    value is a non-empty string ('0' emits Regular, '' omits) —
    lib/Connections2JSONLD.js:61-71, lib/Connections2Triples.js:81-98."""
    vals = [t.replace(GTFS, "gtfs:") for t in BOARDING_TYPES] if short else BOARDING_TYPES
    arr = F.array(*[F.lit(v) for v in vals])
    return F.when(
        F.coalesce(c, F.lit("")) != "", F.element_at(arr, c.cast("int") + 1)
    )


def connections_to_jsonld(
    conns: DataFrame, uris: URIStrategy | None = None
) -> DataFrame:
    """Connections -> JSON-LD-shaped columns (lib/Connections2JSONLD.js:44-71).

    Column names use ``gtfs_``-prefixed aliases (``@``/``:`` are hostile
    to SQL engines); ``jsonld_lines`` re-keys them to the exact JSON-LD
    keys when serializing.
    """
    uris = uris or URIStrategy()
    return conns.select(
        "feed_id",
        uris.connection_id().alias("id"),
        F.lit("Connection").alias("type"),
        uris.stop_id(DEP_STOP_PREFIX).alias("departureStop"),
        uris.stop_id(ARR_STOP_PREFIX).alias("arrivalStop"),
        iso(F.col(DEPARTURE_TS)).alias("departureTime"),
        iso(F.col(ARRIVAL_TS)).alias("arrivalTime"),
        uris.trip_id().alias("gtfs_trip"),
        uris.route_id().alias("gtfs_route"),
        F.col("headsign").alias("direction"),
        _boarding(F.col("pickup_type"), short=True).alias("gtfs_pickupType"),
        _boarding(F.col("drop_off_type"), short=True).alias("gtfs_dropOffType"),
        F.col(DEPARTURE_TS).alias("departure_ts"),
        F.col(ARRIVAL_TS).alias("arrival_ts"),
    )


# (JSON-LD key, connections_to_jsonld column) in the key order of
# lib/Connections2JSONLD.js:44-71 — jsonld_lines, mongold_lines and the
# sortjob reader all derive from these pairs
JSONLD_KEYS = (
    ("@id", "id"),
    ("@type", "type"),
    ("departureStop", "departureStop"),
    ("arrivalStop", "arrivalStop"),
    ("departureTime", "departureTime"),
    ("arrivalTime", "arrivalTime"),
    ("gtfs:trip", "gtfs_trip"),
    ("gtfs:route", "gtfs_route"),
    ("direction", "direction"),
    ("gtfs:pickupType", "gtfs_pickupType"),
    ("gtfs:dropOffType", "gtfs_dropOffType"),
)


def _jsonld_col(jsonld: DataFrame, col: str) -> Column:
    """``type`` is dropped before join_and_sort; it is always 'Connection'."""
    if col == "type" and col not in jsonld.columns:
        return F.lit("Connection")
    return F.col(col)


def jsonld_lines(jsonld: DataFrame) -> DataFrame:
    """One JSON text line per connection, exact reference key set/order.

    to_json omits null fields, matching the reference's conditional
    direction/pickupType/dropOffType keys.
    """
    fields = [_jsonld_col(jsonld, c).alias(k) for k, c in JSONLD_KEYS]
    if "nextConnection" in jsonld.columns:
        fields.append(F.col("nextConnection"))
    return jsonld.select(F.to_json(F.struct(*fields)).alias("line"))


def _raw_connection_obj(wrap_dates: bool) -> Column:
    """Shared raw-Connection struct (the Connection shape of
    lib/ConnectionsBuilder.js:42-53): nested full stop/trip/route rows,
    keys in the reference's insertion order, Dates as ISO strings.
    ``wrap_dates`` switches the top-level times to Mongo extended JSON
    ({"$date": iso}) — Connections2Mongo semantics."""
    from .schemas import ROUTES_COLS, STOPS_COLS, TRIPS_COLS

    def row_struct(prefix: str, cols: tuple[str, ...], *extra) -> Column:
        return F.struct(*[F.col(f"{prefix}{c}").alias(c) for c in cols], *extra)

    def time(c: str) -> Column:
        rendered = iso(F.col(c))
        return F.struct(rendered.alias("$date")) if wrap_dates else rendered

    return F.struct(
        time("departure_ts").alias("departureTime"),
        row_struct("dep_", STOPS_COLS).alias("departureStop"),
        time("arrival_ts").alias("arrivalTime"),
        row_struct("arr_", STOPS_COLS).alias("arrivalStop"),
        row_struct(
            "trip_",
            TRIPS_COLS,
            F.col("trip_start_dfm").alias("startTime_dfm"),
            iso(F.col("trip_start_ts")).alias("startTime"),
        ).alias("trip"),
        row_struct("route_", ROUTES_COLS).alias("route"),
        F.col("headsign"),
        F.col("stop_sequence"),
        F.col("pickup_type"),
        F.col("drop_off_type"),
    )


def raw_json_lines(conns: DataFrame) -> DataFrame:
    """The reference's ``json`` format: raw Connection objects as
    ND-JSON (lib/streams/JSONLinesStringer.js)."""
    return conns.select(
        F.to_json(_raw_connection_obj(wrap_dates=False)).alias("line")
    )


def mongold_lines(jsonld: DataFrame) -> DataFrame:
    """``mongold`` format (S8): the jsonld stream run through
    Connections2Mongo (lib/Connections2Mongo.js:15-33 after
    Connections2JSONLD): '@id' -> '_id', timestamps wrapped as
    {"$date": iso}. Key order mirrors the reference's mutation order
    (original keys first, _id appended last)."""

    def field(key: str, col: str) -> Column:
        c = _jsonld_col(jsonld, col)
        if key in ("departureTime", "arrivalTime"):
            c = F.struct(c.alias("$date"))
        return c.alias(key)

    fields = [field(k, c) for k, c in JSONLD_KEYS if k != "@id"]
    fields.append(F.col("id").alias("_id"))
    return jsonld.select(F.to_json(F.struct(*fields)).alias("line"))


def mongo_lines(conns: DataFrame) -> DataFrame:
    """``mongo`` format (S8): RAW Connection objects (no URIs/@id) with
    only the top-level departureTime/arrivalTime wrapped as {"$date":
    iso} — the reference routes the raw stream through Connections2Mongo
    before JSONLinesStringer (lib/gtfs2connections.js:263-264;
    lib/Connections2Mongo.js:20-27; no '@id' exists on raw connections,
    so no '_id' is added)."""
    return conns.select(
        F.to_json(_raw_connection_obj(wrap_dates=True)).alias("line")
    )


def _turtle_escape(c: Column) -> Column:
    """Turtle/N-Triples string-literal escaping (backslash first)."""
    e = F.replace(c, F.lit("\\"), F.lit("\\\\"))
    e = F.replace(e, F.lit('"'), F.lit('\\"'))
    e = F.replace(e, F.lit("\n"), F.lit("\\n"))
    e = F.replace(e, F.lit("\r"), F.lit("\\r"))
    return e


def turtle_message_lines(conns: DataFrame, uris: URIStrategy | None = None) -> DataFrame:
    """``turtle`` format: one RDF message per connection, one text line
    per message (valid Turtle; predicate list shares the single subject
    via ';'). Mirrors the quad order of lib/Connections2Triples.js:31-99
    — type, stops, times, trip, route, then conditional headsign,
    dropOffType, pickupType — and the reference's own invariant that
    every message describes exactly one subject
    (test/resultStream.test.js:41-46,65-78).

    Pure column expressions: the serialization is a narrow map-side op.
    The worker-0 header (version + prefixes) is ``turtle_header()``,
    written once by the caller (O5 semantics)."""
    uris = uris or URIStrategy()
    iri = lambda c: F.concat(F.lit("<"), c, F.lit(">"))  # noqa: E731

    def lit_dt(c: Column, dt: str) -> Column:
        return F.concat(F.lit('"'), _turtle_escape(c), F.lit(f'"^^{dt}'))

    headsign = F.coalesce(
        F.col("headsign"), F.nullif(F.col("trip_trip_headsign"), F.lit(""))
    )
    parts = [
        F.concat(iri(uris.connection_id()), F.lit(" a lc:Connection")),
        F.concat(F.lit("lc:departureStop "), iri(uris.stop_id(DEP_STOP_PREFIX))),
        F.concat(F.lit("lc:arrivalStop "), iri(uris.stop_id(ARR_STOP_PREFIX))),
        F.concat(F.lit("lc:departureTime "), lit_dt(iso(F.col(DEPARTURE_TS)), "xsd:dateTime")),
        F.concat(F.lit("lc:arrivalTime "), lit_dt(iso(F.col(ARRIVAL_TS)), "xsd:dateTime")),
        F.concat(F.lit("gtfs:trip "), iri(uris.trip_id())),
        F.concat(F.lit("gtfs:route "), iri(uris.route_id())),
        # conditional parts: concat_ws skips nulls
        F.when(
            headsign.isNotNull(),
            F.concat(F.lit("gtfs:headsign "), lit_dt(headsign, "xsd:string")),
        ),
        F.when(
            F.coalesce(F.col("drop_off_type"), F.lit("")) != "",
            F.concat(F.lit("gtfs:dropOffType "), _boarding(F.col("drop_off_type"), short=True)),
        ),
        F.when(
            F.coalesce(F.col("pickup_type"), F.lit("")) != "",
            F.concat(F.lit("gtfs:pickupType "), _boarding(F.col("pickup_type"), short=True)),
        ),
    ]
    return conns.select(
        F.concat(F.concat_ws(" ; ", *parts), F.lit(" .")).alias("line")
    )


def dense_index(
    df: DataFrame,
    key_cols: list[str],
    n_parts: int | None = None,
) -> DataFrame:
    """Distributed dense 0-based index over the total order of
    ``key_cols`` (equal keys share an index) — a global
    ``dense_rank().over(Window.orderBy(...))`` WITHOUT the
    single-reducer collapse.

    The bucket of a row is a PURE MONOTONE FUNCTION of its key (count
    of driver-sampled boundary tuples below the key), so equal keys
    co-locate by construction and nothing needs to be pinned. ONE
    driver action before the rank: a bottom-k-by-hash
    sampling pass — ``orderBy(xxhash64(key, seed, row_id)).limit(k)``
    compiles to TakeOrderedAndProject (per-partition top-k heaps +
    driver merge, NO shuffle, no prior count() to size a fraction: the
    k rows with the smallest uniform per-row hash ARE a uniform row
    sample, and a hot key occupies slots proportional to its rows) —
    picks <= ``n_parts``-1 boundary key tuples.

    The per-bucket distinct counts and the rank are then FUSED into
    one lazy plan over ONE shared explicit exchange on the bucket id
    (VERDICT r4 #5): branch A sorts within buckets and dense_ranks;
    branch B counts distinct keys per bucket with NO further exchange
    (HashPartitioning(_pid) satisfies ClusteredDistribution(_pid, key)
    — the subset rule), cumulative-sums the <= ``n_parts`` bucket
    counts into offsets with a trivially small global window, and
    broadcast-joins them back. ReuseExchange dedupes the two branches'
    exchange, so the input is scanned and shuffled exactly ONCE and no
    driver collect sits between the passes.

    (The first cut range-repartitioned and PINNED the sampled
    partitioning with an eager localCheckpoint so two passes agreed on
    boundaries; at 21.6M-row scale that full-data materialization
    dominated the pass. The second cut sized a sample() fraction with
    a dedicated count() — a full pass the hash-bottom-k sample makes
    unnecessary. The third cut collected per-bucket distinct counts
    with a separate driver action — a full source scan + narrow
    exchange the shared-exchange fusion removes.)

    Huge-partition-count inputs: TakeOrderedAndProject's driver merge
    receives each partition's LOCAL bottom-k, i.e. O(P x k) rows — at
    1e5 scan partitions and k=1e5 that is 1e10 rows through the
    driver, a scale-killer. When ``P x k`` exceeds
    ``_SAMPLE_DRIVER_BUDGET_ROWS`` the sample pass switches to a
    hash-threshold scheme: one cheap narrow count() sizes a threshold
    T with ~2k expected rows below it (xxhash64 is uniform over the
    long range), and ``where(_h <= T).orderBy(_h).limit(k)`` then
    ships O(k) rows to the driver REGARDLESS of P. Both paths are
    pure JVM; the threshold path trades one extra narrow map-side
    pass for driver traffic independent of cluster size. Boundary
    choice only affects bucket BALANCE, never correctness, so the
    paths are interchangeable semantically (pytest drives both).

    Rows whose key compares NULL against a boundary (null key fields)
    land in bucket 0, matching the window's default nulls-first
    ascending order.

    r6 OPTIMIZATION (guide §2.3/§3, worked-example §8 "decide with
    small rows, move big rows once"): the rank machinery now runs over
    the DISTINCT key set only — the dense index is a pure function of
    the distinct keys, so sampling, bucketing, sorting and ranking a
    full-width fact (10 triples share each subj at the w4 call site,
    ~300 B/row vs ~100 B/key) paid a ~10x byte tax on every stage. The
    fact rows are touched exactly once, by a single null-safe
    shuffled-hash join against the (key -> index) map: the fact side
    shuffles the same bytes the old _pid repartition moved, but is
    never SORTED (the old shape local-sorted every full-width row
    inside its bucket; SMJ would sneak that sort back in — hence the
    explicit SHUFFLE_HASH hint; the build side is |distinct keys| /
    shuffle-partitions rows per task, the small-rows side by
    construction). Measured at the w4 bench section (21.6M triples,
    2.5M subjects, local[32]): 12.4 s best -> see OPTIMIZATION_r06.md.

    Contract: ``df`` must be deterministic across jobs (a table scan or
    a checkpointed intermediate) — the boundary-sampling action and the
    rank+join job are separate jobs over the same lineage, so an input
    derived from sample()/rand() would let boundaries disagree with the
    data they bucket. Every in-repo caller passes a scan or an eager
    localCheckpoint."""
    spark = df.sparkSession
    n_parts = n_parts or spark.sparkContext.defaultParallelism
    key_struct = F.struct(*[F.col(c) for c in key_cols])

    # the ranked set: one row per distinct key (map-side partial
    # aggregate -> only distinct keys cross the wire)
    keys = df.select(*key_cols).distinct()

    boundaries: list[tuple] = []
    if n_parts > 1:
        # uniform row sample WITHOUT a sizing count(): the k rows with
        # the smallest per-row hash — hash rank is independent of key
        # order, and TakeOrderedAndProject keeps the whole pass
        # map-side (a k-heap per partition, driver merge). Sampling
        # runs over the RAW rows, not the distinct keys: it needs no
        # aggregation that way (the rank branch's distinct shuffle
        # would otherwise run twice — once for this action, once for
        # the rank job), and row-weighted boundaries are fine: they
        # only affect bucket balance. null-containing keys are
        # excluded from boundary candidates (they sort before every
        # boundary -> bucket 0, the window's nulls-first order) — and
        # None tuples don't sort in Python.
        # The hash includes a PER-ROW disambiguator: hashing the key
        # alone is all-or-nothing per key (equal keys share one hash),
        # so a single key with >= eff_k rows whose hash landed in the
        # bottom-k would deterministically flood the whole sample and
        # collapse the boundaries to ~1. With the row id mixed in,
        # each row is an independent uniform draw — a hot key is
        # represented proportionally IN EXPECTATION with binomial
        # concentration, never exclusively. (The row id is only
        # run-stable, not job-stable — fine: the sample is collected
        # exactly once and its boundaries become plan literals.)
        # Effective k: boundaries only affect bucket BALANCE, so
        # ~256 samples per bucket (±6%) is plenty; the old flat 100k
        # default made the per-partition top-k heap the dominant cost
        # of the whole sample pass.
        eff_k = min(_SAMPLE_SIZE, max(4096, 256 * n_parts))
        narrow = df.select(
            *key_cols,
            F.xxhash64(
                *key_cols, F.lit(_SAMPLE_SEED), F.monotonically_increasing_id()
            ).alias("_h"),
        )
        # .rdd triggers physical planning only (no job); with AQE the
        # count is the pre-execution estimate, fine for a path heuristic
        n_input_parts = max(1, df.rdd.getNumPartitions())
        if n_input_parts * eff_k > _SAMPLE_DRIVER_BUDGET_ROWS:
            # huge-P path: bound driver traffic at O(k) via a counted
            # hash threshold (see docstring)
            total = narrow.count()
            frac = min(1.0, (2.0 * eff_k) / total) if total else 0.0
            thresh = min(2**63 - 1, int(-(2.0**63) + frac * 2.0**64))
            narrow = narrow.where(F.col("_h") <= F.lit(thresh))
        sample = sorted(
            tuple(r)[:-1]
            for r in narrow.orderBy("_h").limit(eff_k).collect()
            if None not in tuple(r)[:-1]
        )
        if sample:
            seen: set[tuple] = set()
            for i in range(1, n_parts):
                pick = sample[min(len(sample) - 1, (i * len(sample)) // n_parts)]
                if pick not in seen:
                    seen.add(pick)
                    boundaries.append(pick)

    key_types = [df.schema[c].dataType for c in key_cols]
    bucket = F.lit(0)
    for b in boundaries:
        # cast literals to the exact key column types (lit(datetime) is
        # TIMESTAMP while the column may be TIMESTAMP_NTZ; lit(int) is
        # INT vs BIGINT) or the struct comparison fails to resolve
        blit = F.struct(*[F.lit(v).cast(dt) for v, dt in zip(b, key_types)])
        bucket = bucket + F.when(key_struct > blit, F.lit(1)).otherwise(F.lit(0))
    parts = keys.withColumn("_pid", bucket)
    # branch A: explicit exchange on the bucket id (explicit
    # numPartitions keeps AQE from coalescing the bucket layout), then
    # a within-bucket local sort + row_number (keys are distinct by
    # construction, so row_number == dense_rank over the bucket)
    ex = parts.repartition(len(boundaries) + 1, "_pid")
    w = Window.partitionBy("_pid").orderBy(*key_cols)
    ranked = ex.withColumn("_rank", F.row_number().over(w).cast("long"))

    # branch B hangs off the UN-repartitioned keys on purpose: the
    # planner dedups nothing extra (keys are already distinct) but the
    # shared distinct-aggregate exchange is ReuseExchange'd between the
    # branches, so the input is scanned and shuffled once. A global
    # window over the <= n_parts bucket counts turns them into
    # cumulative offsets, broadcast-joined back onto branch A — one
    # lazy plan, no driver barrier between the passes. Plain count(*):
    # null-keyed rows are real distinct keys here and must be counted
    # (the old countDistinct-over-struct note, inherited).
    cnts = parts.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n"))
    offs = cnts.select(
        "_pid",
        F.coalesce(
            F.sum("_n").over(
                Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).cast("long").alias("_off"),
    )
    idx_map = (
        ranked.join(F.broadcast(offs), "_pid")
        .select(
            *[F.col(c).alias(f"_mk_{i}") for i, c in enumerate(key_cols)],
            (F.col("_rank") - 1 + F.col("_off")).alias("_dense_idx"),
        )
    )
    # attach the index to the fact rows: ONE null-safe equi-join (the
    # map contains every distinct key incl. null-field ones, so every
    # fact row matches exactly once). SHUFFLE_HASH pins the build on
    # the map side and keeps the fact side sort-free; SMJ here would
    # re-introduce the full-width sort this rewrite removes.
    cond = None
    for i, c in enumerate(key_cols):
        term = df[c].eqNullSafe(F.col(f"_mk_{i}"))
        cond = term if cond is None else (cond & term)
    return df.join(idx_map.hint("shuffle_hash"), cond).drop(
        *[f"_mk_{i}" for i in range(len(key_cols))]
    )


def triples_with_message_counter(
    conns: DataFrame, uris: URIStrategy | None = None
) -> DataFrame:
    """W4: RDF 1.2 message-log framing — every quad of one connection
    shares a messageCounter ordinal (lib/Connections2Triples.js:22-26,
    100-106; renumbering lib/gtfs2connections.js:199-223).

    The counter is a deterministic TOTAL order over connection subject
    URIs, computed with ``dense_index`` so the framed serialization
    scales instead of collapsing onto one reducer. The preserved
    invariant is the reference's structural one — every message frames
    exactly one connection, ordinals are dense and unique — NOT
    ordinal-for-ordinal parity with the reference's worker-stream
    merge order (which depends on its thread scheduling and shard
    round-robin; URI order is reproducible, stream order is not)."""
    uris = uris or URIStrategy()
    from .materialize import materialize

    # materialize once: dense_index reads its input in separate jobs
    # (the boundary-sample action, plus a count on the huge-P path,
    # then the fused rank plan) — on a live conversion plan each would
    # re-execute the whole upstream pipeline, and the dense_index
    # contract requires a deterministic (checkpointed or scanned) input
    triples = materialize(connections_to_triples(conns, uris))
    return dense_index(triples, ["subj"]).withColumnRenamed(
        "_dense_idx", "message_counter"
    )


def connections_to_csv_rows(conns: DataFrame) -> DataFrame:
    """7-column quoted CSV rows (lib/Connections2CSV.js:12-42); header is
    written driver-side by the caller (worker-0 semantics, O5)."""

    def cell(c: Column) -> Column:
        return F.concat(
            F.lit('"'),
            F.replace(F.coalesce(c, F.lit("")), F.lit('"'), F.lit('""')),
            F.lit('"'),
        )

    cells = [
        cell(F.col("dep_stop_id")),
        cell(iso(F.col("departure_ts"))),
        cell(F.col("arr_stop_id")),
        cell(iso(F.col("arrival_ts"))),
        cell(F.col("trip_trip_id")),
        cell(F.col("route_route_id")),
        cell(F.coalesce(F.col("headsign"), F.lit(""))),
    ]
    return conns.select(F.concat_ws(",", *cells).alias("line"))


CSV_HEADER = '"departureStop","departureTime","arrivalStop","arrivalTime","trip","route","headsign"'


def connections_to_triples(
    conns: DataFrame, uris: URIStrategy | None = None
) -> DataFrame:
    """Connections -> (subj, pred, obj, obj_kind, obj_datatype) rows
    (lib/Connections2Triples.js:28-107).

    7 fixed triples per connection + conditional headsign/pickup/dropOff.
    Implemented as a per-row literal array + ``inline``: a narrow
    map-side op, no shuffle; the 10x row multiply stays partition-local.
    (r6: inline instead of explode-struct-then-reproject — the generator
    emits the four quad columns directly, skipping one per-row struct
    copy; A/B-measured ~5% at the 21.6M-quad headline, 4.30 s vs 4.51 s
    best interleaved.)
    """
    uris = uris or URIStrategy()
    subj = uris.connection_id()

    def t(pred: str, obj: Column, kind: str, dt: str | None = None) -> Column:
        return F.struct(
            F.lit(pred).alias("pred"),
            obj.alias("obj"),
            F.lit(kind).alias("obj_kind"),
            F.lit(dt).cast("string").alias("obj_datatype"),
        )

    # triples headsign falls back to trip_headsign even when the chained
    # headsign is null (lib/Connections2Triples.js:71-80)
    headsign = F.coalesce(
        F.col("headsign"), F.nullif(F.col("trip_trip_headsign"), F.lit(""))
    )

    quads = F.array(
        t(RDF_TYPE, F.lit(f"{LC}Connection"), "iri"),
        t(f"{LC}departureStop", uris.stop_id(DEP_STOP_PREFIX), "iri"),
        t(f"{LC}arrivalStop", uris.stop_id(ARR_STOP_PREFIX), "iri"),
        t(f"{LC}departureTime", iso(F.col(DEPARTURE_TS)), "literal", f"{XSD}dateTime"),
        t(f"{LC}arrivalTime", iso(F.col(ARRIVAL_TS)), "literal", f"{XSD}dateTime"),
        t(f"{GTFS}trip", uris.trip_id(), "iri"),
        t(f"{GTFS}route", uris.route_id(), "iri"),
        t(f"{GTFS}headsign", headsign, "literal", f"{XSD}string"),
        t(f"{GTFS}dropOffType", _boarding(F.col("drop_off_type"), short=False), "iri"),
        t(f"{GTFS}pickupType", _boarding(F.col("pickup_type"), short=False), "iri"),
    )
    return (
        conns.select(subj.alias("subj"), F.inline(quads))
        .where(F.col("obj").isNotNull())
        .select("subj", "pred", "obj", "obj_kind", "obj_datatype")
    )


def triples_to_ntriples_lines(triples: DataFrame) -> DataFrame:
    """(subj,pred,obj) -> N-Triples text lines.

    Literal objects are escaped per the N-Triples STRING_LITERAL_QUOTE
    grammar (`"`, `\\`, LF, CR must be backslash-escaped) — the
    reference serializes through rdf-parser-ts StreamWriter which does
    the same (lib/gtfs2connections.js:273-294)."""
    obj = F.when(
        F.col("obj_kind") == "iri", F.concat(F.lit("<"), F.col("obj"), F.lit(">"))
    ).otherwise(
        F.concat(
            F.lit('"'),
            _turtle_escape(F.col("obj")),
            F.lit('"'),
            F.when(
                F.col("obj_datatype").isNotNull(),
                F.concat(F.lit("^^<"), F.col("obj_datatype"), F.lit(">")),
            ).otherwise(F.lit("")),
        )
    )
    return triples.select(
        F.concat_ws(
            " ",
            F.concat(F.lit("<"), F.col("subj"), F.lit(">")),
            F.concat(F.lit("<"), F.col("pred"), F.lit(">")),
            obj,
            F.lit("."),
        ).alias("line")
    )
