"""Query operators over the materialized Linked Connections graph.

The reference stops at materializing the graph: its consumers — route
planners running the Connection Scan Algorithm (CSA) over Linked
Connections pages (the ecosystem around lib/Connections2Triples.js /
lib/Connections2JSONLD.js) — live in other repos.  These operators
close that loop Spark-side: reassemble entity records from the
(subj, pred, obj) table, profile the predicate distribution, and
answer the canonical LC consumer question (earliest arrival from a
stop) directly on the distributed connection set.

Scale posture (100 TB):

- ``star_join`` is ONE hash aggregation keyed by subject with
  map-side partial combine; a connection subject carries <= 10 triple
  rows, so no key is ever hot.
- ``predicate_stats`` shuffles one row per (pred, obj) for the
  distinct count — pred cardinality is ~10, but the two-phase
  count-distinct expansion keys on (pred, obj), so zipfian objects
  spread over the full cluster before the tiny final agg.
- ``earliest_arrivals`` keeps the fact-sized connection set where it
  was scanned: each relaxation round BROADCASTS the label frontier
  (bounded by |stops| — dimension-sized) against the connection scan;
  the connections themselves never shuffle.  Rounds are bounded by
  the longest optimal connection chain, and each round cuts lineage
  through :func:`gtfs2lc_spark.materialize.materialize`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .materialize import materialize

__all__ = [
    "star_join",
    "predicate_stats",
    "earliest_arrivals",
    "triple_diff",
    "normalize_entity_name",
    "link_entities",
    "fuzzy_link",
    "geo_cluster_pairs",
    "pagerank",
    "personalized_pagerank",
    "hits",
    "label_propagation",
    "bgp_match",
    "triangles",
    "clustering_coefficients",
    "k_core",
    "neighbor_jaccard",
    "transitive_closure",
    "rdfs_infer",
    "canonicalize_triples",
    "validate_shapes",
]

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
RDFS_SUBCLASSOF = "http://www.w3.org/2000/01/rdf-schema#subClassOf"
RDFS_SUBPROPERTYOF = "http://www.w3.org/2000/01/rdf-schema#subPropertyOf"


def transitive_closure(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_rounds: int = 20,
) -> DataFrame:
    """All reachability pairs ``(src, dst)`` of a directed graph —
    transitive closure by iterative path DOUBLING, the log-rounds
    formulation (round k covers every path of length <= 2^k, so a
    graph of longest shortest-path L converges in ceil(log2 L) + 1
    rounds, vs L rounds for the edge-at-a-time recursive-CTE
    semantics the oracle uses).  The hierarchy/closure primitive of
    KG construction: rdfs:subClassOf ancestors, org hierarchies,
    skos:broader chains.

    Semantics match ``WITH RECURSIVE ... UNION``: the closure is the
    unique least fixpoint, cycles terminate (the union is a set), and
    a node on a cycle reaches itself (``(x, x)`` rows appear exactly
    for those nodes).  Self-loops in the input are preserved.

    Scale posture: each round is ONE self-equi-join of the reach set
    on its boundary column plus a distinct — both hash-partition on
    the join/dedup key, nothing broadcasts (the reach set is
    fact-sized), and each round's result cuts lineage through
    :func:`materialize`.  Convergence is a count() fixpoint test —
    the union grows monotonically, so equal counts mean equal sets.
    Raises ``RuntimeError`` if still growing after ``max_rounds``
    (2^20-length paths: not a real KG hierarchy).
    """
    reach = materialize(
        edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
        ).distinct(),
    )
    n = reach.count()
    for _ in range(int(max_rounds)):
        hop = (
            reach.alias("l")
            .join(reach.alias("r"), F.col("l.dst") == F.col("r.src"))
            .select(F.col("l.src").alias("src"), F.col("r.dst").alias("dst"))
        )
        new_reach = materialize(reach.unionByName(hop).distinct())
        m = new_reach.count()
        if m == n:
            return new_reach
        reach, n = new_reach, m
    raise RuntimeError(
        f"transitive_closure did not converge within {max_rounds} doubling "
        "rounds (longest path > 2^rounds edges); raise max_rounds"
    )


def rdfs_infer(
    triples: DataFrame,
    ontology: DataFrame,
    max_rounds: int = 20,
) -> DataFrame:
    """RDFS-lite forward chaining (the rho-df subset: rules rdfs5,
    rdfs7, rdfs9, rdfs11) — materialize the entailed triple set of
    ``triples`` (instance data) under ``ontology`` (schema triples
    whose preds are rdfs:subClassOf / rdfs:subPropertyOf).  The
    reference emits asserted triples only (lib/Connections2Triples.js
    :31-99); entailment materialization is the step a KG consumer
    runs so SPARQL answers include superclass/superproperty facts
    without query-time reasoning.

    Rule order is the standard stratification (sound + complete for
    ontologies where chaining does not mint new SCHEMA triples —
    nothing declared a subPropertyOf of rdfs:subClassOf /
    rdfs:subPropertyOf; a subPropertyOf of rdf:type IS supported,
    because rdfs7 runs before rdfs9 and its minted type facts feed
    class inference — pytest-pinned):

    1. rdfs5/rdfs11 — transitive closure of subPropertyOf and
       subClassOf (log-rounds :func:`transitive_closure`).
    2. rdfs7 — ``(s P o) & (P subProp Q) => (s Q o)`` over ALL data
       triples (type triples minted here feed step 3).
    3. rdfs9 — ``(s type C) & (C subCls D) => (s type D)``.

    Output: one row per entailed triple ``(subj, pred, obj,
    inferred)`` — the distinct union of data, schema, schema closure,
    and rule products; ``inferred`` is true for triples absent from
    the asserted input.

    Scale posture: the ontology is dimension-sized (every class and
    property of a web-scale KG is ~1e5 rows), so both rule joins
    BROADCAST the closed schema against the fact-sized data — the
    data-side never shuffles for inference.  The dedup AND the
    inferred flag come from ONE wide op: all candidate triples union
    with an ``asserted`` tag and a single map-side-combinable
    groupBy(subj, pred, obj).max(tag) collapses duplicates and marks
    rows never asserted — no separate distincts, no anti-join.  The
    key is the whole triple (near-unique, no hot keys).  The schema
    closure itself runs distributed but tiny.
    """
    data = triples.select("subj", "pred", "obj")
    schema = ontology.select("subj", "pred", "obj")
    sub_prp = transitive_closure(
        schema.where(F.col("pred") == RDFS_SUBPROPERTYOF).select(
            F.col("subj").alias("src"), F.col("obj").alias("dst")
        ),
        max_rounds=max_rounds,
    )
    sub_cls = transitive_closure(
        schema.where(F.col("pred") == RDFS_SUBCLASSOF).select(
            F.col("subj").alias("src"), F.col("obj").alias("dst")
        ),
        max_rounds=max_rounds,
    )
    # rdfs7: superproperty facts.
    prop_inf = data.join(
        F.broadcast(sub_prp), data["pred"] == sub_prp["src"]
    ).select("subj", F.col("dst").alias("pred"), "obj")
    with_props = data.unionByName(prop_inf)
    # rdfs9: superclass types (over asserted AND rdfs7-minted types).
    type_inf = (
        with_props.where(F.col("pred") == RDF_TYPE)
        .join(F.broadcast(sub_cls), F.col("obj") == sub_cls["src"])
        .select("subj", "pred", F.col("dst").alias("obj"))
    )
    closure_triples = sub_cls.select(
        F.col("src").alias("subj"),
        F.lit(RDFS_SUBCLASSOF).alias("pred"),
        F.col("dst").alias("obj"),
    ).unionByName(
        sub_prp.select(
            F.col("src").alias("subj"),
            F.lit(RDFS_SUBPROPERTYOF).alias("pred"),
            F.col("dst").alias("obj"),
        )
    )
    def tag(df: DataFrame, asserted: int) -> DataFrame:
        return df.withColumn("_asserted", F.lit(asserted))

    candidates = (
        tag(data, 1)
        .unionByName(tag(schema, 1))
        .unionByName(tag(prop_inf, 0))
        .unionByName(tag(type_inf, 0))
        .unionByName(tag(closure_triples, 0))
    )
    return (
        candidates.groupBy("subj", "pred", "obj")
        .agg(F.max("_asserted").alias("_asserted"))
        .select(
            "subj", "pred", "obj", (F.col("_asserted") == 0).alias("inferred")
        )
    )


def triple_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Snapshot delta between two triple sets: rows only in ``new``
    tagged ``added``, rows only in ``old`` tagged ``removed`` — the
    triple-level counterpart of the connection-level differential
    history (checkpoint.HistoryStore / reference lib/URIs history
    semantics): publish the delta, not the world.

    Two anti-joins on the full (subj, pred, obj) key.  Both sides
    shuffle-partition on the same key, so the joins co-locate; at
    100 TB this is the standard two-pass set-difference — no
    broadcast assumption, no skew (the key is the whole row, so
    duplicates are the only hot keys and triple sets are
    near-unique)."""
    key = ["subj", "pred", "obj"]
    added = new.select(key).join(old.select(key), key, "left_anti").withColumn(
        "change", F.lit("added")
    )
    removed = old.select(key).join(new.select(key), key, "left_anti").withColumn(
        "change", F.lit("removed")
    )
    return added.unionByName(removed)


def normalize_entity_name(col: Column) -> Column:
    """Canonical form of an entity surface name: lowercase, every
    non-alphanumeric run collapsed to one space, trimmed.  Pure
    whole-stage-codegen (the regex is in the Java-regex ∩ RE2 subset,
    so the DuckDB oracle mirrors it byte-for-byte)."""
    return F.trim(F.regexp_replace(F.lower(col), "[^a-z0-9]+", " "))


def link_entities(
    mentions: DataFrame,
    dictionary: DataFrame,
    raw_col: str = "raw",
    id_col: str = "stop_id",
    name_col: str = "stop_name",
) -> DataFrame:
    """Broadcast-join entity linking of free-text mentions against a
    canonical entity dictionary — the resolution step between "a page
    said 'Nye County Airport'" and the stop URI the graph uses (the
    reference keys stops purely by ``stop_id`` through its LevelDB
    store, lib/stores/StoreManager.js:9-13, and renders URIs from the
    resolved entity, lib/URIStrategy.js:52; linking messy mentions TO
    that id space is the step a web-scale extractor needs in front).

    Two tiers, strongest first, decided per row in one pass:

    1. **id**   — the mention IS a canonical id (exact match).
    2. **name** — :func:`normalize_entity_name` of the mention equals
       the normalized canonical name.  Names are not unique (the
       sample feed has 8 stops sharing one name), so the dictionary
       side pre-aggregates ``min(id)`` per normalized name — a
       deterministic canonical representative, which is exactly the
       keep-policy the dedup clustering uses.

    Unlinked mentions survive with ``link_method = 'none'`` (they are
    the recall denominator, not discards).

    Scale posture: the dictionary is dimension-sized (every transit
    stop on earth is ~1e6 rows) — both probes are explicit
    ``broadcast`` hash joins, the mention fact table never shuffles,
    and the name normalization is codegen'd into the same stage.
    Output adds ``linked_id`` / ``link_method`` to the mention rows.
    """
    ids = F.broadcast(dictionary.select(F.col(id_col).alias("_eid")).distinct())
    name_idx = F.broadcast(
        dictionary.select(
            normalize_entity_name(F.col(name_col)).alias("_nname"),
            F.col(id_col).alias("_nid"),
        )
        .groupBy("_nname")
        .agg(F.min("_nid").alias("_nid"))
    )
    out = (
        mentions.join(ids, F.col(raw_col) == F.col("_eid"), "left")
        .join(
            name_idx,
            normalize_entity_name(F.col(raw_col)) == F.col("_nname"),
            "left",
        )
        .withColumn("linked_id", F.coalesce("_eid", "_nid"))
        .withColumn(
            "link_method",
            F.when(F.col("_eid").isNotNull(), F.lit("id"))
            .when(F.col("_nid").isNotNull(), F.lit("name"))
            .otherwise(F.lit("none")),
        )
    )
    return out.drop("_eid", "_nid", "_nname")


def fuzzy_link(
    mentions: DataFrame,
    dictionary: DataFrame,
    mention_id_col: str = "mention_id",
    raw_col: str = "raw",
    id_col: str = "id",
    name_col: str = "name",
    max_dist: int = 1,
    block_prefix: int = 2,
) -> DataFrame:
    """Approximate record linkage: each mention links to the canonical
    entity whose normalized name is closest by Levenshtein distance
    (≤ ``max_dist``), ties broken by smallest id — the typo-tolerant
    tier BELOW :func:`link_entities`' exact tiers (the reference links
    purely by exact id through its LevelDB store,
    lib/stores/StoreManager.js:9-13; fuzzy surface matching is what a
    web-scale extractor needs when page text misspells stop names).

    Candidate generation is BLOCKED, the standard record-linkage
    tradeoff made explicit: a candidate pair must share the first
    ``block_prefix`` chars of the normalized name and sit within
    ``max_dist`` of each other's length. An edit inside the block
    prefix therefore escapes linkage (recall < 1 by design — that is
    what bounds the pair count; ``block_prefix=0`` degrades to one
    block per length band if full recall matters more than cost).

    Scale posture: the dictionary is dimension-sized, so the blocked
    dictionary broadcasts and the mention fact side joins without a
    shuffle; ``levenshtein`` is JVM codegen (O(len²) per CANDIDATE,
    never per cross-pair). The only exchange is the per-mention argmin
    over candidate rows (bounded by block fan-out, not corpus size).
    Output: ``(mention_id, linked_id, dist)`` for linked mentions only
    — unlinked mentions are the caller's anti-join away.
    """
    m_norm = normalize_entity_name(F.col(raw_col))
    d_norm = normalize_entity_name(F.col(name_col))
    m = mentions.select(
        F.col(mention_id_col).alias("mention_id"),
        m_norm.alias("_mnm"),
        F.substring(m_norm, 1, block_prefix).alias("_blk"),
        F.length(m_norm).alias("_mln"),
    )
    d = F.broadcast(
        dictionary.select(
            F.col(id_col).alias("linked_id"),
            d_norm.alias("_dnm"),
            F.substring(d_norm, 1, block_prefix).alias("_blk"),
            F.length(d_norm).alias("_dln"),
        )
    )
    cand = (
        m.join(d, "_blk")
        .where(F.abs(F.col("_mln") - F.col("_dln")) <= max_dist)
        .withColumn("dist", F.levenshtein("_mnm", "_dnm"))
        .where(F.col("dist") <= max_dist)
    )
    w = Window.partitionBy("mention_id").orderBy("dist", "linked_id")
    return (
        cand.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("mention_id", "linked_id", "dist")
    )


def geo_cluster_pairs(
    points: DataFrame,
    id_col: str = "id",
    lat_col: str = "lat",
    lon_col: str = "lon",
    radius_m: float = 100.0,
    cell_deg: float = 0.002,
) -> DataFrame:
    """Spatial entity resolution: all point pairs within ``radius_m``
    metres (haversine), found by grid-cell blocking — NEVER all-pairs.
    This is the cross-feed stop-dedup step (two agencies publishing
    the same physical platform under different ids; the reference
    carries ``stop_lat``/``stop_lon`` through its stops store,
    lib/stores/StoreManager.js:11, but leaves cross-feed identity to
    the consumer).

    Blocking: each point lands in a ``cell_deg``-degree grid cell; the
    left side fans out to its 3x3 cell neighborhood (two unpivoted
    literal arrays — 9x the dimension-ish left side, no skew) and
    equi-joins the right side's single home cell, so each unordered
    pair is produced exactly once (the one offset that maps a's cell
    onto b's; ``id_a < id_b`` kills the mirror).  Blocking is lossless
    while one cell spans >= ``radius_m`` in both axes at the working
    latitudes — with the defaults, 0.002 deg is ~222 m of latitude and
    ~165 m of longitude at 42 deg N.

    The exact haversine runs only on co-cell candidates, entirely in
    codegen (no UDF).  At 100 TB the equi-join shuffles on the cell
    key; hot cells (city centers) are bounded by physical stop density
    per ~200 m square, so the key distribution is capped by geography
    rather than data size.

    Output: ``(id_a, id_b)`` — feed into
    :func:`gtfs2lc_spark.datapipe.dedup.connected_components` for the
    owl:sameAs closure and canonical-id election.
    """
    base = points.select(
        F.col(id_col).alias("_id"),
        F.col(lat_col).cast("double").alias("_lat"),
        F.col(lon_col).cast("double").alias("_lon"),
    )

    def cell(c: Column) -> Column:
        return F.floor(c / F.lit(float(cell_deg))).cast("long")

    offsets = F.array(*[F.lit(i) for i in (-1, 0, 1)])
    a = (
        base.select("*", F.explode(offsets).alias("_di"))
        .select("*", F.explode(offsets).alias("_dj"))
        .select(
            F.col("_id").alias("id_a"),
            F.col("_lat").alias("_lat_a"),
            F.col("_lon").alias("_lon_a"),
            (cell(F.col("_lat")) + F.col("_di")).alias("_ci"),
            (cell(F.col("_lon")) + F.col("_dj")).alias("_cj"),
        )
    )
    b = base.select(
        F.col("_id").alias("id_b"),
        F.col("_lat").alias("_lat_b"),
        F.col("_lon").alias("_lon_b"),
        cell(F.col("_lat")).alias("_ci"),
        cell(F.col("_lon")).alias("_cj"),
    )
    dlat = F.radians(F.col("_lat_b") - F.col("_lat_a")) / 2
    dlon = F.radians(F.col("_lon_b") - F.col("_lon_a")) / 2
    hav = (
        F.pow(F.sin(dlat), 2)
        + F.cos(F.radians("_lat_a")) * F.cos(F.radians("_lat_b")) * F.pow(F.sin(dlon), 2)
    )
    dist_m = F.lit(2.0 * 6371000.0) * F.asin(F.sqrt(hav))
    return (
        a.join(b, ["_ci", "_cj"])
        .where(F.col("id_a") < F.col("id_b"))
        .where(dist_m <= F.lit(float(radius_m)))
        .select("id_a", "id_b")
    )


def personalized_pagerank(
    edges: DataFrame,
    sources: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
) -> DataFrame:
    """Personalized (topic-sensitive) PageRank with optional edge
    weights: the teleport mass returns to the SOURCE set instead of
    uniformly to all nodes, so ranks measure proximity-weighted
    endorsement relative to the seeds — the related-entity /
    crawl-frontier-from-seeds signal (given these trusted hub hosts,
    which hosts matter?).

    r_0 = 1/|S| on sources, 0 elsewhere;
    r_{k+1}(v) = (1-d)·1[v∈S]/|S| + d·Σ_{(u,v)} r_k(u)·w(u,v)/W(u)
    where W(u) is u's total out-weight (uniform weights when
    ``weight_col`` is None). With integer weights the per-edge ratio
    w/W divides two exact numbers, so the FP expression tree is
    engine-identical; ranks are rounded at each materialize boundary
    like :func:`hits` (the personalization vector makes mass
    distribution uneven enough that the pagerank additive-only
    argument no longer bounds drift).

    Scale posture matches :func:`pagerank`: ranks and the annotated
    edge list are fact-sized (never broadcast); ``sources`` is
    seed-sized and broadcasts into the teleport term. Each iteration
    is one equi-join + one map-side-combinable groupBy.
    Output: ``(node, rank)``.
    """
    w = (
        F.col(weight_col).cast("double")
        if weight_col is not None
        else F.lit(1.0)
    )
    e = edges.select(
        F.col(src_col).alias("_src"), F.col(dst_col).alias("_dst"), w.alias("_w")
    )
    seeds = F.broadcast(
        sources.select(F.col(sources.columns[0]).alias("node")).distinct()
    )
    # node set = edge endpoints UNION seeds: a seed outside the edge
    # list still holds its teleport mass (and appears in the output) —
    # dropping it would silently leak (1-d)/|S| of rank per iteration
    nodes = materialize(
        e.select(F.col("_src").alias("node"))
        .unionByName(e.select(F.col("_dst").alias("node")))
        .unionByName(seeds)
        .distinct(),
    )
    outw = e.groupBy("_src").agg(F.sum("_w").alias("_outw"))
    ann = materialize(e.join(outw, "_src"))
    n_seeds = F.broadcast(seeds.agg(F.count(F.lit(1)).alias("_ns")))
    teleport = (
        nodes.join(seeds.withColumn("_is_seed", F.lit(1)), "node", "left")
        .crossJoin(n_seeds)
        .select(
            "node",
            F.when(F.col("_is_seed") == 1, F.lit(1.0) / F.col("_ns"))
            .otherwise(F.lit(0.0))
            .alias("_tp"),
        )
    )
    base = materialize(teleport)
    ranks = base.select("node", F.col("_tp").alias("rank"))
    for _ in range(int(iterations)):
        contrib = (
            ann.join(ranks.withColumnRenamed("node", "_src"), "_src")
            .groupBy(F.col("_dst").alias("node"))
            .agg(F.sum(F.col("rank") * F.col("_w") / F.col("_outw")).alias("_c"))
        )
        ranks = materialize(
            base.join(contrib, "node", "left").select(
                "node",
                F.round(
                    (F.lit(1.0) - F.lit(float(damping))) * F.col("_tp")
                    + F.lit(float(damping)) * F.coalesce("_c", F.lit(0.0)),
                    6,
                ).alias("rank"),
            ),
        )
    return ranks


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list — the
    web/host authority signal a Common-Crawl-scale corpus pipeline
    uses for source weighting (and the canonical "iterative algorithm
    on Spark" shape).

    r_0 = 1/N; r_{k+1}(v) = (1-d)/N + d * sum over in-edges (u,v) of
    r_k(u)/outdeg(u).  Nodes with no in-edges get the teleport term;
    dangling nodes (no out-edges) simply contribute nothing — the
    fixed-iteration map is deterministic either way, and the DuckDB
    oracle unrolls the identical recurrence.

    Scale posture: ranks are FACT-sized at web scale (1e9+ hosts), so
    nothing is broadcast — each iteration is one equi-join of ranks
    with the out-degree-annotated edge list on ``src`` (both sides
    hash-partition on the key; a rank row is one narrow pair) and one
    map-side-combinable groupBy on ``dst``.  Hot dst keys (everyone
    links to the big hosts) collapse in the partial aggregation.  Each
    round's result cuts lineage through :func:`materialize`; the edge
    list with out-degrees is materialized once and reused.
    """
    e = edges.select(F.col(src_col).alias("_src"), F.col(dst_col).alias("_dst"))
    nodes = materialize(
        e.select(F.col("_src").alias("node"))
        .unionByName(e.select(F.col("_dst").alias("node")))
        .distinct(),
    )
    outdeg = e.groupBy("_src").agg(F.count(F.lit(1)).alias("_outdeg"))
    ann = materialize(e.join(outdeg, "_src"))
    n_nodes = F.broadcast(nodes.agg(F.count(F.lit(1)).alias("_n")))
    ranks = nodes.crossJoin(n_nodes).select(
        "node", (F.lit(1.0) / F.col("_n")).alias("rank")
    )
    for _ in range(int(iterations)):
        contrib = (
            ann.join(ranks.withColumnRenamed("node", "_src"), "_src")
            .groupBy(F.col("_dst").alias("node"))
            .agg(F.sum(F.col("rank") / F.col("_outdeg")).alias("_contrib"))
        )
        ranks = materialize(
            nodes.join(contrib, "node", "left")
            .crossJoin(n_nodes)
            .select(
                "node",
                (
                    (F.lit(1.0) - F.lit(float(damping))) / F.col("_n")
                    + F.lit(float(damping)) * F.coalesce("_contrib", F.lit(0.0))
                ).alias("rank"),
            ),
        )
    return ranks


def hits(
    edges: DataFrame,
    iterations: int = 2,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Fixed-iteration HITS (hubs & authorities) over a directed edge
    list — the complement of :func:`pagerank`: pagerank scores global
    endorsement, HITS separates "pages that point at good content"
    (hubs) from "content good pages point at" (authorities); crawl
    frontier schedulers want both signals.

    h_0 = 1 for all nodes; each iteration computes
    ``a(v) = Σ_{(u,v)} h(u)`` then ``h(u) = Σ_{(u,v)} a(v)``, each
    L1-normalized and ROUNDED AT THE 6-dp BOUNDARY (unlike pagerank's
    purely additive update, the normalizing division would amplify
    FP-sum-order differences multiplicatively across iterations — the
    same round-at-boundary determinism contract as
    text.train_quality_classifier, and the DuckDB oracle unrolls the
    identical rounded recurrence). Multi-edges contribute multiply —
    ``distinct()`` the edge list first if simple-graph semantics are
    wanted.

    Scale posture mirrors pagerank: scores are fact-sized, never
    broadcast; each half-iteration is one equi-join of scores with the
    edge list plus one map-side-combinable groupBy; only the scalar L1
    total (one row) broadcasts. Rounds cut lineage through
    :func:`materialize`. Output: ``(node, hub, authority)``.
    """
    e = materialize(
        edges.select(F.col(src_col).alias("_src"), F.col(dst_col).alias("_dst"))
        .where(F.col(src_col).isNotNull() & F.col(dst_col).isNotNull()),
    )
    nodes = materialize(
        e.select(F.col("_src").alias("node"))
        .unionByName(e.select(F.col("_dst").alias("node")))
        .distinct(),
    )

    def _norm(scores: DataFrame, col: str) -> DataFrame:
        tot = F.broadcast(scores.agg(F.sum(col).alias("_tot")))
        return materialize(
            scores.crossJoin(tot).select(
                "node",
                F.when(
                    F.col("_tot") > 0, F.round(F.col(col) / F.col("_tot"), 6)
                )
                .otherwise(F.lit(0.0))
                .alias(col),
            ),
        )

    hub = nodes.select("node", F.lit(1.0).alias("hub"))
    auth = nodes.select("node", F.lit(0.0).alias("authority"))
    for _ in range(int(iterations)):
        a_raw = (
            e.join(hub.withColumnRenamed("node", "_src"), "_src")
            .groupBy(F.col("_dst").alias("node"))
            .agg(F.sum("hub").alias("authority"))
        )
        auth = _norm(
            nodes.join(a_raw, "node", "left").select(
                "node", F.coalesce("authority", F.lit(0.0)).alias("authority")
            ),
            "authority",
        )
        h_raw = (
            e.join(auth.withColumnRenamed("node", "_dst"), "_dst")
            .groupBy(F.col("_src").alias("node"))
            .agg(F.sum("authority").alias("hub"))
        )
        hub = _norm(
            nodes.join(h_raw, "node", "left").select(
                "node", F.coalesce("hub", F.lit(0.0)).alias("hub")
            ),
            "hub",
        )
    # hub and auth are each built as nodes-left-join-coalesce inside
    # the loop (and as full-cover literals at iterations=0), so both
    # already hold exactly one non-NULL row per node — one equi-join
    # zips them, no re-join against nodes needed
    return hub.join(auth, "node").select("node", "hub", "authority")


def label_propagation(
    edges: DataFrame,
    iterations: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Deterministic SYNCHRONOUS label-propagation community detection
    over an undirected graph — the cheap modularity-free community
    signal (host clusters, near-dup neighborhoods beyond pure
    connectivity). Distinct from connected_components: LPA converges
    to DENSE groups (a node adopts its neighborhood's majority label),
    while CC merges anything reachable.

    Classic LPA is notoriously nondeterministic (random update order,
    random tie-breaks). This formulation pins both: updates are
    synchronous (all nodes from the same previous round) and the new
    label is the neighbor label with (max count, then MIN label) —
    a pure function of the graph, mirrored exactly by the oracle's
    unrolled SQL. Fixed ``iterations`` rather than convergence: sync
    LPA can 2-cycle on bipartite-ish structures, so a fixpoint test
    need not terminate; fixed rounds are the standard remedy.

    Nodes start with their own id as label. Each round is ONE
    node-keyed exchange: labels join the symmetrized edge list on the
    neighbor side, a map-side-combinable count per (node, label), and
    a tiny per-node argmax window. The node set is the endpoints of
    non-self-loop edges — nodes with no (proper) edge have no
    community signal and do NOT appear in the output; union them in
    as singletons downstream if needed. Rounds cut lineage through
    :func:`materialize`.

    Output: ``(node, label)`` — nodes sharing a label share a
    community.
    """
    e = edges.select(F.col(src_col).alias("_a"), F.col(dst_col).alias("_b"))
    sym = materialize(
        e.unionByName(
            e.select(F.col("_b").alias("_a"), F.col("_a").alias("_b"))
        )
        .where(F.col("_a") != F.col("_b"))
        .distinct(),
    )
    nodes = materialize(sym.select(F.col("_a").alias("node")).distinct())
    labels = nodes.select("node", F.col("node").alias("label"))
    w = Window.partitionBy("node").orderBy(F.desc("_cnt"), F.asc("label"))
    for _ in range(int(iterations)):
        neigh = (
            sym.join(labels.withColumnRenamed("node", "_b"), "_b")
            .groupBy(F.col("_a").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("_cnt"))
        )
        # every node in the (symmetric) edge set has >= 1 neighbor, so
        # `best` already covers the full node set — no fallback join
        labels = materialize(
            neigh.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("node", "label"),
        )
    return labels


def bgp_match(
    triples: DataFrame,
    patterns: list[tuple[str, str, str]],
    allow_product: bool = False,
) -> DataFrame:
    """SPARQL-style basic-graph-pattern matching over a (subj, pred,
    obj) table — the KG *query* counterpart of the graph the pipeline
    materializes (the reference emits the triples,
    lib/Connections2Triples.js:31-99, and leaves querying to SPARQL
    endpoints downstream; this answers those queries Spark-side).

    Each pattern is a ``(s, p, o)`` triple whose elements are either a
    variable (``"?name"``) or a constant IRI/literal.  The result has
    one column per distinct variable (first-appearance order), one row
    per solution mapping — standard BGP join semantics, including
    repeated variables inside one pattern (matched as an equality
    filter).

    Join planning is explicit and selectivity-ordered: patterns with
    more constant positions bind first (a constant subject or object
    prunes harder than a variable), and the left-deep join chain only
    ever adds a pattern sharing >= 1 bound variable, so every step is
    an equi-join on the shared variables.  A disconnected pattern
    group would force a cartesian product — that is almost always a
    query bug at 1e12-triple scale, so it raises unless
    ``allow_product=True`` (mirroring the no-cartesian posture the
    plan tests lock everywhere else).

    Scale posture: each pattern scan is the triple table with its
    constants pushed down to the storage filter (pred-constant scans
    prune to one predicate partition under pred-partitioned layouts);
    the joins are hash equi-joins on variable columns and AQE is free
    to broadcast genuinely selective sides at runtime.  Nothing is
    collected on the driver and no join is quadratic.
    """
    if not patterns:
        raise ValueError("bgp_match needs at least one pattern")

    def is_var(x: str) -> bool:
        return isinstance(x, str) and x.startswith("?")

    compiled = []  # (n_constants, input_idx, var_set, DataFrame)
    for idx, (s, p, o) in enumerate(patterns):
        df = triples.select("subj", "pred", "obj")
        n_const = 0
        var_map: dict[str, str] = {}
        for val, col in ((s, "subj"), (p, "pred"), (o, "obj")):
            if is_var(val):
                v = val[1:]
                if not v:
                    raise ValueError(f"empty variable name in pattern {idx}")
                if v in var_map:  # repeated var within one pattern
                    df = df.where(F.col(col) == F.col(var_map[v]))
                else:
                    var_map[v] = col
            else:
                df = df.where(F.col(col) == F.lit(val))
                n_const += 1
        if not var_map:
            raise ValueError(
                f"pattern {idx} has no variables — an ASK pattern; "
                "filter the triple table directly instead"
            )
        proj = df.select(*[F.col(c).alias(v) for v, c in var_map.items()])
        compiled.append((n_const, idx, frozenset(var_map), proj))

    remaining = sorted(compiled, key=lambda t: (-t[0], t[1]))
    n_const, _, bound_f, acc = remaining.pop(0)
    bound = set(bound_f)
    while remaining:
        connected = [t for t in remaining if t[2] & bound]
        if connected:
            nxt = min(connected, key=lambda t: (-t[0], t[1]))
            acc = acc.join(nxt[3], sorted(nxt[2] & bound))
        else:
            if not allow_product:
                raise ValueError(
                    "basic graph pattern is disconnected — joining the "
                    "groups is a cartesian product; pass "
                    "allow_product=True to run it anyway"
                )
            nxt = min(remaining, key=lambda t: (-t[0], t[1]))
            acc = acc.crossJoin(nxt[3])
        bound |= nxt[2]
        remaining.remove(nxt)

    out_order: list[str] = []
    for s, p, o in patterns:
        for val in (s, p, o):
            if is_var(val) and val[1:] not in out_order:
                out_order.append(val[1:])
    return acc.select(*out_order)


def _undirected(edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """Normalize a directed edge list to unordered ``(_a < _b)`` pairs:
    symmetrize via least/greatest, drop self-loops, dedup. Shared by
    every undirected-graph operator so edge normalization cannot
    silently diverge between them."""
    return (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("_a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("_b"),
        )
        .where(F.col("_a") != F.col("_b"))
        .distinct()
    )


def _undirected_degrees(und: DataFrame, out_col: str = "_deg") -> DataFrame:
    """Per-node degree of an :func:`_undirected` edge list — one
    map-side-combinable count over the 2x endpoint expansion."""
    return (
        und.select(F.col("_a").alias("node"))
        .unionByName(und.select(F.col("_b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias(out_col))
    )


def triangles(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Enumerate the triangles of an undirected graph (each exactly
    once) by degree-ordered wedge join — the clustering-coefficient /
    community-density primitive over the host-link graph, and the
    textbook skew-proof graph join on Spark.

    Edges are first symmetrized and deduplicated to unordered pairs.
    Each edge is then ORIENTED from its lower-(degree, id) endpoint to
    the higher one, and wedges are built only around the low-degree
    center: ``(u→v, u→w)`` with ``(v) < (w)`` in the same order,
    closed by probing the oriented edge set for ``v→w``.  Degree
    orientation is the load-bearing trick — a celebrity host with 1e7
    neighbours is never a wedge center unless both wings have even
    higher degree, so per-key wedge fan-out is bounded by ~sqrt(|E|)
    instead of max-degree² (the classic Suri/Vassilvitskii bound).

    All three steps are equi-joins / map-side-combinable aggregations;
    degree annotation joins on the node key (fact-sized at web scale,
    so nothing is broadcast).  Output: one row per triangle with the
    three node ids sorted ascending as ``n1 < n2 < n3`` — identical to
    an id-oriented enumeration, so the oracle can use the simpler
    id-ordering.
    """
    return _triangles_from_und(_undirected(edges, src_col, dst_col))


def _triangles_from_und(e: DataFrame) -> DataFrame:
    """Wedge-join triangle enumeration over an already-normalized
    :func:`_undirected` edge list (callers that have one avoid paying
    the normalization shuffle twice)."""
    deg = _undirected_degrees(e)
    ann = (
        e.join(deg.select(F.col("node").alias("_a"), F.col("_deg").alias("_da")), "_a")
        .join(deg.select(F.col("node").alias("_b"), F.col("_deg").alias("_db")), "_b")
    )
    lower_first = (F.col("_da") < F.col("_db")) | (
        (F.col("_da") == F.col("_db")) & (F.col("_a") < F.col("_b"))
    )
    oriented = materialize(
        ann.select(
            F.when(lower_first, F.col("_a")).otherwise(F.col("_b")).alias("_u"),
            F.when(lower_first, F.col("_b")).otherwise(F.col("_a")).alias("_v"),
            F.when(lower_first, F.col("_da")).otherwise(F.col("_db")).alias("_du"),
            F.when(lower_first, F.col("_db")).otherwise(F.col("_da")).alias("_dv"),
        ),
    )
    w1 = oriented.select("_u", F.col("_v").alias("_w1"), F.col("_dv").alias("_dw1"))
    w2 = oriented.select("_u", F.col("_v").alias("_w2"), F.col("_dv").alias("_dw2"))
    wedges = w1.join(w2, "_u").where(
        (F.col("_dw1") < F.col("_dw2"))
        | ((F.col("_dw1") == F.col("_dw2")) & (F.col("_w1") < F.col("_w2")))
    )
    closed = wedges.join(
        oriented.select(F.col("_u").alias("_w1"), F.col("_v").alias("_w2")),
        ["_w1", "_w2"],
    )
    nodes3 = F.array_sort(F.array("_u", "_w1", "_w2"))
    return closed.select(
        F.element_at(nodes3, 1).alias("n1"),
        F.element_at(nodes3, 2).alias("n2"),
        F.element_at(nodes3, 3).alias("n3"),
    )


def clustering_coefficients(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Per-node LOCAL clustering coefficient over an undirected graph:
    ``2 * triangles(v) / (deg(v) * (deg(v) - 1))`` — how close each
    node's neighborhood is to a clique (the community-density profile
    behind spam-farm and link-ring detection; the graph-level
    complement of :func:`degree_histogram`).

    Composes :func:`triangles` (degree-ordered wedge join, per-key
    fan-out bounded ~sqrt(|E|)): each enumerated triangle explodes to
    its 3 member nodes — a map-side 3x expansion of the TRIANGLE set,
    not the edge set — and one map-side-combinable count per node;
    degrees come from the deduplicated unordered edge list. The
    coefficient is a ratio of exact integers (IEEE-exact, engine-
    portable) rounded 6 dp; degree-<2 nodes have coefficient 0.

    Output: ``(node, degree, n_triangles, coeff)``.
    """
    und = _undirected(edges, src_col, dst_col)
    deg = _undirected_degrees(und, "degree")
    tri = _triangles_from_und(und)
    per_node = (
        tri.select(
            F.explode(F.array(F.col("n1"), F.col("n2"), F.col("n3"))).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        deg.join(per_node, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
            F.when(
                F.col("degree") >= 2,
                F.round(
                    F.lit(2.0)
                    * F.coalesce("n_triangles", F.lit(0))
                    / (F.col("degree") * (F.col("degree") - 1)),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("coeff"),
        )
    )


def k_core(
    edges: DataFrame,
    k: int = 2,
    src_col: str = "src",
    dst_col: str = "dst",
    max_rounds: int = 50,
) -> DataFrame:
    """The k-CORE of an undirected graph: the maximal subgraph where
    every node has degree ≥ k, by iterative peeling — the
    link-farm/strong-community skeleton extractor (pendant chains and
    weakly attached hosts peel away; what remains is densely
    interlinked).

    Each round: degrees over the surviving edge set (one map-side-
    combinable count), drop nodes with degree < k, keep only edges
    with BOTH endpoints surviving (two semi-joins on the skinny node
    set). Converges when no node is dropped (count fixpoint — the
    surviving set shrinks monotonically, so equal counts mean equal
    sets); rounds are bounded by the peel depth, and each round cuts
    lineage through :func:`materialize`. The peel is idempotent after
    convergence, so an oracle may safely unroll MORE rounds than
    needed. Raises ``RuntimeError`` after ``max_rounds``.

    Output: ``(node, core_degree)`` — surviving nodes with their
    degree inside the k-core.
    """
    und = materialize(_undirected(edges, src_col, dst_col))
    prev = -1
    for _ in range(int(max_rounds)):
        deg = _undirected_degrees(und, "core_degree")
        keep = materialize(deg.where(F.col("core_degree") >= int(k)))
        n = keep.count()
        if n == prev:
            return keep
        prev = n
        und = materialize(
            und.join(
                keep.select(F.col("node").alias("_a")), "_a", "left_semi"
            ).join(keep.select(F.col("node").alias("_b")), "_b", "left_semi"),
        )
    raise RuntimeError(
        f"k_core did not converge within {max_rounds} peel rounds"
    )


def neighbor_jaccard(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_center_degree: int | None = None,
) -> DataFrame:
    """Link-based related entities: Jaccard similarity of UNDIRECTED
    neighborhoods for every node pair sharing ≥1 neighbor — the
    co-citation "related hosts/entities" signal (two hosts are related
    when the same third parties link both), computed WITHOUT materializing
    neighbor sets:

        common(a,b) = # wedges a—x—b  (one self-join on the center x)
        jaccard     = common / (deg(a) + deg(b) - common)

    — exact-integer ratio, engine-portable, rounded 6 dp. Only pairs
    with a common neighbor ever exist, so the pair set is bounded by
    the WEDGE count, not n². The known hazard is the celebrity center
    (degree D mints D² pairs); ``max_center_degree`` drops hub centers
    from wedge generation — the standard co-citation practice (a hub
    linking everyone carries no similarity information anyway). When
    capped, ``common`` counts only sub-hub wedges while degrees stay
    TRUE degrees, so the score is a lower bound — documented, not
    silent: pass None to keep exact semantics.

    Output: ``(node_a, node_b, n_common, jaccard)`` with
    ``node_a < node_b``.
    """
    und = _undirected(edges, src_col, dst_col)
    adj = materialize(
        und.select(F.col("_a").alias("node"), F.col("_b").alias("nbr"))
        .unionByName(und.select(F.col("_b").alias("node"), F.col("_a").alias("nbr"))),
    )
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("_deg"))
    centers = adj.select(F.col("nbr").alias("_x"), F.col("node").alias("_n"))
    if max_center_degree is not None:
        ok = deg.where(F.col("_deg") <= int(max_center_degree)).select(
            F.col("node").alias("_x")
        )
        centers = centers.join(ok, "_x", "left_semi")
    left = centers.select("_x", F.col("_n").alias("node_a"))
    right = centers.select("_x", F.col("_n").alias("node_b"))
    common = (
        left.join(right, "_x")
        .where(F.col("node_a") < F.col("node_b"))
        .groupBy("node_a", "node_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    da = deg.select(F.col("node").alias("node_a"), F.col("_deg").alias("_da"))
    db = deg.select(F.col("node").alias("node_b"), F.col("_deg").alias("_db"))
    return (
        common.join(da, "node_a")
        .join(db, "node_b")
        .select(
            "node_a",
            "node_b",
            "n_common",
            F.round(
                F.col("n_common")
                / (F.col("_da") + F.col("_db") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


def star_join(triples: DataFrame, predicates: dict[str, str]) -> DataFrame:
    """Reassemble one row per subject from a (subj, pred, obj) table.

    ``predicates`` maps output column name -> predicate IRI.  The
    classic RDF "star join" (one self-join per predicate in a naive
    triple store) collapses to a single groupBy with conditional
    aggregates: one shuffle, map-side combinable, no join at all.
    Missing predicates yield NULL (OPTIONAL semantics).
    """
    aggs = [
        F.max(F.when(F.col("pred") == iri, F.col("obj"))).alias(name)
        for name, iri in predicates.items()
    ]
    return triples.groupBy("subj").agg(*aggs)


def predicate_stats(triples: DataFrame) -> DataFrame:
    """Per-predicate triple count + distinct-object count — the KG
    profiling query run before choosing storage/partition layouts.

    ``countDistinct`` plans as expand + two-phase agg keyed on
    (pred, obj): the heavy dedup happens across the cluster, the final
    per-pred rollup is ~10 rows."""
    return triples.groupBy("pred").agg(
        F.count(F.lit(1)).alias("n_triples"),
        F.countDistinct("obj").alias("n_distinct_obj"),
        F.countDistinct("subj").alias("n_distinct_subj"),
    )


def earliest_arrivals(
    conns: DataFrame,
    source_stop: str,
    dep_after,
    max_rounds: int = 25,
    dep_stop_col: str = "dep_stop_id",
    arr_stop_col: str = "arr_stop_id",
    dep_ts_col: str = "departure_ts",
    arr_ts_col: str = "arrival_ts",
) -> DataFrame:
    """Time-respecting earliest arrival from ``source_stop`` departing
    at/after ``dep_after`` — the Connection Scan Algorithm's answer
    set, computed by distributed label correction.

    CSA scans connections in departure order on one core; that order
    is exactly what a cluster cannot share, so this uses the standard
    label-correcting reformulation: a frontier of (stop, earliest)
    labels is joined against catchable connections
    (``dep_ts >= label``), arrivals relax the frontier, repeat to
    fixpoint.  Min-labels dominate (any connection catchable from a
    later arrival is catchable from an earlier one), so keeping only
    the per-stop minimum each round reaches the same fixpoint as
    enumerating every time-respecting chain.

    Each round: connections (pre-filtered to ``dep_ts >= dep_after``,
    a pushed-down scan predicate) BROADCAST-join the frontier — labels
    are bounded by |stops|, a dimension.  The fact side never
    shuffles; the per-round groupBy runs over frontier-sized data.
    Raises ``RuntimeError`` if ``max_rounds`` is exhausted while
    labels are still improving (matches connected_components' strict
    non-convergence contract).
    """
    spark = conns.sparkSession
    cset = materialize(
        conns.where(F.col(dep_ts_col) >= F.lit(dep_after))
        .select(
            F.col(dep_stop_col).alias("_dep"),
            F.col(arr_stop_col).alias("_arr"),
            F.col(dep_ts_col).alias("_dep_ts"),
            F.col(arr_ts_col).alias("_arr_ts"),
        ),
    )
    labels = spark.createDataFrame(
        [(source_stop,)], "stop string"
    ).select("stop", F.lit(dep_after).cast("timestamp").alias("earliest"))

    for _ in range(max_rounds):
        relaxed = (
            cset.join(
                F.broadcast(labels),
                (cset["_dep"] == labels["stop"])
                & (cset["_dep_ts"] >= labels["earliest"]),
            )
            .select(F.col("_arr").alias("stop"), F.col("_arr_ts").alias("earliest"))
        )
        new_labels = materialize(
            labels.unionByName(relaxed)
            .groupBy("stop")
            .agg(F.min("earliest").alias("earliest")),
        )
        improved = (
            new_labels.alias("n")
            .join(labels.alias("o"), "stop", "left")
            .where(
                F.col("o.earliest").isNull()
                | (F.col("n.earliest") < F.col("o.earliest"))
            )
            .limit(1)
            .count()
        )
        labels = new_labels
        if improved == 0:
            return labels
    raise RuntimeError(
        f"earliest_arrivals did not converge within {max_rounds} rounds; "
        "raise max_rounds (bound = longest optimal connection chain)"
    )


def canonicalize_triples(
    triples: DataFrame,
    canon_map: DataFrame,
    id_col: str = "id",
    canon_col: str = "canonical_id",
    broadcast_map: bool = True,
) -> DataFrame:
    """Rewrite a triple set through an entity-canonicalization map —
    the owl:sameAs MERGE step of KG construction: after sameAs closure
    elects canonical ids (geo_cluster_pairs ->
    dedup.connected_components), every triple mentioning a merged
    entity must point at the canonical one, then duplicates collapse
    (two feeds asserting the same fact about the same physical stop
    become ONE triple).  The reference keys entities per-feed and
    leaves cross-feed identity to consumers; this is that step.

    ``canon_map`` holds (id, canonical_id) rows for NON-canonical
    members only or for all members — ids absent from the map pass
    through unchanged (left join + coalesce), so both conventions
    work.  Subjects and objects are both rewritten; predicates never
    are (schema IRIs are not instance entities).

    Scale posture: the map is dimension-sized (merged-entity count),
    so by default both rewrites are explicit BROADCAST left joins and
    the triple fact table never shuffles for the rewrite; pass
    ``broadcast_map=False`` for a pathological map (then both sides
    hash-partition on the join key).  The final duplicate collapse is
    one distinct on the whole rewritten triple — the only wide op,
    near-unique key.
    """
    m = canon_map.select(
        F.col(id_col).alias("_m_id"), F.col(canon_col).alias("_m_canon")
    )
    if broadcast_map:
        m = F.broadcast(m)
    out = (
        triples.select("subj", "pred", "obj")
        .join(m, F.col("subj") == F.col("_m_id"), "left")
        .select(
            F.coalesce("_m_canon", "subj").alias("subj"), "pred", "obj"
        )
        .join(m, F.col("obj") == F.col("_m_id"), "left")
        .select(
            "subj", "pred", F.coalesce("_m_canon", "obj").alias("obj")
        )
    )
    return out.distinct()


def validate_shapes(
    triples: DataFrame,
    shapes: dict[str, dict[str, dict[str, object]]],
) -> DataFrame:
    """SHACL-lite shape validation over a (subj, pred, obj) table —
    the QA step of KG construction: before publishing, assert that
    every instance of a class carries its required properties with
    sane cardinalities.  The reference guarantees this by
    construction (every connection row emits the same triple bundle,
    lib/Connections2Triples.js:31-99); a web-extracted graph cannot,
    so violations must be MATERIALIZED, not assumed away.

    ``shapes`` maps a class IRI to property constraints::

        {class_iri: {pred_iri: {"min": 1, "max": 1}, ...}, ...}

    ``min`` (default 0) and ``max`` (default None = unbounded) bound
    the number of ``pred_iri`` triples per focus node.  Output: one
    row per (focus, shape_class, pred, n, violation) where violation
    is ``'missing'`` (n < min) or ``'excess'`` (n > max) — conforming
    (focus, pred) pairs are not emitted.

    Scale posture: focus nodes come from one pushed-down rdf:type
    scan; per-focus property counts are ONE map-side-combinable
    groupBy(subj, pred) over the constrained predicates only (filter
    pushed to the scan), joined back to focus nodes on subj —
    co-partitioned hash join, no broadcast assumption (focus sets are
    fact-sized).  The constraint table itself is rows-in-the-plan
    (a literal array), never a driver collect.
    """
    rows = []
    for cls, preds in shapes.items():
        for pred, c in preds.items():
            rows.append(
                (
                    cls,
                    pred,
                    int(c.get("min", 0)),
                    None if c.get("max") is None else int(c["max"]),
                )
            )
    spark = triples.sparkSession
    constraints = F.broadcast(
        spark.createDataFrame(
            rows, "shape_class string, c_pred string, c_min int, c_max int"
        )
    )
    focus = (
        triples.where(F.col("pred") == RDF_TYPE)
        .select(F.col("subj").alias("focus"), F.col("obj").alias("shape_class"))
        .join(
            F.broadcast(
                constraints.select("shape_class").distinct()
            ),
            "shape_class",
        )
    )
    constrained_preds = sorted({p for preds in shapes.values() for p in preds})
    counts = (
        triples.where(F.col("pred").isin(constrained_preds))
        .groupBy(F.col("subj").alias("focus"), F.col("pred").alias("c_pred"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    per_focus = (
        focus.join(constraints, "shape_class")
        .join(counts, ["focus", "c_pred"], "left")
        .select(
            "focus",
            "shape_class",
            F.col("c_pred").alias("pred"),
            F.coalesce("n", F.lit(0)).alias("n"),
            "c_min",
            "c_max",
        )
    )
    return (
        per_focus.withColumn(
            "violation",
            F.when(F.col("n") < F.col("c_min"), F.lit("missing")).when(
                F.col("c_max").isNotNull() & (F.col("n") > F.col("c_max")),
                F.lit("excess"),
            ),
        )
        .where(F.col("violation").isNotNull())
        .select("focus", "shape_class", "pred", "n", "violation")
    )


def khop_distances(
    edges: DataFrame,
    seeds: DataFrame,
    k: int,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "node",
) -> DataFrame:
    """Minimum hop distance from a seed set to every node reachable in
    <= ``k`` hops — frontier BFS, the bounded-neighborhood primitive
    (crawl frontier expansion, KG context windows around query
    entities, GNN sampling fan-out).

    Exactly ``k`` rounds worst case, each round ONE equi-join of the
    current frontier against the edge table on the source key plus an
    anti-join against the visited set (both hash-partitioned on the
    node key; the edge table never re-shuffles its side of the join
    key between rounds). BFS level order makes the first visit the
    minimum distance — no per-node min aggregation needed. Frontiers
    are fact-sized at web scale, so nothing broadcasts (contrast
    earliest_arrivals, whose frontier is dimension-bounded and
    broadcast deliberately). Early exit when a frontier empties; each
    round's sets cut lineage through :func:`materialize`.

    Output: (node, hops) with hops in [0, k], one row per reached
    node.
    """
    dist = materialize(
        seeds.select(F.col(seed_col).alias("node"))
        .distinct()
        .withColumn("hops", F.lit(0).cast("long")),
    )
    frontier = dist.select("node")
    e = edges.select(F.col(src_col).alias("_s"), F.col(dst_col).alias("_d"))
    for h in range(1, int(k) + 1):
        nxt = (
            frontier.join(e, frontier["node"] == e["_s"])
            .select(F.col("_d").alias("node"))
            .distinct()
            .join(dist.select("node"), "node", "left_anti")
            .withColumn("hops", F.lit(h).cast("long"))
        )
        nxt = materialize(nxt)
        if nxt.isEmpty():
            return dist
        dist = materialize(dist.unionByName(nxt))
        frontier = nxt.select("node")
    return dist


def state_at(
    changes: DataFrame,
    as_of: int,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
    op_col: str = "op",
    ts_col: str = "t",
) -> DataFrame:
    """CDC-style graph state reconstruction: the triple set as of
    integer time ``as_of``, from an add/del change log — a triple is
    present iff the LAST change at ``t <= as_of`` is an ``'add'``.
    The temporal complement of :func:`triple_diff` (which produces a
    delta between states; this replays deltas into a state).

    ONE map-side-combinable aggregation: the latest (t, op) per
    triple key via max(struct(t, op)) — ties at identical t resolve
    'del'-over-'add' deterministically ('add' < 'del' lexically, the
    conservative read for a same-instant add+del). The time filter
    sits under the aggregation, pushed to the scan.

    Timestamps must be integers (epoch seconds/micros) — exact
    cross-engine comparison, no timezone semantics in the key.
    """
    c = changes.where(F.col(ts_col) <= F.lit(int(as_of)))
    last = c.groupBy(subj, pred, obj).agg(
        F.max(F.struct(F.col(ts_col), F.col(op_col))).alias("_l")
    )
    return last.where(F.col("_l")[op_col] == "add").select(subj, pred, obj)


def degree_histogram(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Graph profiling: the undirected distinct-neighbor degree
    distribution — (degree, n_nodes). The first thing to look at
    before running anything quadratic-in-degree (triangles, wedge
    joins): a power-law tail here is the skew warning. Self-loops are
    excluded; multi-edges count once (distinct neighbor set).

    Plan: symmetrize (union), distinct (node, neighbor), one
    map-side-combinable count per node, then the tiny
    (degree -> n_nodes) rollup — the shuffle carries one row per
    distinct edge, then one per node, then one per distinct degree.
    """
    sym = edges.select(
        F.col(src).alias("node"), F.col(dst).alias("nbr")
    ).unionByName(edges.select(F.col(dst).alias("node"), F.col(src).alias("nbr")))
    deg = (
        sym.where(F.col("node") != F.col("nbr"))
        .distinct()
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    return deg.groupBy("degree").agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))


def crawl_priorities(
    edges: DataFrame,
    docs_per_host: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Crawl-budget allocation: PageRank host authority divided by
    (1 + documents already held) — important-but-under-crawled hosts
    float to the top, saturated ones sink (the diminishing-returns
    read of authority-weighted frontier scheduling). ``docs_per_host``
    is a (node, n_docs) table; hosts absent from it count 0.

    Ranks are fact-sized and never broadcast (pagerank's contract);
    the combine is one node-keyed left join + narrow arithmetic.
    Ratios divide the 6-dp-rounded rank so the result is engine-exact.

    Output: (host, rank, n_docs, crawl_priority), both ratios 6 dp.
    """
    pr = pagerank(edges, iterations, damping).select(
        "node", F.round("rank", 6).alias("rank")
    )
    j = pr.join(docs_per_host, "node", "left").na.fill(0, ["n_docs"])
    return j.select(
        F.col("node").alias("host"),
        "rank",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.round(F.col("rank") / (F.col("n_docs") + 1), 6).alias("crawl_priority"),
    )
