"""Deduplication operators for web-scale corpora.

- MinHash + LSH: shingle -> 32-perm minhash signature -> banded LSH
  bucketing -> candidate pairs -> exact Jaccard verification. Signature
  computation is pure array expressions (codegen'd, no Python); only
  candidate *pairs* ever shuffle, never the O(n^2) cross product.
- SimHash: 64-bit sign-aggregated token hashes, Hamming-distance
  candidates via band buckets.
- n-gram Jaccard: exact pairwise similarity for a bounded candidate set.
- embedding cosine near-dup: see similarity.py for the ANN machinery.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .text import tokens

_MERSENNE = 4294967311  # prime > 2^32
_MAX_A = 1 << 30


def minhash_params(num_perm: int = 32, seed: int = 42) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [(rng.randrange(1, _MAX_A), rng.randrange(0, _MAX_A)) for _ in range(num_perm)]


def portable_hash32(c: Column) -> Column:
    """Engine-portable 32-bit hash: first 8 hex chars of md5, as long.
    Reproducible in any engine with md5 — DuckDB:
    ``('0x' || substr(md5(x), 1, 8))::BIGINT``. Production paths default
    to xxhash64 (JVM-native, ~3x faster); this exists so the correctness
    gate can value-verify hash-dependent operators against an
    independent engine."""
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def portable_hash60(c: Column) -> Column:
    """Engine-portable 60-bit hash (15 hex chars of md5 — stays inside a
    signed 64-bit int in every engine). DuckDB:
    ``('0x' || substr(md5(x), 1, 15))::BIGINT``."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def _token_hash32(c: Column, hash_fn: str) -> Column:
    if hash_fn == "md5":
        return portable_hash32(c)
    return F.pmod(F.xxhash64(c), F.lit(1 << 32))


def word_shingles(text: Column, k: int = 3) -> Column:
    """Distinct word k-shingles as strings. (Spark's sequence(1, 0)
    counts DOWN, so short docs need an explicit guard.)"""
    toks = F.filter(tokens(text), lambda t: t != "")
    n = F.size(toks)
    shingled = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n - k + 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
        )
    )
    return F.when(n >= k, shingled).otherwise(F.array().cast("array<string>"))


def minhash_signature_from_hashes(
    h32: Column, num_perm: int = 32, seed: int = 42
) -> Column:
    """num_perm-wide minhash signature from a PRECOMPUTED 32-bit
    shingle-hash array column: sig_p = min((a_p*h32+b_p) mod P).
    a_p < 2^30 keeps a*h below 2^62 — no long overflow. Empty shingle
    sets get sentinel P (never collides with real minima).

    ``h32`` must be a real column (staged in its own select), not an
    inline expression: higher-order functions are CodegenFallback, so
    an inlined hash transform is re-evaluated once PER PERMUTATION —
    measured 25x slower for the md5 portable hash at num_perm=32.
    CollapseProject keeps the staging select separate because the
    column is expensive and multiply-referenced."""
    params = minhash_params(num_perm, seed)
    sig = [
        F.coalesce(
            F.array_min(
                F.transform(h32, lambda h: F.pmod(a * h + b, F.lit(_MERSENNE)))
            ),
            F.lit(_MERSENNE),
        )
        for (a, b) in params
    ]
    return F.array(*sig)


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    seed: int = 42,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """MinHash-LSH candidate pairs (id_a < id_b, band-deduped).

    Plan shape: one narrow pass computes signatures; explode to
    (band, band_hash) — bands x n rows; one shuffle groups buckets;
    pairs come from a self-join *within buckets only*.

    The band key is xxhash64 of the band's signature tuple regardless of
    ``hash_fn``: equal tuples hash equal, so the candidate set is
    identical to joining on the tuple itself (what the oracle does),
    modulo 64-bit collisions.
    """
    rows = num_perm // bands
    # stage the shingle-hash array in its own select: HOFs are
    # CodegenFallback, so inlining it re-evaluates the (md5|xxhash64)
    # transform once per permutation — 25x measured at num_perm=32/md5
    hashed = df.select(
        F.col(id_col).alias("id"),
        F.transform(
            word_shingles(F.col(text_col), shingle_k),
            lambda s: _token_hash32(s, hash_fn),
        ).alias("_h32"),
    )
    sig = minhash_signature_from_hashes(F.col("_h32"), num_perm, seed)
    banded = hashed.select("id", sig.alias("sig")).select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.concat_ws(",", *[F.element_at(F.col("sig"), b * rows + r + 1) for r in range(rows)])
                        ).alias("bh"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bh")
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bh") == F.col("r.bh"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )


def jaccard(sh_a: Column, sh_b: Column) -> Column:
    inter = F.size(F.array_intersect(sh_a, sh_b))
    union = F.size(F.array_union(sh_a, sh_b))
    return F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(F.lit(0.0))


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    num_perm: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-duplicate pairs: LSH candidates verified with exact word-
    shingle Jaccard >= threshold. Output (id_a, id_b, jaccard)."""
    cands = lsh_candidate_pairs(
        df, id_col, text_col, num_perm, bands, shingle_k, hash_fn=hash_fn
    )
    sh = df.select(
        F.col(id_col).alias("id"), word_shingles(F.col(text_col), shingle_k).alias("sh")
    )
    return (
        cands.join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .select("id_a", "id_b", F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str | None = "source",
    shingle_k: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard for all pairs within a bounded group
    (blocking column keeps the self-join from going O(n^2) global)."""
    sh = df.select(
        F.col(id_col).alias("id"),
        (F.col(group_col) if group_col else F.lit("all")).alias("grp"),
        word_shingles(F.col(text_col), shingle_k).alias("sh"),
    )
    a, b = sh.alias("a"), sh.alias("b")
    return (
        a.join(b, (F.col("a.grp") == F.col("b.grp")) & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(jaccard(F.col("a.sh"), F.col("b.sh")), 6).alias("jaccard"),
        )
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 50,
    strict: bool = True,
) -> DataFrame:
    """Connected components over an undirected pair set -> (id,
    cluster_id = min id in the component). The corpus-dedup final step:
    near-dup PAIRS become duplicate CLUSTERS, and keep-policy =
    one canonical doc (the min id) per cluster.

    Algorithm: min-label propagation to fixpoint — each round every
    node takes the min of its own label and its neighbors' labels
    (one groupBy per round over the edge list; edges are symmetrized
    once). Rounds needed = graph diameter (near-dup clusters are
    shallow: duplicates of a common source — single digits in
    practice); each round's result is cut through ``materialize()`` so
    the plan stays flat AND the session's fault-tolerance strategy
    (``spark.gtfs2lc.materialize = local|reliable``) governs the loop
    — on a real cluster the ``reliable`` strategy survives executor
    loss mid-iteration, which a raw localCheckpoint would not.
    Deterministic, and exactly reproducible by the DuckDB oracle's
    recursive reachability CTE.

    Rounds needed = component diameter: if ``max_iters`` is exhausted
    with labels still changing (a chain-shaped cluster longer than
    ``max_iters``) the labels are NOT final — with ``strict=True``
    (default) that raises instead of silently returning partial
    clusters that would corrupt keep-decisions; ``strict=False``
    downgrades to a logged warning for exploratory runs.
    """
    import warnings

    from ..materialize import materialize

    edges = materialize(
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct(),
    )
    labels = materialize(
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id")),
    )
    def propagate(labels: DataFrame) -> tuple[DataFrame, int]:
        neighbor_min = (
            edges.join(labels.withColumnRenamed("id", "dst"), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.min("label").alias("nmin"))
        )
        new_labels = materialize(
            labels.join(neighbor_min, "id", "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce("nmin", F.col("label"))).alias("label"),
            ),
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .where(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        return new_labels, changed

    converged = False
    for _ in range(max_iters):
        labels, changed = propagate(labels)
        if changed == 0:
            converged = True
            break
    if not converged:
        # the final budgeted round still changed labels — but the change
        # may have COMPLETED the propagation exactly at the budget
        # (component diameter == max_iters). One probe round decides
        # instead of raising on correct labels.
        probed, changed = propagate(labels)
        if changed == 0:
            converged = True
        labels = probed
    if not converged:
        msg = (
            f"connected_components did not converge within max_iters={max_iters} "
            "rounds (a component's diameter exceeds the round budget); labels "
            "are partial and keep-decisions derived from them would be wrong. "
            "Raise max_iters."
        )
        if strict:
            raise RuntimeError(msg)
        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    return labels.select("id", F.col("label").alias("cluster_id"))


def near_duplicate_clusters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    num_perm: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Full corpus-dedup decision: MinHash-LSH near-dup pairs ->
    connected components -> (doc_id, cluster_id, keep). Docs in no pair
    are their own singleton cluster (keep=true); in a cluster, only the
    min doc id survives."""
    pairs = minhash_near_duplicates(
        df, id_col, text_col, threshold, num_perm, bands, shingle_k, hash_fn
    )
    comp = connected_components(pairs)
    return (
        df.select(F.col(id_col).alias("id"))
        .join(comp, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("cluster_id", F.col("id")).alias("cluster_id"),
            (F.coalesce("cluster_id", F.col("id")) == F.col("id")).alias("keep"),
        )
    )


def _simhash_token_hashes(text: Column, seed: int, hash_fn: str) -> Column:
    toks = F.filter(tokens(text), lambda t: t != "")
    if hash_fn == "md5":
        return F.transform(toks, lambda t: portable_hash60(t))
    return F.transform(toks, lambda t: F.xxhash64(t, F.lit(seed)))


def simhash_from_hashes(hashes: Column, bits: int = 64) -> Column:
    """SimHash from a PRECOMPUTED token-hash array column. Hot paths
    must stage the array in its own select (see
    :func:`minhash_signature_from_hashes` for why: HOFs are
    CodegenFallback, and this expression references the array once per
    BIT — an inlined md5 transform would be re-evaluated ~60x)."""
    n = F.size(hashes)
    bits_cols = [
        (
            F.aggregate(
                hashes,
                F.lit(0).cast("long"),
                lambda acc, h: acc + F.shiftright(h, j).bitwiseAND(F.lit(1)),
            )
            * 2
            > n
        ).cast("long")
        for j in range(bits)
    ]
    out = F.lit(0).cast("long")
    for j, bit in enumerate(bits_cols):
        out = out + F.shiftleft(bit, j)
    return out


def simhash_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    band_bits: int = 16,
    hash_fn: str = "xxhash64",
    bits: int = 64,
) -> DataFrame:
    """SimHash near-dup candidates: docs sharing any ``band_bits``-bit
    band of the ``bits``-bit simhash (Hamming-distance blocking).
    Output pairs + hamming."""
    if hash_fn == "md5":
        bits = min(bits, 60)
    # stage the token-hash array (multiply-referenced by the per-bit
    # folds; inline it and the hash transform re-runs once per bit)
    sh = df.select(
        F.col(id_col).alias("id"),
        _simhash_token_hashes(F.col(text_col), 42, hash_fn).alias("_th"),
    ).select(
        "id",
        simhash_from_hashes(F.col("_th"), bits).alias("sh"),
    )
    nbands = bits // band_bits
    mask = (1 << band_bits) - 1
    banded = sh.select(
        "id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("sh", b * band_bits).bitwiseAND(F.lit(mask)).alias("bh"),
                    )
                    for b in range(nbands)
                ]
            )
        ).alias("bb"),
    ).select("id", "sh", "bb.band", "bb.bh")
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh"))).cast("long").alias("hamming"),
        )
        .distinct()
    )
    return pairs


def setsim_join(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    shingle_k: int | None = None,
) -> DataFrame:
    """GLOBAL exact-Jaccard set-similarity self-join via prefix
    filtering (the AllPairs/PPJoin family, Bayardo et al. WWW'07 /
    Xiao et al. ICDE'08) — unlike :func:`ngram_jaccard_pairs` this
    needs NO blocking column and is still never O(n^2).

    Each document's distinct-token set is ordered by ascending global
    document frequency (rarest first, term ascending as tiebreak so
    the total order is engine-reproducible); only the first
    ``p = n - ceil(t*n) + 1`` tokens (the *prefix*) are exploded into
    the candidate join. Losslessness: if J(a,b) >= t then
    ``|a ∩ b| >= t*max(|a|,|b|) >= ceil(t*|a|)`` and the smallest
    (by the global order) intersection token must sit inside BOTH
    prefixes — if it escaped a's prefix, the whole intersection would
    fit in a's suffix of ``ceil(t*|a|) - 1`` slots, a contradiction.
    Candidates are additionally pruned by the symmetric length filter
    ``min(n_a, n_b) >= ceil(t * max(n_a, n_b))`` before the exact
    verify.

    Scale shape: one (term)-keyed df aggregation (map-side
    combinable), one term-keyed equi-join to rank tokens, one
    (doc)-keyed collect to rebuild the ordered set, then the prefix
    self-equi-join — prefix tokens are by construction the RARE end
    of the vocabulary, so the join's build side per key is small
    (zipf-hot stopwords live in suffixes and never enter the join).
    Exact verification is per-candidate array algebra (codegen, no
    shuffle beyond the candidate distinct).

    Output: (id_a, id_b, jaccard) for pairs with jaccard >= threshold,
    id_a < id_b, jaccard rounded to 6 dp.

    ``shingle_k``: None (default) compares distinct-TOKEN sets; an int
    compares distinct word-``k``-shingle sets instead — the same set
    family the MinHash path hashes, which makes this operator the
    exact ground truth for :func:`minhash_recall`. The prefix-filter
    proof is set-content agnostic, so nothing else changes.
    """
    t = float(threshold)
    if shingle_k is None:
        set_expr = F.array_distinct(
            F.filter(tokens(F.col(text_col)), lambda x: x != "")
        )
    else:
        set_expr = word_shingles(F.col(text_col), shingle_k)
    toks = df.select(
        F.col(id_col).alias("id"),
        set_expr.alias("tok"),
    ).where(F.size("tok") > 0)
    e = toks.select("id", F.explode("tok").alias("term"))
    dft = e.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("_df"))
    ranked = (
        e.join(dft, "term")
        .groupBy("id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("_df"), F.col("term")))
            ).alias("ord")
        )
        .select(
            "id",
            F.transform("ord", lambda s: s["term"]).alias("tok"),
            F.size("ord").cast("long").alias("n"),
        )
    )
    # prefix length p = n - ceil(t*n) + 1. The exploded prefix rows are
    # SKINNY (id, n, pterm) — the token arrays must not ride through
    # the self-join's shuffle (p copies of every document's full set);
    # they are re-attached per UNIQUE candidate pair afterwards.
    p = (F.col("n") - F.ceil(F.col("n") * F.lit(t)).cast("long") + F.lit(1))
    pre = ranked.select(
        "id", "n", F.explode(F.slice("tok", 1, p)).alias("pterm")
    )
    a, b = pre.alias("a"), pre.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.pterm") == F.col("b.pterm"))
            & (F.col("a.id") < F.col("b.id"))
            & (
                F.least(F.col("a.n"), F.col("b.n"))
                >= F.ceil(F.greatest(F.col("a.n"), F.col("b.n")) * F.lit(t)).cast("long")
            ),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    arrs = ranked.select("id", "tok")
    verified = (
        cand.join(arrs.select(F.col("id").alias("id_a"), F.col("tok").alias("tok_a")), "id_a")
        .join(arrs.select(F.col("id").alias("id_b"), F.col("tok").alias("tok_b")), "id_b")
    )
    inter = F.size(F.array_intersect("tok_a", "tok_b")).cast("double")
    union = F.size(F.array_union("tok_a", "tok_b")).cast("double")
    return (
        verified.select(
            "id_a",
            "id_b",
            F.round(inter / union, 6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= F.lit(t))
    )


def duplicated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 40,
    hash_prefilter: bool = True,
    materialize_positions: bool = True,
) -> DataFrame:
    """EXACT duplicated-substring span detection (the ExactSubstr
    dedup of Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better") re-expressed for a shuffle engine.

    A substring of length >= ``min_len`` appears in more than one
    place in the corpus iff every ``min_len``-gram inside it does, so
    the union of duplicated ``min_len``-gram positions, merged into
    maximal intervals per document, is exactly the paper's
    "duplicated span" set — no suffix array needed, and every stage
    is data-parallel:

    1. explode each document into its ``min_len``-char shingle
       positions (narrow; fan-out bounded by document length);
    2. [``hash_prefilter``] count positions per xxhash64(shingle) —
       a SKINNY map-side-combinable aggregation (8-byte keys instead
       of ``min_len``-byte substrings) — and left-semi the positions
       against hashes seen more than once. In a lightly-duplicated
       corpus this kills most positions before any wide exchange
       carries actual text;
    3. exact verify: group the surviving positions by the SUBSTRING
       itself and keep those occurring > once — hash collisions can
       only route extra rows into this stage, never corrupt the
       answer;
    4. per-document interval merge (gaps-and-islands): positions
       sorted within the document, a new island starts when the gap
       to the previous position exceeds ``min_len`` (spans all have
       equal length, so overlap-or-adjacency is exactly
       ``pos - prev_pos <= min_len``); the island window, its running
       sum and the final rollup all key on ``id_col`` — Catalyst
       plans ONE exchange for the whole merge.

    Skew note: every occurrence of one boilerplate shingle meets in
    one task at stages 2-3 (the join/agg key is the shingle). The
    aggregations are map-side combinable so only the semi-join probe
    is exposed; for a corpus with a pathological mega-duplicate, salt
    stage 2's probe side and replicate its build side once per salt.

    ``materialize_positions`` (default True): the position set feeds
    FOUR plan branches (hash count, hash probe, substring count,
    substring probe) and Catalyst does not share subtrees, so without
    a lineage cut the corpus-wide explode executes four times — the
    dominant narrow cost. materialize() cuts it to one explode at the
    price of construction-time jobs (and storage for the position
    set); pass False to keep the operator fully lazy for plan
    composition.

    Output: one row per maximal duplicated span —
    (id_col, span_start [1-based], span_end [inclusive], span_len).
    """
    L = int(min_len)
    t = F.col(text_col)
    sh = (
        df.where(F.length(t) >= L)
        .select(
            F.col(id_col),
            F.explode(F.sequence(F.lit(1), F.length(t) - L + 1)).alias("pos"),
            t.alias("_t"),
        )
        .select(id_col, "pos", F.expr(f"substr(_t, pos, {L})").alias("_s"))
    )
    if materialize_positions:
        from ..materialize import materialize

        sh = materialize(sh)
    if hash_prefilter:
        dup_h = (
            sh.groupBy(F.xxhash64("_s").alias("_h"))
            .agg(F.count(F.lit(1)).alias("_c"))
            .where(F.col("_c") > 1)
            .select("_h")
        )
        sh = sh.withColumn("_h", F.xxhash64("_s")).join(
            dup_h, "_h", "left_semi"
        ).drop("_h")
    dup_s = (
        sh.groupBy("_s")
        .agg(F.count(F.lit(1)).alias("_c"))
        .where(F.col("_c") > 1)
        .select("_s")
    )
    pos = sh.join(dup_s, "_s", "left_semi").select(id_col, "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    islands = pos.select(
        id_col,
        "pos",
        F.sum(
            F.when(
                F.col("pos") - F.lag("pos").over(w) <= F.lit(L), F.lit(0)
            ).otherwise(F.lit(1))
        )
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("_island"),
    )
    return (
        islands.groupBy(id_col, "_island")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + F.lit(L) - 1).cast("long").alias("span_end"),
        )
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_len"),
        )
    )


def minhash_recall(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    num_perm: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Measured recall of the MinHash+LSH near-dup detector against
    EXACT ground truth — the eval that justifies (num_perm, bands)
    before a 100-TB dedup run, mirroring :func:`similarity`'s
    ann_recall for the text path.

    Ground truth is the prefix-filtered exact shingle-Jaccard
    self-join (:func:`setsim_join` with ``shingle_k``) at the same
    threshold over the same distinct-shingle sets, so the two pair
    sets are directly comparable and neither side is O(n^2). The
    found set is :func:`minhash_near_duplicates` (LSH candidates +
    exact verify), hence found ⊆ truth up to band-collision luck —
    the hit count is still computed by an explicit pair join rather
    than assumed.

    Plan shape: each of the two expensive pipelines appears exactly
    ONCE — truth and found meet in a single full-outer pair join and
    all three counts come out of one aggregation over it (separate
    count branches would re-execute both pipelines per count).

    Output: ONE row (n_truth, n_found, n_hit, recall) — recall =
    n_hit / n_truth (1.0 for an empty truth set: nothing to find).
    """
    truth = setsim_join(
        df, id_col, text_col, threshold=threshold, shingle_k=shingle_k
    ).select("id_a", "id_b", F.lit(1).alias("_t"))
    found = minhash_near_duplicates(
        df, id_col, text_col, threshold, num_perm, bands, shingle_k, hash_fn
    ).select("id_a", "id_b", F.lit(1).alias("_f"))
    both = truth.join(found, ["id_a", "id_b"], "full_outer")
    return both.agg(
        F.coalesce(F.sum("_t"), F.lit(0)).cast("long").alias("n_truth"),
        F.coalesce(F.sum("_f"), F.lit(0)).cast("long").alias("n_found"),
        F.coalesce(F.sum(F.col("_t") * F.col("_f")), F.lit(0))
        .cast("long")
        .alias("n_hit"),
    ).select(
        "n_truth",
        "n_found",
        "n_hit",
        F.when(F.col("n_truth") == 0, F.lit(1.0))
        .otherwise(
            F.round(
                F.col("n_hit").cast("double") / F.col("n_truth").cast("double"), 6
            )
        )
        .alias("recall"),
    )


def cluster_size_histogram(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Dedup impact report: the near-dup cluster SIZE distribution —
    (size, n_clusters). Size 1 = unique documents; the tail is the
    boilerplate mass and, multiplied out, the row count dedup will
    delete. Two map-side-combinable rollups on top of
    :func:`near_duplicate_clusters` (singletons included)."""
    cl = near_duplicate_clusters(
        df, id_col=id_col, text_col=text_col, threshold=threshold, hash_fn=hash_fn
    )
    sizes = cl.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("size")
    )
    return sizes.groupBy("size").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters")
    )
