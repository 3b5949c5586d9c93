"""Search/index-side operators: prefix-filtered set-similarity join,
exact Misra-Gries heavy hitters, bounded-posting inverted index, SCD2
intervals, hopping windows."""

from __future__ import annotations

import datetime as dt
import itertools

from pyspark.sql import functions as F

from gtfs2lc_spark.datapipe import dedup, text
from gtfs2lc_spark.datapipe import events as dp_events


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )


# ---------------------------------------------------------------- setsim


def _brute_pairs(texts, threshold):
    sets = {
        i: {t for t in "".join(c if c.isalpha() else " " for c in s.lower()).split() if t}
        for i, s in enumerate(texts)
    }
    out = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        sa, sb = sets[a], sets[b]
        if not sa or not sb:
            continue
        j = len(sa & sb) / len(sa | sb)
        if round(j, 6) >= threshold:
            out[(a, b)] = round(j, 6)
    return out


def test_setsim_join_matches_brute_force(spark):
    """Prefix filtering is LOSSLESS: output == brute-force all-pairs
    exact Jaccard, on a corpus with shared zipf-hot tokens and rare
    discriminators."""
    hot = "the data table row scan"
    texts = [f"{hot} term{i % 7} extra{i % 3} uniq{i}" for i in range(40)]
    texts += ["the data table row scan", "the data table row scan",  # identical pair
              "completely different vocabulary here", ""]
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.setsim_join(_docs(spark, texts), threshold=0.6).collect()
    }
    assert got == _brute_pairs(texts, 0.6)
    assert got  # non-trivial
    assert (40, 41) in got and got[(40, 41)] == 1.0


def test_setsim_join_threshold_cuts(spark):
    texts = ["a b c d", "a b c e", "a b x y", "p q r s"]
    # J(0,1) = 3/5 = 0.6; J(0,2) = 2/6 = 0.333; J(0,3) = 0
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.setsim_join(_docs(spark, texts), threshold=0.5).collect()
    }
    assert got == {(0, 1): 0.6}


def test_setsim_join_no_cartesian(spark):
    plan = dedup.setsim_join(
        _docs(spark, ["a b", "a c"]), threshold=0.5
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------------------------- heavy hitters


def test_heavy_hitters_exact_under_eviction(spark):
    """Vocabulary (200 rare terms) >> MG counter budget (k = 10 at
    min_share 0.1) — evictions happen, yet the recount keeps the
    result exact and identical to the sketch-free path."""
    # 3 hot terms at ~20% each, 200 singleton tail terms spread rows
    # (tokenizer is alpha-only — suffixes must be letters, not digits)
    def suf(n):
        return chr(ord("a") + n // 26) + chr(ord("a") + n % 26)

    hot = ["hotx", "hoty", "hotz"]
    rows = []
    for i in range(100):
        rows.append(f"{hot[i % 3]} tail{suf(2 * i)} tail{suf(2 * i + 1)}")
    d = _docs(spark, rows).repartition(8)
    with_sketch = {
        (r["term"], r["cnt"], r["share"])
        for r in text.heavy_hitters(d, min_share=0.1).collect()
    }
    no_sketch = {
        (r["term"], r["cnt"], r["share"])
        for r in text.heavy_hitters(
            d, min_share=0.1, use_sketch_candidates=False
        ).collect()
    }
    assert with_sketch == no_sketch
    # 300 tokens total: hotx 34, hoty 33, hotz 33 -> shares > 0.1
    assert {t for t, _, _ in with_sketch} == {"hotx", "hoty", "hotz"}
    assert dict((t, c) for t, c, _ in with_sketch) == {
        "hotx": 34, "hoty": 33, "hotz": 33,
    }


def test_heavy_hitters_empty_below_threshold(spark):
    d = _docs(spark, ["a b c d e f g h i j"])
    assert text.heavy_hitters(d, min_share=0.2).count() == 0


# --------------------------------------------------------- inverted index


def test_inverted_index_postings_sorted_and_bounded(spark):
    texts = [
        "stop the apple",    # 0
        "the apple pie",     # 1
        "the zebra",         # 2
        "apple apple apple", # 3 (dup tokens -> one posting)
    ]
    idx = {
        r["term"]: (r["df_count"], r["postings"])
        for r in text.inverted_index(_docs(spark, texts), max_df=3).collect()
    }
    assert idx["the"] == (3, [0, 1, 2])   # df == max_df stays
    assert idx["apple"] == (3, [0, 1, 3])  # dup tokens in doc 3 -> one posting
    idx_all = {
        r["term"]: (r["df_count"], r["postings"])
        for r in text.inverted_index(_docs(spark, texts), max_df=2).collect()
    }
    assert idx_all.get("apple") is None  # df 3 > 2 dropped
    assert idx_all["stop"] == (1, [0])
    assert idx_all["zebra"] == (1, [2])
    assert idx_all["pie"] == (1, [1])


def test_inverted_index_exact_small(spark):
    texts = ["b a", "a c", "c a b"]
    idx = {
        r["term"]: (r["df_count"], r["postings"])
        for r in text.inverted_index(_docs(spark, texts), max_df=10).collect()
    }
    assert idx == {
        "a": (3, [0, 1, 2]),
        "b": (2, [0, 2]),
        "c": (2, [1, 2]),
    }


# ------------------------------------------------------------------ scd2


def _events(spark, rows):
    return spark.createDataFrame(
        [(i, dt.datetime.fromisoformat(t), u) for i, t, u in rows],
        "event_id bigint, ts timestamp_ntz, user_id bigint",
    )


def test_scd2_interval_chaining(spark):
    ev = _events(
        spark,
        [
            (1, "2026-01-01T00:00:00", 7),
            (2, "2026-01-01T01:00:00", 7),
            (3, "2026-01-01T02:00:00", 7),
            (9, "2026-01-05T00:00:00", 8),
        ],
    )
    got = {
        r["event_id"]: (r["valid_from_us"], r["valid_to_us"], r["is_current"])
        for r in dp_events.scd2_intervals(ev).collect()
    }
    base = int(dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1e6)
    hour = 3_600_000_000
    assert got[1] == (base, base + hour, False)
    assert got[2] == (base + hour, base + 2 * hour, False)
    assert got[3] == (base + 2 * hour, None, True)
    assert got[9][1] is None and got[9][2] is True
    # intervals tile: every non-current valid_to == successor valid_from
    assert got[1][1] == got[2][0] and got[2][1] == got[3][0]


def test_scd2_equal_ts_ties_break_on_event_id(spark):
    ev = _events(
        spark,
        [(2, "2026-01-01T00:00:00", 1), (1, "2026-01-01T00:00:00", 1)],
    )
    got = {
        r["event_id"]: r["is_current"]
        for r in dp_events.scd2_intervals(ev).collect()
    }
    assert got == {1: False, 2: True}


# --------------------------------------------------------------- hopping


def test_hopping_stats_fanout_and_boundaries(spark):
    ev = spark.createDataFrame(
        [
            (1, dt.datetime(2026, 1, 1, 0, 59, 59), "a", 1.0),
            (2, dt.datetime(2026, 1, 1, 1, 0, 0), "a", 10.0),
        ],
        "event_id bigint, ts timestamp_ntz, event_type string, value double",
    )
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in dp_events.hopping_stats(
            ev, window_seconds=3600, slide_seconds=900
        ).collect()
    }
    t1 = int(dt.datetime(2026, 1, 1, 0, 59, 59, tzinfo=dt.timezone.utc).timestamp())
    t2 = int(dt.datetime(2026, 1, 1, 1, 0, 0, tzinfo=dt.timezone.utc).timestamp())
    # each event lands in exactly 4 windows
    assert sum(n for n, _ in got.values()) == 8
    # event 1's latest window starts at its own 900 s bucket
    hi1 = (t1 // 900) * 900
    assert (hi1, "a") in got
    # boundary: event 2 at exactly 01:00 is NOT in the [00:00, 01:00) window
    assert got[(t2 - 3600, "a")] == (1, 1.0)  # only event 1
    # both events share the 3 overlapping windows starting 00:15/00:30/00:45
    for k in range(1, 4):
        assert got[(t2 - 3600 + 900 * k, "a")][0] == 2


def test_hopping_stats_rejects_non_multiple_slide(spark):
    ev = spark.createDataFrame(
        [(1, dt.datetime(2026, 1, 1), "a", 1.0)],
        "event_id bigint, ts timestamp_ntz, event_type string, value double",
    )
    import pytest

    with pytest.raises(ValueError):
        dp_events.hopping_stats(ev, window_seconds=3600, slide_seconds=1000)


# ------------------------------------------------------------- ann recall


def test_topk_recall_counts_hits_and_keeps_empty_queries(spark):
    from gtfs2lc_spark.datapipe import similarity

    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (2, 20), (2, 21), (2, 22)],
        "query_id bigint, neighbor_id bigint",
    )
    approx = spark.createDataFrame(
        [(1, 11), (1, 12), (1, 99), (2, 77), (2, 78), (2, 79)],
        "query_id bigint, neighbor_id bigint",
    )
    got = {
        r["query_id"]: (r["n_hits"], r["recall"])
        for r in similarity.topk_recall(exact, approx, k=3).collect()
    }
    assert got == {1: (2, 0.666667), 2: (0, 0.0)}


# ----------------------------------------------------- fp containment


def test_fingerprint_containment_self_and_disjoint(spark):
    shared = "the quick brown fox jumps over the lazy dog again and again"
    texts = [
        shared,                                    # 0: identical to bench
        "prefix words here " + shared + " suffix", # 1: contains bench
        "zzz qqq vvv completely unrelated content with no overlap at all",  # 2
    ]
    d = _docs(spark, texts)
    bench = d.where(F.col("doc_id") == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    got = {
        (r["doc_id"], r["bench_id"]): (r["n_shared"], r["containment"])
        for r in text.fingerprint_containment(d, bench, hash_fn="md5").collect()
    }
    # doc 0 IS the benchmark: full containment
    assert got[(0, 0)][1] == 1.0
    # doc 1 contains every benchmark shingle: containment 1.0 too
    assert got[(1, 0)][1] == 1.0
    # doc 2 shares nothing -> no row
    assert (2, 0) not in got


# ------------------------------------------------- normalize / negatives


def test_normalize_text_closed_form(spark):
    d = spark.createDataFrame(
        [(1, "\x01a\tb\x07  c\x7f \n d ")], "doc_id bigint, text string"
    )
    got = d.select(text.normalize_text(F.col("text")).alias("text")).first()
    assert got["text"] == "a b c d"


def test_negative_samples_contract(spark):
    d = _docs(spark, [f"doc {i}" for i in range(10)])
    rows = text.negative_samples(d, k=3).collect()
    assert len(rows) == 30
    for r in rows:
        assert 0 <= r["neg_id"] < 10
        assert r["neg_id"] != r["doc_id"]  # self-pairs shifted
    # deterministic: identical on re-evaluation
    again = text.negative_samples(d, k=3).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_corpus_cube_gid_semantics(spark):
    d = spark.createDataFrame(
        [(1, "en", "a", 5), (2, "en", "b", 7), (3, "de", "a", 11)],
        "doc_id bigint, lang string, source string, n_chars bigint",
    )
    cube = (
        d.cube("lang", "source")
        .agg(
            (F.grouping("lang") * 2 + F.grouping("source"))
            .cast("long").alias("gid"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .collect()
    )
    got = {(r["lang"], r["source"], r["gid"]): r["n"] for r in cube}
    assert got[(None, None, 3)] == 3      # grand total
    assert got[("en", None, 1)] == 2      # lang subtotal
    assert got[(None, "a", 2)] == 2       # source subtotal
    assert got[("de", "a", 0)] == 1       # leaf


# -------------------------------------------------- funnel / retention


def _tev(spark, rows):
    return spark.createDataFrame(
        [(i, dt.datetime.fromisoformat(t), u, ty) for i, (t, u, ty) in enumerate(rows)],
        "event_id bigint, ts timestamp_ntz, user_id bigint, event_type string",
    )


def test_funnel_strict_order_and_nulls(spark):
    ev = _tev(spark, [
        # user 1: full ordered funnel
        ("2026-01-01T00:00:00", 1, "view"),
        ("2026-01-01T01:00:00", 1, "click"),
        ("2026-01-01T02:00:00", 1, "purchase"),
        # user 2: clicked BEFORE viewing -> click doesn't count; no
        # later click -> funnel stops after view
        ("2026-01-01T00:30:00", 2, "click"),
        ("2026-01-01T01:00:00", 2, "view"),
        ("2026-01-01T02:00:00", 2, "purchase"),
        # user 3: click at the SAME instant as view -> strictly-after
        # excludes it
        ("2026-01-01T00:00:00", 3, "view"),
        ("2026-01-01T00:00:00", 3, "click"),
        # user 4: never viewed -> not in the funnel at all
        ("2026-01-01T00:00:00", 4, "click"),
    ])
    got = {
        r["user_id"]: (r["t_view"] is not None, r["t_click"] is not None,
                       r["t_purchase"] is not None)
        for r in dp_events.funnel_times(ev).collect()
    }
    assert got == {
        1: (True, True, True),
        2: (True, False, False),
        3: (True, False, False),
    }


def test_retention_cohorts_triangle(spark):
    day = 86400
    ev = _tev(spark, [
        ("2026-01-01T10:00:00", 1, "view"),   # cohort d0
        ("2026-01-02T10:00:00", 1, "view"),   # returns d1
        ("2026-01-02T11:00:00", 1, "click"),  # same day, counted once
        ("2026-01-02T10:00:00", 2, "view"),   # cohort d1
        ("2026-01-04T10:00:00", 2, "view"),   # returns d3 (+2)
    ])
    got = {
        (r["cohort_period"], r["period_offset"]): r["n_users"]
        for r in dp_events.retention_cohorts(ev, period_seconds=day).collect()
    }
    d0 = int(dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc).timestamp()) // day
    assert got == {
        (d0, 0): 1, (d0, 1): 1,          # user 1
        (d0 + 1, 0): 1, (d0 + 1, 2): 1,  # user 2
    }


# ------------------------------------------------------------------ khop


def test_khop_min_distance_and_bound(spark):
    from gtfs2lc_spark import kg

    # 0 -> 1 -> 2 -> 3 -> 4 chain plus a shortcut 0 -> 3 and a cycle
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (0, 3), (4, 0)],
        "src bigint, dst bigint",
    )
    seeds = spark.createDataFrame([(0,)], "node bigint")
    got = {
        r["node"]: r["hops"]
        for r in kg.khop_distances(edges, seeds, k=2).collect()
    }
    # min-hop: 3 via the shortcut is 1, NOT 3; 4 is 2 (3 -> 4); node 2 is 2
    assert got == {0: 0, 1: 1, 3: 1, 2: 2, 4: 2}
    # k bound respected and cycles don't loop
    full = {
        r["node"]: r["hops"]
        for r in kg.khop_distances(edges, seeds, k=10).collect()
    }
    assert full == {0: 0, 1: 1, 3: 1, 2: 2, 4: 2}


# ----------------------------------------------- curriculum / centroids


def test_quantile_bins_closed_form(spark):
    # one lang, token counts 1..8 -> quartile thresholds (lower
    # quantile at ceil(p*n/100)): p25 -> 2, p50 -> 4, p75 -> 6
    d = spark.createDataFrame(
        [(i, "en", " ".join(["w"] * i)) for i in range(1, 9)],
        "doc_id bigint, lang string, text string",
    )
    got = {
        r["doc_id"]: r["bucket"]
        for r in text.quantile_bins(d, ps=(25, 50, 75)).collect()
    }
    assert got == {1: 0, 2: 0, 3: 1, 4: 1, 5: 2, 6: 2, 7: 3, 8: 3}


def test_label_centroids_closed_form(spark):
    from gtfs2lc_spark.datapipe import similarity

    e = spark.createDataFrame(
        [(1, [1.0, 3.0], 0), (2, [3.0, 5.0], 0), (3, [10.0, 20.0], 1)],
        "vec_id bigint, embedding array<float>, label int",
    )
    got = {
        (r["label"], r["pos"]): (r["centroid"], r["n_vecs"])
        for r in similarity.label_centroids(e).collect()
    }
    assert got == {
        (0, 0): (2.0, 2), (0, 1): (4.0, 2),
        (1, 0): (10.0, 1), (1, 1): (20.0, 1),
    }


def test_langid_confusion_diagonal(spark):
    d = spark.createDataFrame(
        [(1, "en", "the cat and the dog is here"),
         (2, "de", "der hund und die katze ist nicht da"),
         (3, "en", "zzz qqq")],  # no stopwords -> 'und'
        "doc_id bigint, lang string, text string",
    )
    got = {
        (r["label"], r["predicted"]): r["n_docs"]
        for r in text.langid_confusion(d).collect()
    }
    assert got == {("en", "en"): 1, ("de", "de"): 1, ("en", "und"): 1}


def test_contrastive_pairs_labels_disjoint_and_correct(spark):
    from gtfs2lc_spark.datapipe import curate

    near = "the quick brown fox jumps over the lazy dog every day"
    texts = [near, near + " indeed", "alpha beta gamma delta words here",
             "totally different content again", "more unrelated prose lines"]
    d = _docs(spark, texts)
    out = curate.contrastive_pairs(d, threshold=0.5, k_neg=2, hash_fn="md5")
    rows = out.collect()
    pos = {(r["id_a"], r["id_b"]) for r in rows if r["label"] == 1}
    neg = {(r["id_a"], r["id_b"]) for r in rows if r["label"] == 0}
    assert (0, 1) in pos          # the near-dup pair
    assert not pos & neg          # no pair carries both labels
    for a, b in pos | neg:
        assert a < b              # normalized order
    # deterministic on re-evaluation
    again = out.collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
