"""Property-based tests (hypothesis): the operators with the richest
edge-case structure — duplicated-span detection, interval joins,
stratified sampling — checked against brute-force reference models on
randomized inputs. Few examples (Spark jobs are ~1 s each), but each
example exercises merging/boundary structure no hand fixture would."""

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from gtfs2lc_spark.datapipe import dedup, events, text

_SET = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


def _brute_spans(texts: dict, L: int):
    """Reference model: all duplicated L-gram positions (corpus-wide,
    overlap-counted within a doc too), merged into maximal intervals."""
    from collections import Counter

    counts = Counter()
    for t in texts.values():
        for i in range(len(t) - L + 1):
            counts[t[i : i + L]] += 1
    want = set()
    for did, t in texts.items():
        dup_pos = [
            i + 1
            for i in range(len(t) - L + 1)
            if counts[t[i : i + L]] > 1
        ]
        spans = []
        for p in dup_pos:
            if spans and p - spans[-1][1] <= L:
                spans[-1][1] = p
            else:
                spans.append([p, p])
        for a, b in spans:
            want.add((did, a, b + L - 1, b + L - a))
    return want


@_SET
@given(
    texts=st.lists(
        st.text(alphabet="ab", min_size=0, max_size=24), min_size=1, max_size=5
    ),
    L=st.integers(min_value=3, max_value=6),
)
def test_duplicated_spans_matches_brute_force(spark, texts, L):
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_id"], r["span_start"], r["span_end"], r["span_len"])
        for r in dedup.duplicated_spans(df, min_len=L).collect()
    }
    assert got == _brute_spans(dict(rows), L)


@_SET
@given(
    ls=st.lists(
        st.tuples(st.integers(0, 400), st.integers(0, 120)),
        min_size=1,
        max_size=8,
    ),
    rs=st.lists(
        st.tuples(st.integers(0, 400), st.integers(0, 120)),
        min_size=1,
        max_size=8,
    ),
    bucket=st.integers(min_value=7, max_value=300),
)
def test_interval_overlap_join_matches_brute_force(spark, ls, rs, bucket):
    left = spark.createDataFrame(
        [(i, a, a + w) for i, (a, w) in enumerate(ls)],
        ["lid", "l_start", "l_end"],
    )
    right = spark.createDataFrame(
        [(i, a, a + w) for i, (a, w) in enumerate(rs)],
        ["rid", "r_start", "r_end"],
    )
    got = {
        (r["lid"], r["rid"])
        for r in events.interval_overlap_join(
            left, right, bucket_seconds=bucket
        ).collect()
    }
    want = {
        (i, j)
        for i, (a, w) in enumerate(ls)
        for j, (b, v) in enumerate(rs)
        if a <= b + v and b <= a + w
    }
    assert got == want


@_SET
@given(
    sizes=st.lists(st.integers(min_value=1, max_value=40), min_size=1, max_size=5),
    frac=st.floats(min_value=0.05, max_value=0.95),
)
def test_stratified_sample_exact_ceil_everywhere(spark, sizes, frac):
    rows = []
    i = 0
    for s, n in enumerate(sizes):
        for _ in range(n):
            rows.append((i, f"s{s}"))
            i += 1
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    by = {
        r["lang"]: r["n"]
        for r in text.stratified_sample(df, strata_col="lang", fraction=frac)
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert by == {f"s{s}": math.ceil(n * frac) for s, n in enumerate(sizes)}


@_SET
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from("alpha beta gamma delta epsilon zeta eta".split()),
            min_size=0,
            max_size=10,
        ).map(" ".join),
        min_size=2,
        max_size=8,
    ),
    threshold=st.sampled_from([0.3, 0.5, 0.7, 0.9]),
)
def test_setsim_join_matches_brute_force(spark, docs, threshold):
    """Prefix-filter losslessness: the AllPairs/PPJoin self-join must
    return exactly the brute-force token-Jaccard pairs at the
    threshold — across random small-vocab corpora where prefixes,
    length filters, and df-ordering all get exercised."""
    from gtfs2lc_spark.datapipe import dedup as dd

    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dd.setsim_join(df, threshold=threshold).collect()
    }
    want = {}
    for i, a in rows:
        for j, b in rows:
            if i >= j:
                continue
            sa, sb = set(a.split()) - {""}, set(b.split()) - {""}
            if not sa or not sb:
                continue
            jac = round(len(sa & sb) / len(sa | sb), 6)
            if jac >= threshold:
                want[(i, j)] = jac
    assert got == want


@_SET
@given(
    fact_keys=st.lists(st.integers(min_value=0, max_value=40), min_size=1, max_size=40),
    key_set=st.lists(st.integers(min_value=0, max_value=40), min_size=0, max_size=15),
    m_bits=st.sampled_from([64, 256, 1 << 12]),
    k=st.integers(min_value=1, max_value=3),
)
def test_bloom_semi_join_equals_semi_join_property(spark, fact_keys, key_set, m_bits, k):
    """bloom_semi_join is LOSSLESS for every (m_bits, k), including a
    64-bit saturated bitmap where correctness rides on the confirm."""
    from gtfs2lc_spark.datapipe import sketch

    big = spark.createDataFrame(
        [(kk, i) for i, kk in enumerate(fact_keys)], "key long, v long"
    )
    keys = spark.createDataFrame([(kk,) for kk in key_set] or [(None,)], "k long")
    got = sorted(
        (r["key"], r["v"])
        for r in sketch.bloom_semi_join(big, "key", keys, "k",
                                        m_bits=m_bits, k=k).collect()
    )
    want = sorted(
        (kk, i) for i, kk in enumerate(fact_keys) if kk in set(key_set)
    )
    assert got == want


@_SET
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),   # group
            st.integers(min_value=0, max_value=50),  # value
        ),
        min_size=1,
        max_size=40,
    ),
    ps=st.tuples(st.integers(1, 49), st.integers(51, 100)),
)
def test_winsorize_bounds_property(spark, rows, ps):
    """Clipped values always lie inside the group's exact disc
    [p_lo, p_hi]; unclipped rows pass through identical; row count
    preserved."""
    from gtfs2lc_spark.datapipe import text as t

    lo_p, hi_p = ps
    df = spark.createDataFrame(
        [(i, f"g{g}", v) for i, (g, v) in enumerate(rows)],
        "doc_id long, lang string, n_chars long",
    )
    out = t.winsorize(df, lower_p=lo_p, upper_p=hi_p).collect()
    assert len(out) == len(rows)
    # brute-force disc quantile model
    import math
    from collections import defaultdict

    vals = defaultdict(list)
    for g, v in rows:
        vals[f"g{g}"].append(v)
    for r in out:
        sv = sorted(vals[r["group"]])
        n = len(sv)
        qlo = sv[math.ceil(lo_p * n / 100) - 1]
        qhi = sv[math.ceil(hi_p * n / 100) - 1]
        assert r["clipped"] == min(max(r["value"], qlo), qhi)
        assert r["was_clipped"] == (r["clipped"] != r["value"])


_J7_TRIP = st.tuples(
    st.lists(st.sampled_from(["S1", "S2", "S3"]), min_size=2, max_size=3),
    st.integers(0, 1),  # timing pattern
    st.sampled_from([(1, 2, 3), (1, 2, 10), (5, 9, 10)]),  # stop_sequence
    st.integers(0, 2),  # service
)
_J7_FEED = st.tuples(
    st.lists(_J7_TRIP, min_size=1, max_size=30),
    st.lists(st.tuples(*[st.sampled_from("01")] * 7), min_size=3, max_size=3),
)


@settings(_SET, max_examples=6)
@given(feeds=st.lists(_J7_FEED, min_size=1, max_size=3))
def test_j7_first_rule_wins_matches_stream_model(entity_frame, feeds):
    """J7 (st2c.js:134-181): with few stops and timing patterns most
    uniqueIds repeat; rules_to_connections must emit each (uniqueId,
    service date) once, from the first rule in (trip_id,
    int(stop_sequence)) order — the reference's stream walk."""
    from gtfs2lc_spark import pipeline

    times = [("8:00:00", "8:30:00", "9:00:00"), ("10:00:00", "10:30:00", "11:00:00")]
    frames = {k: None for k in ("stop_times", "trips", "routes", "stops",
                                "calendar", "calendar_dates")}

    def add(name, frame):
        frames[name] = frame if frames[name] is None else frames[name].unionByName(frame)

    for i, (trips, flags) in enumerate(feeds):
        fid = f"f{i}"
        st_rows, trip_rows = [], []
        for j, (path, pat, seqs, svc) in enumerate(trips):
            trip_rows.append(("R", f"SV{svc}", f"T{j}"))
            st_rows += [
                (f"T{j}", times[pat][k], times[pat][k], stop, str(seqs[k]))
                for k, stop in enumerate(path)
            ]
        add("stop_times", entity_frame(
            "stop_times.txt",
            ["trip_id", "arrival_time", "departure_time", "stop_id", "stop_sequence"],
            st_rows, fid))
        add("trips", entity_frame(
            "trips.txt", ["route_id", "service_id", "trip_id"], trip_rows, fid))
        add("routes", entity_frame(
            "routes.txt", ["route_id", "route_long_name"], [("R", "Main Line")], fid))
        add("stops", entity_frame(
            "stops.txt", ["stop_id"], [("S1",), ("S2",), ("S3",)], fid))
        add("calendar", entity_frame(
            "calendar.txt",
            ["service_id", "monday", "tuesday", "wednesday", "thursday", "friday",
             "saturday", "sunday", "start_date", "end_date"],
            [(f"SV{s}", *f, "20070101", "20070114") for s, f in enumerate(flags)],
            fid))
        add("calendar_dates", entity_frame(
            "calendar_dates.txt", ["service_id", "date", "exception_type"], [], fid))

    rules = pipeline.stop_times_to_rules(
        frames["stop_times"], frames["trips"], frames["routes"], frames["stops"]
    )
    services = pipeline.expand_services(frames["calendar"], frames["calendar_dates"])
    got = {
        (r.feed_id, r.trip_id, r.stop_sequence, r.service_date)
        for r in pipeline.rules_to_connections(rules, services, salt_n=4).collect()
    }

    dates = {(r.feed_id, r.service_id): r.dates for r in services.collect()}
    seen, want = set(), set()
    for r in sorted(rules.collect(),
                    key=lambda r: (r.feed_id, r.trip_id, int(r.stop_sequence))):
        for d in dates.get((r.feed_id, r.trip_service_id)) or []:
            if (r.feed_id, r.unique_id, d) not in seen:
                seen.add((r.feed_id, r.unique_id, d))
                want.add((r.feed_id, r.trip_id, r.stop_sequence, d))
    assert got == want


_DAYS = [f"200701{d:02d}" for d in range(1, 22)]
_CAL_ROW = st.tuples(
    st.sampled_from(["f0", "f1"]),
    st.sampled_from(["A", "B", "C"]),
    st.tuples(*[st.sampled_from("01")] * 7),  # monday..sunday
    st.sampled_from(_DAYS),  # start_date
    st.sampled_from(_DAYS),  # end_date: reversed ranges included
    st.sampled_from(["u1", "u2"]),
)
_CAL_DATE_ROW = st.tuples(
    st.sampled_from(["f0", "f1"]),
    st.sampled_from(["A", "B", "C", "D"]),  # D: exception-only
    st.sampled_from(_DAYS),
    st.sampled_from(["1", "2", "0", "3", ""]),
)


def _calendar_expander_model(cal_rows, date_rows):
    """CalendarExpander.js:14-68 over (feed, service): the last calendar
    row in (url, line) order wins; dates = added days (sorted), then the
    range's weekday-flagged days that are neither removed nor added."""
    import datetime as dt

    def day(s):
        return dt.date(int(s[:4]), int(s[4:6]), int(s[6:]))

    last = {}
    for line, (fid, sid, flags, start, end, url) in enumerate(cal_rows):
        key = (fid, sid)
        if key not in last or (url, line) > last[key][0]:
            last[key] = ((url, line), flags, start, end)
    keys = set(last) | {(fid, sid) for fid, sid, _, _ in date_rows}
    out = {}
    for key in keys:
        added = sorted({d for f, s, d, t in date_rows if (f, s) == key and t == "1"})
        removed = {d for f, s, d, t in date_rows if (f, s) == key and t == "2"}
        days = []
        if key in last:
            _, flags, start, end = last[key]
            d = day(start)
            while d <= day(end):
                if flags[d.weekday()] == "1":  # flags are monday-first
                    days.append(d.strftime("%Y%m%d"))
                d += dt.timedelta(days=1)
        out[key] = added + [d for d in days if d not in removed and d not in added]
    return out


@_SET
@given(
    cal_rows=st.lists(_CAL_ROW, max_size=6),
    date_rows=st.lists(_CAL_DATE_ROW, max_size=10),
    remove_all=st.lists(st.sampled_from(["A", "B", "C"]), max_size=1),
)
def test_expand_services_matches_calendar_expander(spark, cal_rows, date_rows, remove_all):
    """expand_services against a pure-Python CalendarExpander on
    calendar-only and exception-only services, services with every day
    removed, reversed ranges, a service_id repeated across urls and
    lines, and exception types outside {1, 2}. Dates compare as ORDERED
    lists: their order is the explode's, hence the output row order."""
    from gtfs2lc_spark import pipeline
    from gtfs2lc_spark.schemas import CALENDAR_COLS, CALENDAR_DATES_COLS, _string_struct

    date_rows = date_rows + [("f0", s, d, "2") for s in remove_all for d in _DAYS]
    cal = spark.createDataFrame(
        [
            (sid, *flags, start, end, fid, url, line)
            for line, (fid, sid, flags, start, end, url) in enumerate(cal_rows)
        ],
        _string_struct(*CALENDAR_COLS, "feed_id", "url").add("_line", "long"),
    )
    cd = spark.createDataFrame(
        [(sid, d, t, fid, "u", line) for line, (fid, sid, d, t) in enumerate(date_rows)],
        _string_struct(*CALENDAR_DATES_COLS, "feed_id", "url").add("_line", "long"),
    )
    got = {
        (r.feed_id, r.service_id): list(r.dates)
        for r in pipeline.expand_services(cal, cd).collect()
    }
    assert got == _calendar_expander_model(cal_rows, date_rows)
