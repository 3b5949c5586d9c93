"""Format sinks: mongo extended JSON (S8), message-counter framing (W4),
N-Triples rendering, jsonld_lines with nextConnection."""

import json

from pyspark.sql import functions as F

from gtfs2lc_spark import sinks


def test_raw_json_format(connections):
    """Reference 'json' format: nested full stop/trip/route rows; the
    regression the reference pins is arrivalStop.stop_id == 'AMV' for
    the first AAMV1 connection (test/resultStream.test.js:49-52)."""
    line = sinks.raw_json_lines(
        connections.where(
            (F.col("trip_id") == "AAMV1") & (F.col("service_date") == "20070106")
        )
    ).first().line
    obj = json.loads(line)
    assert obj["arrivalStop"]["stop_id"] == "AMV"
    assert obj["departureStop"]["stop_name"] == "Nye County Airport (Demo)"
    assert obj["departureTime"] == "2007-01-06T07:00:00.000Z"
    assert obj["trip"]["startTime"] == "2007-01-06T07:00:00.000Z"
    assert obj["trip"]["service_id"] == "WE"
    assert obj["route"]["route_long_name"] == "Airport - Amargosa Valley"
    assert obj["stop_sequence"] == "1"


def test_mongold_lines(jsonld):
    line = sinks.mongold_lines(
        jsonld.where(F.col("id").contains("/AAMV1")).limit(1)
    ).first().line
    obj = json.loads(line)
    assert "_id" in obj and "@id" not in obj
    assert set(obj["departureTime"]) == {"$date"}
    assert obj["departureTime"]["$date"].endswith("Z")


def test_mongo_lines_raw(connections):
    """'mongo' = RAW connections through Connections2Mongo: only the
    top-level times get $date wrapped, no _id (raw objects have no @id)
    — lib/Connections2Mongo.js:20-31."""
    line = sinks.mongo_lines(
        connections.where(
            (F.col("trip_id") == "AAMV1") & (F.col("service_date") == "20070106")
        )
    ).first().line
    obj = json.loads(line)
    assert "_id" not in obj and "@id" not in obj
    assert obj["departureTime"] == {"$date": "2007-01-06T07:00:00.000Z"}
    assert obj["arrivalStop"]["stop_id"] == "AMV"
    # nested trip.startTime stays a plain ISO string
    assert isinstance(obj["trip"]["startTime"], str)


def test_jsonld_context_shape():
    """@context record must match linkedConnectionsContext() exactly
    (lib/gtfs2connections.js:317-333) — key set AND order."""
    ctx = sinks.JSONLD_CONTEXT["@context"]
    assert list(ctx) == [
        "lc", "gtfs", "xsd", "trip", "Connection", "CancelledConnection",
        "departureTime", "departureStop", "arrivalStop", "arrivalTime",
    ]
    assert ctx["trip"] == {"@type": "@id", "@id": "gtfs:trip"}
    assert ctx["departureTime"] == {"@type": "xsd:dateTime", "@id": "lc:departureTime"}


def test_message_counter(connections):
    framed = sinks.triples_with_message_counter(connections.limit(500))
    rows = framed.select("subj", "message_counter").distinct().collect()
    per_subj = {}
    for r in rows:
        per_subj.setdefault(r.subj, set()).add(r.message_counter)
    # one counter per connection, dense from 0
    assert all(len(v) == 1 for v in per_subj.values())
    counters = sorted(next(iter(v)) for v in per_subj.values())
    assert counters == list(range(len(per_subj)))


def test_ntriples_lines(connections):
    lines = sinks.triples_to_ntriples_lines(
        sinks.connections_to_triples(connections.limit(2))
    ).collect()
    for r in lines:
        assert r.line.startswith("<http://example.org/connections/")
        assert r.line.endswith(" .")
    typed = [r.line for r in lines if "departureTime" in r.line]
    assert all('^^<http://www.w3.org/2001/XMLSchema#dateTime>' in ln for ln in typed)


def _parse_turtle_messages(text: str):
    """Minimal Turtle message-log parser for the test invariant
    (mirrors test/resultStream.test.js:26-46): returns (prefixes,
    messages) where each message is a list of (subj, pred, obj)."""
    import re

    prefixes, messages = {}, []
    for raw in text.splitlines():
        line = raw.strip()
        if not line or line.startswith("@version"):
            continue
        m = re.match(r"@prefix (\w+): <([^>]+)> \.$", line)
        if m:
            prefixes[m.group(1)] = m.group(2)
            continue
        assert line.endswith(" ."), line
        body = line[:-2]
        # split on ' ; ' outside quoted literals
        parts, cur, inq, esc, i = [], [], False, False, 0
        while i < len(body):
            ch = body[i]
            if inq:
                cur.append(ch)
                if esc:
                    esc = False
                elif ch == "\\":
                    esc = True
                elif ch == '"':
                    inq = False
            elif ch == '"':
                inq = True
                cur.append(ch)
            elif body[i : i + 3] == " ; ":
                parts.append("".join(cur))
                cur = []
                i += 2
            else:
                cur.append(ch)
            i += 1
        parts.append("".join(cur))
        subj, first_po = parts[0].split(" ", 1)
        quads = []
        for po in [first_po] + parts[1:]:
            pred, obj = po.split(" ", 1)
            quads.append((subj, pred, obj))
        messages.append(quads)
    return prefixes, messages


def test_turtle_messages(connections):
    """Reference invariants (test/resultStream.test.js:65-78): output
    parses as Turtle messages; some message asserts rdf:type
    lc:Connection; EVERY message describes exactly one subject."""
    sample = connections.where(F.col("trip_id").isin("AAMV1", "CITY1")).limit(200)
    lines = [r.line for r in sinks.turtle_message_lines(sample).collect()]
    text = sinks.turtle_header() + "\n" + "\n".join(lines)
    assert text.splitlines()[0] == '@version "1.2-messages" .'
    prefixes, messages = _parse_turtle_messages(text)
    assert prefixes == {
        "lc": "http://semweb.mmlab.be/ns/linkedconnections#",
        "gtfs": "http://vocab.gtfs.org/terms#",
        "xsd": "http://www.w3.org/2001/XMLSchema#",
    }
    assert len(messages) == len(lines)
    assert any(
        pred == "a" and obj == "lc:Connection"
        for msg in messages
        for (_, pred, obj) in msg
    )
    for msg in messages:
        assert len(msg) > 0
        assert len({s for (s, _, _) in msg}) == 1
        # quad order mirrors Connections2Triples.js:31-99
        preds = [p for (_, p, _) in msg]
        assert preds[:7] == [
            "a", "lc:departureStop", "lc:arrivalStop", "lc:departureTime",
            "lc:arrivalTime", "gtfs:trip", "gtfs:route",
        ]
        for _, pred, obj in msg:
            if pred in ("lc:departureTime", "lc:arrivalTime"):
                assert obj.endswith('"^^xsd:dateTime') and obj.startswith('"')
            if pred in ("gtfs:pickupType", "gtfs:dropOffType"):
                assert obj.startswith("gtfs:")


def test_turtle_escaping(spark):
    """Literal escaping: quotes/backslashes in headsigns must survive a
    Turtle round-trip."""
    from gtfs2lc_spark.uris import URIStrategy

    df = spark.createDataFrame(
        [("F1", 'say "hi" \\ there', "T1", "R1", "A", "B",
          "2007-01-01 07:00:00", "2007-01-01 07:10:00", "2007-01-01 07:00:00", "", "")],
        'feed_id string, headsign string, trip_trip_id string, route_route_id string, '
        "dep_stop_id string, arr_stop_id string, departure_ts string, arrival_ts string, "
        "trip_start_ts string, pickup_type string, drop_off_type string",
    ).withColumn("trip_trip_headsign", F.lit("")) \
     .withColumn("departure_ts", F.to_timestamp("departure_ts")) \
     .withColumn("arrival_ts", F.to_timestamp("arrival_ts")) \
     .withColumn("trip_start_ts", F.to_timestamp("trip_start_ts"))
    line = sinks.turtle_message_lines(df, URIStrategy()).first().line
    _, messages = _parse_turtle_messages(line)
    (subj, pred, obj) = [q for q in messages[0] if q[1] == "gtfs:headsign"][0]
    assert obj == '"say \\"hi\\" \\\\ there"^^xsd:string'


def test_jsonld_lines_with_next_connection(spark, jsonld):
    from gtfs2lc_spark import postprocess

    base = jsonld.drop("feed_id", "type", "departure_ts", "arrival_ts")
    linked = postprocess.join_and_sort(
        base.where(F.col("gtfs_trip").contains("/CITY1/")).where(
            F.col("departureTime").startswith("2007-01-02")
        )
    )
    lines = [json.loads(r.line) for r in sinks.jsonld_lines(linked).collect()]
    with_next = [o for o in lines if "nextConnection" in o]
    assert len(with_next) == 3  # 4 connections chain 1->2->3->4
    assert all(isinstance(o["nextConnection"], list) for o in with_next)


def test_ntriples_literal_escaping_round_trip(spark, feed):
    """VERDICT r2 item 2: a headsign containing '"', '\\' and a newline
    must serialize to a grammar-valid N-Triples line (STRING_LITERAL_QUOTE
    forbids unescaped quote/backslash/LF/CR) that parses back to the
    original value — the reference escapes via rdf-parser-ts
    StreamWriter (lib/gtfs2connections.js:273-294)."""
    import re

    from gtfs2lc_spark import pipeline

    hostile = 'to "Down\\town"\nvia\rB'
    trips = feed["trips"].withColumn(
        "trip_headsign",
        F.when(F.col("trip_id") == "AB1", F.lit(hostile)).otherwise(
            F.col("trip_headsign")
        ),
    )
    conns = pipeline.convert(
        feed["stop_times"], trips, feed["routes"], feed["stops"],
        feed["calendar"], feed["calendar_dates"], salt_n=None,
    ).where(F.col("trip_id") == "AB1").limit(1)
    lines = [
        r.line
        for r in sinks.triples_to_ntriples_lines(
            sinks.connections_to_triples(conns)
        ).collect()
        if "headsign" in r.line
    ]
    assert len(lines) == 1
    line = lines[0]
    # exactly one physical line, grammar-shaped
    assert "\n" not in line and "\r" not in line
    m = re.fullmatch(
        r'<([^>]*)> <([^>]*)> "((?:[^"\\\n\r]|\\.)*)"(\^\^<[^>]*>)? \.', line
    )
    assert m, line
    unescaped = (
        m.group(3)
        .replace("\\n", "\n").replace("\\r", "\r")
        .replace('\\"', '"').replace("\\\\", "\\")
    )
    assert unescaped == hostile


def test_dense_index_null_keys(spark):
    """Null-containing keys must not crash boundary sampling and must
    occupy their own dense slots (nulls-first): offsets must account
    for them so no two distinct keys share an index."""
    rows = [(None, 1), (None, 1), ("a", None), ("a", 1), ("b", 2), ("b", 2), ("c", None)]
    df = spark.createDataFrame(rows, "k string, v int")
    out = sinks.dense_index(df, ["k", "v"], n_parts=4).collect()
    got = {}
    for r in out:
        got.setdefault((r.k, r.v), set()).add(r._dense_idx)
    # equal keys share one index; distinct keys get distinct indexes
    assert all(len(s) == 1 for s in got.values())
    idx = {k: s.pop() for k, s in got.items()}
    assert sorted(idx.values()) == list(range(len(idx)))
    # nulls-first global order
    ordered = sorted(idx, key=lambda k: idx[k])
    assert ordered[0] == (None, 1)


def test_dense_index_hash_threshold_sample_path(spark, monkeypatch):
    """The huge-partition-count sample path (counted hash threshold,
    driver O(k) regardless of P) must produce the same dense index as
    a global dense_rank — boundary choice affects balance only."""
    monkeypatch.setattr(sinks, "_SAMPLE_DRIVER_BUDGET_ROWS", 0)
    # a 200-row sample: the threshold keeps ~400 of the 2,002 rows
    monkeypatch.setattr(sinks, "_SAMPLE_SIZE", 200)
    rows = [(f"k{i % 37:03d}", i % 11) for i in range(2000)] + [("a", None), (None, 5)]
    df = spark.createDataFrame(rows, "k string, v int")
    out = sinks.dense_index(df, ["k", "v"], n_parts=8).collect()
    got = {}
    for r in out:
        got.setdefault((r.k, r.v), set()).add(r._dense_idx)
    assert all(len(s) == 1 for s in got.values())
    idx = {k: s.pop() for k, s in got.items()}
    # dense 0..D-1 and ordered like the nulls-first global sort
    assert sorted(idx.values()) == list(range(len(idx)))
    key = lambda kv: ((kv[0] is not None, kv[0] or ""), (kv[1] is not None, kv[1] or 0))
    expect_order = sorted(idx, key=key)
    got_order = sorted(idx, key=lambda k: idx[k])
    assert got_order == expect_order


def test_dense_index_threshold_path_empty_input(spark, monkeypatch):
    monkeypatch.setattr(sinks, "_SAMPLE_DRIVER_BUDGET_ROWS", 0)
    df = spark.createDataFrame([], "k string, v int")
    assert sinks.dense_index(df, ["k", "v"], n_parts=4).collect() == []
