"""P/R vs the reference's OWN committed fixture — the BASELINE.json
headline correctness metric.

The reference ships connections-samplefeed-notjoined.nldjsonld
(3,472 JSON-LD connections generated by gtfs2lc itself). We map both
its rows and ours onto the same (subj, pred, obj) triple surface and
require precision AND recall >= 0.95.

Known divergence (SURVEY.md §5 caveats): the committed fixture predates
the current headsign code path — joining/splitting trips show the stale
stop_headsign value "E"/"F" where the current code (and our engine)
emits the trip_headsign. That affects only gtfs:headsign triples of 928
connections ≈ 3% of triples, which is exactly why the threshold is 0.95
and not 1.0.
"""

import json
import os

import pytest

from gtfs2lc_spark import GTFS, LC, RDF_TYPE

FIXTURE = (
    "/root/reference/test/sample-feed-test/"
    "connections-samplefeed-notjoined.nldjsonld"
)


def jsonld_obj_to_triples(obj: dict) -> set[tuple[str, str, str]]:
    s = obj["@id"]
    out = {(s, RDF_TYPE, f"{LC}Connection")}
    mapping = {
        "departureStop": f"{LC}departureStop",
        "arrivalStop": f"{LC}arrivalStop",
        "departureTime": f"{LC}departureTime",
        "arrivalTime": f"{LC}arrivalTime",
        "gtfs:trip": f"{GTFS}trip",
        "gtfs:route": f"{GTFS}route",
        "direction": f"{GTFS}headsign",
        "gtfs:pickupType": f"{GTFS}pickupType",
        "gtfs:dropOffType": f"{GTFS}dropOffType",
    }
    for k, pred in mapping.items():
        v = obj.get(k)
        if v:
            out.add((s, pred, v.replace("gtfs:", GTFS) if k.startswith("gtfs:") and v.startswith("gtfs:") else v))
    return out


@pytest.fixture(scope="module")
def reference_triples():
    if not os.path.exists(FIXTURE):
        pytest.skip("reference checkout not present")
    triples = set()
    with open(FIXTURE) as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            triples |= jsonld_obj_to_triples(json.loads(line))
    return triples


@pytest.fixture(scope="module")
def our_triples(jsonld):
    triples = set()
    for r in jsonld.collect():
        obj = {
            "@id": r.id,
            "departureStop": r.departureStop,
            "arrivalStop": r.arrivalStop,
            "departureTime": r.departureTime,
            "arrivalTime": r.arrivalTime,
            "gtfs:trip": r.gtfs_trip,
            "gtfs:route": r.gtfs_route,
            "direction": r.direction,
            "gtfs:pickupType": r.gtfs_pickupType,
            "gtfs:dropOffType": r.gtfs_dropOffType,
        }
        triples |= jsonld_obj_to_triples(obj)
    return triples


def test_precision_recall_vs_reference_fixture(reference_triples, our_triples):
    inter = len(reference_triples & our_triples)
    precision = inter / len(our_triples)
    recall = inter / len(reference_triples)
    print(f"\ntriples ours={len(our_triples)} ref={len(reference_triples)} "
          f"P={precision:.4f} R={recall:.4f}")
    assert precision >= 0.95, f"precision {precision:.4f} < 0.95"
    assert recall >= 0.95, f"recall {recall:.4f} < 0.95"


def test_connection_ids_exactly_match(reference_triples, our_triples):
    """Subject sets (connection URIs) must match exactly — divergence is
    confined to the documented stale-headsign objects."""
    ref_subjects = {t[0] for t in reference_triples}
    our_subjects = {t[0] for t in our_triples}
    assert ref_subjects == our_subjects
    assert len(ref_subjects) == 3472


def test_divergence_is_only_headsign(reference_triples, our_triples):
    diff_preds = {t[1] for t in reference_triples ^ our_triples}
    assert diff_preds <= {f"{GTFS}headsign"}, diff_preds
