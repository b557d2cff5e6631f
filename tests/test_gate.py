"""pdflike correctness-gate plumbing: Spark mapInPandas output must equal
the pure-Python expected frame, payloads must be deterministic, and the
pure parse must reproduce the pinned oracle fixtures."""

import os

import pandas as pd
import pytest

from bella_domify_spark.parsers.pdflike.gate import (
    expected_frame,
    gate_extract,
    gate_extract_stream,
    gate_payload,
    gate_payload_stream,
    gate_record,
    gate_record_stream,
)

FIXTURES = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "fixtures")


def test_gate_payload_deterministic():
    assert gate_payload(7) == gate_payload(7)
    assert gate_payload(7) != gate_payload(8)
    assert gate_payload(0).startswith('{"pages"')


def test_gate_scenarios_covered():
    # the seeded generator must exercise every typesetter scenario across a
    # modest id range (headers/footers, TOC, lists, tables, two-column,
    # hyphenation, cover) — guards against a seed change collapsing coverage
    import json

    kinds = set()
    for i in range(64):
        doc = json.loads(gate_payload(i))
        # type-1 image blocks have no lines (P25 stand-in)
        texts = [s.get("text", "") for p in doc["pages"] for b in p["blocks"]
                 for l in b.get("lines", []) for s in l["spans"]]
        if any(t == "目录" for t in texts):
            kinds.add("toc")
        if any(t.startswith("1. ") for t in texts):
            kinds.add("list")
        if any(p["shapes"] for p in doc["pages"]):
            kinds.add("table")
        if any(t.startswith("Page ") for t in texts):
            kinds.add("footer")
        if len(doc["pages"]) > 1:
            kinds.add("multipage")
    assert kinds == {"toc", "list", "table", "footer", "multipage"}


def test_gate_extract_matches_expected(spark):
    docs = spark.createDataFrame([(i,) for i in range(40)], ["doc_id"])
    got = (gate_extract(docs).toPandas()
           .sort_values("doc_id").reset_index(drop=True))
    exp = expected_frame(gate_record, 40)
    assert (got["status"] == "ok").all()
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_stream_gate_payload_deterministic():
    assert gate_payload_stream(7) == gate_payload_stream(7)
    assert gate_payload_stream(7) != gate_payload_stream(8)
    assert gate_payload_stream(7) != gate_payload(7)   # distinct seed space


def test_stream_gate_scenarios_covered():
    # across a modest id range the stream gate must produce: a merged
    # stream cell with rowspan 3, a colspan-2 cell, a lattice table
    # coexisting with a stream grid, and at least one veto negative
    # (borderless two-column paragraph pair that stays plain text)
    import json

    kinds = set()
    for i in range(64):
        rec = gate_record_stream(i)
        assert rec["status"] == "ok"
        md = rec["extracted_text"]
        has_shapes = any(p["shapes"]
                         for p in json.loads(gate_payload_stream(i))["pages"])
        if "rowspan='3'" in md:
            kinds.add("rowspan")
        if "colspan='2'" in md:
            kinds.add("colspan")
        if has_shapes and md.count("<table>") >= 2:
            kinds.add("lattice+stream")
        if not has_shapes and "<table>" not in md:
            kinds.add("veto-negative")
        if "<table>" in md:
            kinds.add("table")
    assert kinds == {"rowspan", "colspan", "lattice+stream",
                     "veto-negative", "table"}


def test_stream_gate_extract_matches_expected(spark):
    docs = spark.createDataFrame([(i,) for i in range(40)], ["doc_id"])
    got = (gate_extract_stream(docs).toPandas()
           .sort_values("doc_id").reset_index(drop=True))
    exp = expected_frame(gate_record_stream, 40)
    assert (got["status"] == "ok").all()
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


@pytest.mark.parametrize("record_fn, fixture", [
    (gate_record, "pdflike_expected.parquet"),
    (gate_record_stream, "pdflike_stream_expected.parquet"),
])
def test_records_equal_pinned_fixture(record_fn, fixture):
    # Spark-free: the pure parse of the first ids must reproduce the pinned
    # oracle rows byte for byte, so a pdflike change that alters any output
    # fails here and not only in tools/check_oracle.py
    n = 300
    path = os.path.join(FIXTURES, fixture)
    pinned = pd.read_parquet(path, filters=[("doc_id", "<", n)])
    pinned = pinned.sort_values("doc_id").reset_index(drop=True)
    assert list(pinned["doc_id"]) == list(range(n))
    got = expected_frame(record_fn, n)
    pd.testing.assert_frame_equal(got, pinned, check_dtype=False)
