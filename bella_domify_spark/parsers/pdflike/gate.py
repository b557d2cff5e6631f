"""PDF-like pipeline correctness gate: a driver-verifiable queries() entry.

The driver's CORRECTNESS check runs Spark queries against DuckDB SQL twins —
but the pdflike layout engine (SURVEY.md §2 P1-P23, R1-R4, T1-T5) is not
SQL-expressible. Bridge: synthesize a deterministic glyph-document payload
per ``doc_id`` (seeded miniature typesetter, synthdocs.py — covers headers/
footers, TOC, lists, lattice tables with merged cells, two-column pages,
hyphenation, cover pages), run the full parse pipeline over it in Spark,
and compare against a pre-computed expected table produced by the same pure
Python on the driver (fixtures/pdflike_expected.parquet, regenerated by
tools/gen_pdflike_expected.py). The oracle SQL joins that parquet against
the registered ``documents`` view so it adapts to any scale factor whose
doc_ids fall inside the pre-computed range.

Payloads depend ONLY on doc_id (not document content) so the expected table
survives test-data regeneration. Reference parity of the parse itself is
pinned by the hand-written unit tests (tests/test_pdflike.py et al.); this
gate proves the *distributed* execution path — Arrow batching, dispatch,
schema — produces byte-identical extractions.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame

GATE_SEED = 90_000_019  # doc_id -> typesetter seed offset (pinned)

GATE_SCHEMA = ("doc_id bigint, extracted_text string, domtree_json string, "
               "n_nodes int, status string")


def gate_payload(doc_id: int) -> str:
    """Deterministic glyph-document JSON for one doc id."""
    from bella_domify_spark.synthdocs import _Rng, gen_pdflike

    return gen_pdflike(_Rng(GATE_SEED + int(doc_id)))


def _gate_row(doc_id: int, rec: dict) -> dict:
    return {"doc_id": int(doc_id), "extracted_text": rec["extracted_text"],
            "domtree_json": rec["domtree_json"],
            "n_nodes": rec["n_nodes"], "status": rec["status"]}


def gate_record(doc_id: int) -> dict:
    """Payload -> parse record (pure; used by Spark and the oracle tool)."""
    from bella_domify_spark.parsers.dispatch import parse_payload

    return _gate_row(doc_id, parse_payload(gate_payload(doc_id)))


STREAM_SEED = 91_000_003  # doc_id -> stream-scenario seed offset (pinned)


def gate_payload_stream(doc_id: int) -> str:
    """Deterministic STREAM-table glyph document for one doc id —
    borderless grids, merged stream cells, lattice/stream coexistence,
    veto negatives (synthdocs.gen_pdflike_stream)."""
    from bella_domify_spark.synthdocs import _Rng, gen_pdflike_stream

    return gen_pdflike_stream(_Rng(STREAM_SEED + int(doc_id)))


def gate_record_stream(doc_id: int) -> dict:
    """Stream-variant record: the SAME pipeline with
    ``parse_stream_table=True`` (reference flag
    services/parse_manager.py:572-578) — makes P16 (tables.py
    parse_stream_tables + merged stream cells) oracle-visible instead of
    pytest-only. The record (node count, error status) is built by the
    same dispatch.parse_record as every turn's."""
    from bella_domify_spark.parsers.dispatch import (FMT_PDF, parse_record,
                                                     tree_record)
    from bella_domify_spark.parsers.pdflike import pipeline as pdfpipe

    def parse(text: str, _image_provider) -> tuple:
        return tree_record(pdfpipe.parse(text, parse_stream_table=True))

    return _gate_row(doc_id, parse_record(FMT_PDF, parse,
                                          gate_payload_stream(doc_id)))


OCR_SCHEMA = ("doc_id bigint, extracted_text string, layout_text string, "
              "n_images int, n_layout_images int, status string")


def gate_record_ocr(doc_id: int) -> dict:
    """Image-provider variant over the SAME gate payloads: the full DOM
    parse with providers.StubImageProvider (Figure markdown gains
    ``![Figure](stub://…)`` + ``> ``-quoted OCR — domtree.py:239-242)
    plus the flat layout parse with the same provider (IMAGE SimpleBlocks
    carry text=url / ocr_result — simple_block.py:25-38, pic_parser.py).
    Makes the S5/F10 provider seam oracle-visible end-to-end."""
    from bella_domify_spark.parsers import layout_flat
    from bella_domify_spark.parsers.pdflike import pipeline as pdfpipe
    from bella_domify_spark.providers import StubImageProvider

    payload = gate_payload(doc_id)
    provider = StubImageProvider()
    try:
        tree = pdfpipe.parse(payload, image_provider=provider)
        md = tree.to_markdown()
        blocks = layout_flat.layout_parse(payload, image_provider=provider)
        # DOM Figures (inline spans + type-1 blocks) and flat-layout
        # IMAGE blocks (type-1 only) are DIFFERENT populations — reported
        # separately, never summed
        return {"doc_id": int(doc_id), "extracted_text": md,
                "layout_text": layout_flat.flat_text(blocks),
                "n_images": md.count("![Figure](stub://"),
                "n_layout_images": sum(b.type == layout_flat.IMAGE
                                       for b in blocks),
                "status": "ok"}
    except Exception as e:  # noqa: BLE001 — never fail the job for one doc
        return {"doc_id": int(doc_id), "extracted_text": "",
                "layout_text": "", "n_images": 0, "n_layout_images": 0,
                "status": f"error:{type(e).__name__}:{e}"[:200]}


STD_IMG_SCHEMA = ("doc_id bigint, tokens int, n_figures int, "
                  "images_json string, status string")


def gate_record_standard(doc_id: int) -> dict:
    """StandardDomTree image-payload variant over the SAME gate payloads:
    full DOM parse with providers.StubImageProvider, converted to the
    StandardDomTree wire protocol (core/standard.py), then every Figure
    element flattened to (path, name, tokens, image{type,url,file_id}) —
    the StandardImageElement round-trip (reference
    server/protocol/standard_domtree.py:35-39,69-72,280-299) with the
    stub provider's URL and content-addressed file_id pinned in the
    oracle hash."""
    import json

    from bella_domify_spark.core.standard import to_standard
    from bella_domify_spark.parsers.pdflike import pipeline as pdfpipe
    from bella_domify_spark.providers import StubImageProvider

    payload = gate_payload(doc_id)
    try:
        tree = pdfpipe.parse(payload, image_provider=StubImageProvider())
        std = to_standard(tree)
        figs = []

        def walk(n: dict) -> None:
            el = n.get("element")
            if el and el.get("type") == "Figure":
                figs.append({"path": n.get("path"),
                             "name": el.get("name") or "",
                             "tokens": n.get("tokens", 0),
                             "image": el.get("image")})
            for c in n.get("children") or []:
                walk(c)

        walk(std["root"])
        return {"doc_id": int(doc_id), "tokens": std["root"]["tokens"],
                "n_figures": len(figs),
                "images_json": json.dumps(figs, ensure_ascii=False,
                                          separators=(",", ":")),
                "status": "ok"}
    except Exception as e:  # noqa: BLE001 — never fail the job for one doc
        return {"doc_id": int(doc_id), "tokens": 0, "n_figures": 0,
                "images_json": None,
                "status": f"error:{type(e).__name__}:{e}"[:200]}


def _extract_with(docs: DataFrame, record_fn,
                  schema: str = GATE_SCHEMA) -> DataFrame:
    """Spark side: one parsed row per ``documents`` row, via mapInPandas.

    The documents table is a single small file (scan = ONE split), but the
    parse is ~5 ms/doc of Python — repartition the pruned id column across
    the cluster first so the Arrow stage runs wide (27 s → ~1.5 s at 32
    cores on 5000 docs)."""
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            yield pd.DataFrame([record_fn(i) for i in pdf["doc_id"]])

    par = docs.sparkSession.sparkContext.defaultParallelism
    return docs.select("doc_id").repartition(par).mapInPandas(run, schema)


def gate_extract(docs: DataFrame) -> DataFrame:
    return _extract_with(docs, gate_record)


def gate_extract_stream(docs: DataFrame) -> DataFrame:
    return _extract_with(docs, gate_record_stream)


def gate_extract_ocr(docs: DataFrame) -> DataFrame:
    return _extract_with(docs, gate_record_ocr, schema=OCR_SCHEMA)


def gate_extract_standard(docs: DataFrame) -> DataFrame:
    return _extract_with(docs, gate_record_standard, schema=STD_IMG_SCHEMA)


def expected_frame(record_fn, max_doc_id: int) -> "pd.DataFrame":  # noqa: F821
    """Driver side: ``record_fn``'s expected rows for ids [0, max_doc_id)."""
    import pandas as pd

    return pd.DataFrame([record_fn(i) for i in range(max_doc_id)])
