"""Per-turn format detection and parse dispatch.

Mirrors the reference's extension-based router
(/root/reference/services/parse_manager.py:74-95, 128-176) — but transcripts
carry no filename, so format is detected from payload shape (FIXTURES.md §1):

- ``{"pages":``  prefix → PDF-like glyph document
- ``<w:document`` prefix → DOCX-like WordprocessingML
- ``<!doctype html`` / ``<html`` prefix → HTML (boilerplate-strip extension)
- markdown block markers → markdown
- anything else → plain text

Equality semantics per format:
- plaintext  → txt converter (one node; flatten ≈ text + "\\n\\n")
- markdown   → the reference treats .md as plain text at domtree level
  (parse_manager.py:143-153), so ``extracted_text`` uses the txt rule while
  ``domtree_json`` carries the richer block-tokenizer tree (axis B).
- docx-like  → XML walk tree; text via the layout semantics
- pdf-like   → full layout pipeline; text = tree markdown flatten

``PARSERS`` is the one format router: each entry maps
``(text, image_provider)`` to the record's ``(domtree_json,
extracted_text)``. The tree formats build their DomTree and go through
``tree_record`` (``to_json`` + ``to_markdown``). Plaintext, markdown and
pptx-like emit the two strings directly (``txt.record``,
``markdown.record``): their trees hold only one-span placeholder blocks,
so the JSON is fixed by each node's text, layout type and position, and
the txt flatten is ``text + "\\n\\n"`` with a "# " prefix for a List. The
Span/Line/TextBlock tree cost more than the rest of their parse; it stays
as ``txt.parse`` / ``markdown.parse``, the specification the emitters are
tested against (tests/test_direct_emit.py) and what ``standard_udf`` and
``md_flatten_udf`` use. ``parse_payload`` is a pure function str → dict
over ``PARSERS``, and ``parse_batch`` maps it over an Arrow batch — the
whole Python body of every extraction crossing (no per-row Python UDFs).
"""

from __future__ import annotations

import re
from typing import Optional

import pyarrow as pa

from bella_domify_spark import context
from bella_domify_spark.parsers import (csvlike, docxlike, htmllike, markdown,
                                        pptxlike, txt, xlsxlike)
from bella_domify_spark.parsers.pdflike import pipeline as pdfpipe

FMT_PDF = "pdflike"
FMT_DOCX = "docxlike"
FMT_MD = "markdown"
FMT_TXT = "plaintext"
FMT_XLSX = "xlsxlike"
FMT_PPTX = "pptxlike"
FMT_HTML = "htmllike"
FMT_EMPTY = "empty"

_MD_HINTS = re.compile(
    r"(?m)^(#{1,6}\s+\S|```|\|.+\|\s*$|[-*+]\s+\S|\d{1,9}[.)]\s+\S)"
)


def detect_format(text: Optional[str]) -> str:
    if text is None or text == "":
        return FMT_EMPTY
    head = text.lstrip()[:64]
    if head.startswith('{"pages"'):
        return FMT_PDF
    if head.startswith('{"sheets"'):
        return FMT_XLSX
    if head.startswith('{"slides"'):
        return FMT_PPTX
    if head.startswith("<w:document") or head.startswith("<document"):
        return FMT_DOCX
    low = head[:16].lower()
    if low.startswith("<!doctype html") or low.startswith("<html"):
        return FMT_HTML
    if _MD_HINTS.search(text):
        return FMT_MD
    return FMT_TXT


def tree_record(tree) -> tuple:
    """A tree format's ``(domtree_json, extracted_text)``."""
    return tree.to_json(), tree.to_markdown()


def _pptx(text: str, image_provider) -> tuple:
    # layout-only format in the reference (no pptx domtree converter
    # exists); extracted text = the layout flat text, tree = one node
    # carrying it
    extracted = pptxlike.flat_text(text)
    return txt.record(extracted)[0], extracted


def _markdown(text: str, image_provider) -> tuple:
    # equality target: txt semantics; tree: block tokenizer
    extracted = txt.flatten(text, txt.layout_type(text))
    return markdown.record(text), extracted


#: The one format router: fmt -> fn(text, image_provider) ->
#: (domtree_json, extracted_text). ``image_provider`` (a
#: providers.ImageStorageProvider) enables the Figure link/OCR path for
#: pdf-format payloads — None keeps placeholders, like the reference with
#: no parser_context provider bound. htmllike is an ENGINE EXTENSION: the
#: reference routes .html through its txt converter (parse_manager.py:90-95);
#: the north star asks for true boilerplate strip + DOM heuristics — see
#: htmllike.py.
PARSERS = {
    FMT_PDF: lambda t, p: tree_record(pdfpipe.parse(t, image_provider=p)),
    FMT_XLSX: lambda t, p: tree_record(xlsxlike.build_domtree(t)),
    FMT_PPTX: _pptx,
    FMT_DOCX: lambda t, p: tree_record(docxlike.parse(t)),
    FMT_HTML: lambda t, p: tree_record(htmllike.parse(t)),
    FMT_MD: _markdown,
    FMT_TXT: lambda t, p: txt.record(t),
}


def parse_record(fmt: str, parse, text: str, image_provider=None) -> dict:
    """Run one ``parse(text, image_provider) -> (domtree_json,
    extracted_text)`` into an extraction record. Never raises: errors are
    reported in the ``status`` column (per-page error isolation analogue,
    reference pdf/converter.py:160-166)."""
    try:
        dom_json, extracted = parse(text, image_provider)
        n_nodes = dom_json.count('"element":{') if dom_json else 0
        return {"extracted_text": extracted, "domtree_json": dom_json,
                "fmt": fmt, "n_nodes": n_nodes, "status": "ok"}
    except Exception as e:  # noqa: BLE001 — never fail the job for one turn
        return {"extracted_text": "", "domtree_json": None, "fmt": fmt,
                "n_nodes": 0, "status": f"error:{type(e).__name__}:{e}"[:200]}


def parse_payload(text: Optional[str], image_provider=None) -> dict:
    """Parse one turn payload → extraction record (never raises)."""
    fmt = detect_format(text)
    if fmt == FMT_EMPTY:
        return {"extracted_text": "", "domtree_json": None, "fmt": fmt,
                "n_nodes": 0, "status": "skipped_empty"}
    return parse_record(fmt, PARSERS[fmt], text, image_provider)


#: Arrow type of an extraction record (engine.extract.PARSE_RESULT_TYPE is
#: derived from it)
PARSE_RESULT_ARROW = pa.struct([
    ("extracted_text", pa.string()),
    ("domtree_json", pa.string()),
    ("fmt", pa.string()),
    ("n_nodes", pa.int32()),
    ("status", pa.string()),
])


def parse_batch(texts: pa.Array,
                ocr_provider: Optional[str] = None) -> pa.StructArray:
    """The one Arrow batch-parse body, shared by the parse UDF and the
    fused sink: one extraction record per turn of the batch. The provider
    travels BY NAME (context.image_provider — the parser_context analogue)
    and resolves to a per-process instance; None means no provider."""
    prov = context.image_provider(ocr_provider)
    return pa.array([parse_payload(t if isinstance(t, str) else None, prov)
                     for t in texts.to_pylist()], type=PARSE_RESULT_ARROW)


__all__ = [
    "detect_format",
    "parse_payload",
    "parse_batch",
    "csvlike",
    "FMT_PDF", "FMT_DOCX", "FMT_MD", "FMT_TXT", "FMT_XLSX", "FMT_PPTX",
    "FMT_EMPTY",
]
