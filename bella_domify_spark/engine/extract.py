"""The distributed extraction plan and the engine's query-facing UDFs.

One extraction path: ``parsers.dispatch.PARSERS`` is the only format
router and ``parsers.dispatch.parse_batch`` (Arrow text array → Arrow
record struct) the only batch-parse body. Two plans run it:

- ``engine.manifest.run_resumable`` (the production path) parses INSIDE
  its per-bucket sink's ``mapInArrow`` stage — one JVM↔Python crossing
  from scan to committed bucket files;
- ``extract_transcripts`` / ``apply_parse`` (DataFrame in, DataFrame out)
  call it through ``parse_udf``, an Arrow UDF returning the record struct
  (one ``ArrowEvalPython`` node), and project the struct into
  ``OUTPUT_COLUMNS``.

``extract_transcripts`` pipeline (SURVEY.md §3.4):

    scan transcripts → salt → repartition(conv_id, salt) →
    Arrow-batched parse UDF → (optional) stable (conv_id, turn_idx) order

- **One shuffle** feeds the parse stage. Salting: ``salt = pmod(xxhash64(
  conv_id, turn_idx), SALT_BUCKETS)`` and ``repartition(N, conv_id, salt)``
  — a conversation with 10^6 turns spreads over ``SALT_BUCKETS`` partitions
  instead of hot-spotting one task (north_rule skew requirement). The hash
  is deterministic, so partition contents are reproducible → resumable.
- **Ordering** is applied with ``repartitionByRange(conv_id, turn_idx) +
  sortWithinPartitions`` — range partitioning gives global order across
  output files without a driver-side sort and also splits giant
  conversations at turn boundaries.
- Filters on scan columns happen *before* the UDF so Catalyst pushes them to
  parquet/Iceberg (predicate pushdown + column pruning; the UDF only ever
  receives ``text``).

The remaining UDFs serve single-format queries: ``_text_udf`` builds the
text → text ones, ``standard_udf`` emits the StandardDomTree wire protocol
from each format's tree builder (``_STANDARD_PARSERS``: the extraction
path skips the tree for plaintext and markdown), and ``layout_udf`` the
flat layout model (``parsers.layout_flat`` keeps its own router: it builds
a different output model).
"""

from __future__ import annotations

import json
from typing import Optional

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F, types as T
from pyspark.sql.pandas.types import from_arrow_type

from bella_domify_spark.parsers import (csvlike, docxlike, htmllike, markdown,
                                        pptxlike, txt, xlsxlike)
from bella_domify_spark.parsers.dispatch import (
    FMT_DOCX, FMT_EMPTY, FMT_HTML, FMT_MD, FMT_PDF, FMT_PPTX, FMT_TXT,
    FMT_XLSX, PARSE_RESULT_ARROW, detect_format, parse_batch)
from bella_domify_spark.parsers.pdflike import pipeline as pdfpipe

PARSE_RESULT_TYPE = from_arrow_type(PARSE_RESULT_ARROW)

OUTPUT_COLUMNS = ["conv_id", "turn_idx", "role", "tool", "ts",
                  "fmt", "extracted_text", "domtree_json", "n_nodes", "status"]


def _make_parse_udf(ocr_provider: Optional[str]):
    """Arrow UDF over the text column returning the record struct. The
    provider name serializes into the plan (see parse_batch)."""

    @F.arrow_udf(PARSE_RESULT_TYPE)
    def udf(texts: pa.Array) -> pa.Array:
        return parse_batch(texts, ocr_provider)

    return udf


#: Arrow-batched dispatcher: one Python call per Arrow batch of turns
parse_udf = _make_parse_udf(None)


def _text_udf(fn):
    """Arrow UDF applying ``fn(payload) -> str`` per row; null payloads and
    payloads ``fn`` raises on map to null (per-document error isolation)."""

    def apply(t):
        if not isinstance(t, str):
            return None
        try:
            return fn(t)
        except Exception:  # noqa: BLE001 — per-document error isolation
            return None

    @F.arrow_udf(T.StringType())
    def udf(texts: pa.Array) -> pa.Array:
        return pa.array([apply(t) for t in texts.to_pylist()], type=pa.string())

    return udf


#: markdown tokenizer → tree → reference flatten (flatten-stability
#: surface for canonical markdown)
md_flatten_udf = _text_udf(lambda t: markdown.parse(t).to_markdown())
#: DOCX-like XML walk → reference layout flat text ('；'-joined)
docx_flat_udf = _text_udf(docxlike.extract_text)
#: sheet-model payload → reference xlsx layout text with ``Sheet:`` headers
#: and tab-joined cells (xlsx_parser.py:20-46)
xlsx_flat_udf = _text_udf(xlsxlike.layout_text)
#: slide-model payload → reference pptx layout flat text
#: (pptx_parser.py:22-67 + '；'-joined blocks)
pptx_flat_udf = _text_udf(pptxlike.flat_text)
#: HTML page → boilerplate strip + DOM heuristics → main-content markdown
#: (htmllike.py; engine extension per the north star)
html_extract_udf = _text_udf(htmllike.extract_text)
#: sheet-model payload → Excel domtree → markdown (one HTML table per
#: sheet, excel/converter.py:85-186 + domtree.py:339-350)
xlsx_markdown_udf = _text_udf(xlsxlike.extract_text)
#: CSV layout normalization (csv_parser.py:19-40 semantics)
csv_normalize_udf = _text_udf(csvlike.normalize_text)
#: CSV → GFM pipe table (csv_parser.py:43-64 semantics)
csv_markdown_udf = _text_udf(csvlike.to_markdown_table)


STANDARD_RESULT_TYPE = T.StructType([
    T.StructField("standard_json", T.StringType()),
    T.StructField("tokens", T.IntegerType()),
])

# fmt -> the tree the StandardDomTree is built from. The StandardDomTree
# of html and pptx payloads is built from the txt converter's tree, as the
# reference sends .html through it (parse_manager.py:90-95)
_STANDARD_PARSERS = {FMT_PDF: pdfpipe.parse, FMT_XLSX: xlsxlike.build_domtree,
                     FMT_DOCX: docxlike.parse, FMT_MD: markdown.parse,
                     FMT_TXT: txt.parse, FMT_HTML: txt.parse,
                     FMT_PPTX: txt.parse}


@F.pandas_udf(STANDARD_RESULT_TYPE)
def standard_udf(texts: pd.Series) -> pd.DataFrame:
    """StandardDomTree wire protocol per payload (format-dispatched)."""
    from bella_domify_spark.core.standard import to_standard

    out = []
    for t in texts:
        t = t if isinstance(t, str) else None
        fmt = detect_format(t)
        if fmt == FMT_EMPTY:
            out.append({"standard_json": None, "tokens": 0})
            continue
        try:
            std = to_standard(_STANDARD_PARSERS[fmt](t))
            out.append({"standard_json": json.dumps(std, ensure_ascii=False,
                                                    separators=(",", ":")),
                        "tokens": std["root"]["tokens"]})
        except Exception:  # noqa: BLE001
            out.append({"standard_json": None, "tokens": 0})
    return pd.DataFrame.from_records(out, columns=STANDARD_RESULT_TYPE.fieldNames())


LAYOUT_RESULT_TYPE = T.StructType([
    T.StructField("layout_json", T.StringType()),
    T.StructField("layout_text", T.StringType()),
    T.StructField("n_blocks", T.IntegerType()),
])


@F.pandas_udf(LAYOUT_RESULT_TYPE)
def layout_udf(texts: pd.Series) -> pd.DataFrame:
    """Flat layout model (SimpleBlock list + '；'-joined text) per payload."""
    from bella_domify_spark.parsers.layout_flat import layout_record

    recs = [layout_record(t if isinstance(t, str) else None) for t in texts]
    return pd.DataFrame.from_records(recs, columns=LAYOUT_RESULT_TYPE.fieldNames())


@F.pandas_udf(T.StringType())
def detect_format_udf(texts: pd.Series) -> pd.Series:
    return texts.map(lambda t: detect_format(t if isinstance(t, str) else None))


# skew fan-out per conversation: a conversation spreads over at most this
# many parse partitions
SALT_BUCKETS = 8


def with_salt(df: DataFrame) -> DataFrame:
    """Deterministic salt: long conversations fan out over ``SALT_BUCKETS``
    reducers while short ones stay co-located by conv_id."""
    return df.withColumn(
        "salt", F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(SALT_BUCKETS)).cast("int")
    )


def apply_parse(df: DataFrame, ocr_provider: Optional[str] = None) -> DataFrame:
    """Apply the Arrow-batched parse UDF and project the result struct
    into ``OUTPUT_COLUMNS``; ``ocr_provider``: registry name (context.py)
    for the image seam."""
    parsed = df.withColumn("_p", _make_parse_udf(ocr_provider)(F.col("text")))
    fields = PARSE_RESULT_TYPE.fieldNames()
    return parsed.select(*[F.col(f"_p.{c}").alias(c) if c in fields else c
                           for c in OUTPUT_COLUMNS])


def extract_transcripts(df: DataFrame,
                        partitions: Optional[int] = None,
                        ordered: bool = False,
                        ocr_provider: Optional[str] = None) -> DataFrame:
    """Run the extraction over a transcript DataFrame.

    Args:
        df: columns (conv_id, turn_idx, role, text, tool, ts).
        partitions: parse-stage parallelism (default: session shuffle
            partitions).
        ordered: re-range-partition the output by (conv_id, turn_idx) for a
            globally ordered sink (adds the second shuffle).
    """
    df = with_salt(df)
    if partitions:
        df = df.repartition(partitions, "conv_id", "salt")
    else:
        df = df.repartition("conv_id", "salt")
    df = df.drop("salt")

    out = apply_parse(df, ocr_provider)
    if ordered:
        out = (out.repartitionByRange(partitions or 32, "conv_id", "turn_idx")
                  .sortWithinPartitions("conv_id", "turn_idx"))
    return out
