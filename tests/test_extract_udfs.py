"""Contracts of the engine's query-facing UDFs: the StandardDomTree routing
of ``standard_udf`` and the null/error isolation of the single-format text
UDFs."""

import json

import pytest


def _standard_payloads():
    from bella_domify_spark import synthdocs as sd
    from bella_domify_spark.parsers import docxlike, markdown, txt, xlsxlike
    from bella_domify_spark.parsers.pdflike import pipeline as pdfpipe

    # (payload generator, the tree the StandardDomTree is built from);
    # html and pptx go through the txt converter, as the reference sends
    # .html through it (parse_manager.py:90-95)
    return {
        "plaintext": (sd.gen_plaintext, txt.parse),
        "markdown": (sd.gen_markdown, markdown.parse),
        "pdflike": (sd.gen_pdflike, pdfpipe.parse),
        "docxlike": (sd.gen_docxlike, docxlike.parse),
        "htmllike": (sd.gen_htmllike, txt.parse),
        "xlsxlike": (sd.gen_xlsxlike, xlsxlike.build_domtree),
        "pptxlike": (sd.gen_pptxlike, txt.parse),
    }


def test_standard_udf_routes_each_format(spark):
    from bella_domify_spark.core.standard import to_standard
    from bella_domify_spark.engine.extract import standard_udf
    from bella_domify_spark.parsers.dispatch import detect_format
    from bella_domify_spark.synthdocs import _Rng

    rows, expected = [], {}
    for i, (fmt, (gen, tree_of)) in enumerate(_standard_payloads().items()):
        payload = gen(_Rng(7_001 + i))
        assert detect_format(payload) == fmt
        std = to_standard(tree_of(payload))
        rows.append((fmt, payload))
        expected[fmt] = (json.dumps(std, ensure_ascii=False,
                                    separators=(",", ":")),
                         std["root"]["tokens"])
    rows += [("blank", ""), ("null", None)]
    expected.update(blank=(None, 0), null=(None, 0))

    df = spark.createDataFrame(rows, "name string, text string")
    got = {r["name"]: (r["s"]["standard_json"], r["s"]["tokens"])
           for r in df.select("name", standard_udf("text").alias("s"))
                      .collect()}
    assert got == expected


# one payload per UDF that makes its parser raise; the markdown tokenizer
# and the html extractor are total, so only null reaches their error path
TEXT_UDFS = [
    ("md_flatten_udf", None),
    ("docx_flat_udf", "<w:document><w:body"),
    ("xlsx_flat_udf", '{"sheets": [1]}'),
    ("pptx_flat_udf", '{"slides": 1}'),
    ("html_extract_udf", None),
    ("xlsx_markdown_udf", '{"sheets": 42'),
    ("csv_normalize_udf", 'a\rb,"c\r'),
    ("csv_markdown_udf", 'a\rb,"c\r'),
]


@pytest.mark.parametrize("name,malformed", TEXT_UDFS)
def test_text_udf_null_and_malformed_are_null(spark, name, malformed):
    from bella_domify_spark.engine import extract

    texts = [None] + ([malformed] if malformed is not None else [])
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    out = df.select(getattr(extract, name)("text").alias("o")).collect()
    assert [r["o"] for r in out] == [None] * len(texts)


def test_detect_format_udf_maps_null_to_empty(spark):
    from bella_domify_spark.engine.extract import detect_format_udf

    df = spark.createDataFrame([(None,), ("",), ("plain words",)],
                               "text string")
    assert [r["f"] for r in df.select(detect_format_udf("text").alias("f"))
            .collect()] == ["empty", "empty", "plaintext"]


def test_text_udf_isolates_exceptions(spark):
    from bella_domify_spark.engine.extract import _text_udf

    to_int = _text_udf(lambda t: str(int(t)))
    df = spark.createDataFrame([("12",), ("x",), (None,)], "text string")
    assert [r["o"] for r in df.select(to_int("text").alias("o"))
            .collect()] == ["12", None, None]
