"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship extraction over an events-derived transcript
table at sf0.001. ``queries()`` — one entry per implemented operator from
SURVEY.md §2 + the training-data ops; ``oracle_sql()`` — DuckDB twins.

Column aliases match between Spark and SQL exactly (the driver hashes
values after sorting columns by name).
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd  # module-level: pandas_udf resolves pd.Series hints here

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

SF_DEFAULT = "/root/testdata/sf0.001"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _events_as_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive a transcript-shaped table from the events table: user → conv,
    event order → turn order, a deterministic mixed-format payload."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    md_payload = F.concat(F.lit("# Event "), F.col("event_type"),
                          F.lit("\n\n"), F.col("props"))
    docx_payload = F.concat(
        F.lit("<w:document><w:body><w:p><w:r><w:t>"),
        F.col("event_type"), F.lit(" value "),
        F.col("value").cast("string"),
        F.lit("</w:t></w:r></w:p></w:body></w:document>"))
    txt_payload = F.concat(F.col("event_type"), F.lit(" "), F.col("props"))
    payload = (F.when(F.pmod("event_id", F.lit(3)) == 0, txt_payload)
                .when(F.pmod("event_id", F.lit(3)) == 1, md_payload)
                .otherwise(docx_payload))
    return ev.select(
        F.concat(F.lit("conv"), F.col("user_id").cast("string")).alias("conv_id"),
        (F.row_number().over(w) - 1).alias("turn_idx"),
        F.lit("user").alias("role"),
        payload.alias("text"),
        F.lit("").alias("tool"),
        F.col("ts"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full extraction pipeline over sf0.001 (salted repartition →
    Arrow parse → stable ordering)."""
    from bella_domify_spark.engine.extract import extract_transcripts

    df = _events_as_transcripts(spark, SF_DEFAULT)
    return extract_transcripts(df, partitions=8, ordered=True)


# --------------------------------------------------------------------------
# queries — (spark, sf_dir) -> DataFrame
# --------------------------------------------------------------------------

def _q_extract_plaintext(spark, sf):
    from bella_domify_spark.engine.extract import parse_udf
    d = _t(spark, sf, "documents")
    return d.select("doc_id", parse_udf(F.col("text")).getField("extracted_text")
                    .alias("extracted_text"))


def _q_extract_markdown_flatten(spark, sf):
    from bella_domify_spark.engine.extract import md_flatten_udf
    d = _t(spark, sf, "documents")
    payload = F.concat(F.lit("# "), F.col("source"), F.lit("\n\n"), F.col("text"))
    return d.select("doc_id", md_flatten_udf(payload).alias("flattened"))


def _q_extract_docxlike_flat(spark, sf):
    from bella_domify_spark.engine.extract import docx_flat_udf
    d = _t(spark, sf, "documents")
    payload = F.concat(F.lit("<w:document><w:body><w:p><w:r><w:t>"),
                       F.col("text"),
                       F.lit("</w:t></w:r></w:p></w:body></w:document>"))
    return d.select("doc_id", docx_flat_udf(payload).alias("flat_text"))


def _q_extract_htmllike(spark, sf):
    # HTML boilerplate strip + DOM heuristics (north-star extension —
    # the reference treats .html as plain text, parse_manager.py:90-95):
    # nav/style/footer must vanish, headings/entities must survive
    from bella_domify_spark.engine.extract import html_extract_udf
    d = _t(spark, sf, "documents")
    payload = F.concat(
        F.lit('<html><head><title>ignored</title><style>p{c:red}</style>'
              '</head><body><nav><ul><li><a href="/">Home</a></li></ul>'
              '</nav><article><h1>'),
        F.col("source"), F.lit("</h1><p>"), F.col("text"),
        F.lit("</p><h2>Meta &amp; Lang</h2><p>lang: "), F.col("lang"),
        F.lit('</p></article><footer>(c) 2026 corp</footer></body></html>'))
    return d.select("doc_id", html_extract_udf(payload).alias("main_text"))


def _q_pdflike_extract(spark, sf):
    # The full pdflike layout engine (P1-P23, R1-R4, T1-T5) over
    # deterministic glyph payloads keyed by doc_id; oracle = pinned parquet
    # from the same pure-Python parse (tools/gen_pdflike_expected.py).
    from bella_domify_spark.parsers.pdflike.gate import gate_extract
    return gate_extract(_t(spark, sf, "documents"))


def _q_pdflike_extract_stream(spark, sf):
    # P16 under the driver oracle: the SAME pipeline with
    # parse_stream_table=True over borderless-grid payloads (merged stream
    # cells, lattice/stream coexistence, veto negatives); oracle = pinned
    # parquet from the same pure-Python parse (tools/gen_pdflike_expected.py).
    from bella_domify_spark.parsers.pdflike.gate import gate_extract_stream
    return gate_extract_stream(_t(spark, sf, "documents"))


def _q_layout_ocr_text(spark, sf):
    # S5/F10 provider seam under the driver oracle: the SAME gate payloads
    # parsed with providers.StubImageProvider — Figure markdown carries
    # ![Figure](stub://…) + "> "-quoted OCR (domtree.py:239-242) and the
    # flat layout's IMAGE SimpleBlocks carry ocr_result
    # (simple_block.py:25-38); oracle = pinned parquet
    # (tools/gen_pdflike_expected.py).
    from bella_domify_spark.parsers.pdflike.gate import gate_extract_ocr
    return gate_extract_ocr(_t(spark, sf, "documents"))


def _q_standard_images(spark, sf):
    # P25/S5 payload round-trip under the driver oracle: the SAME gate
    # payloads parsed with providers.StubImageProvider, converted to the
    # StandardDomTree protocol, every Figure flattened to
    # (path, merged name, tokens, image{type,url,file_id}) — the
    # StandardImageElement subtype (standard_domtree.py:35-39,69-72)
    # oracle-pinned end to end, stub URL + content-hash file_id in the
    # value hash; oracle = pinned parquet (tools/gen_pdflike_expected.py).
    from bella_domify_spark.parsers.pdflike.gate import gate_extract_standard
    return gate_extract_standard(_t(spark, sf, "documents"))


def _q_layout_flat_text(spark, sf):
    from bella_domify_spark.engine.extract import layout_udf
    d = _t(spark, sf, "documents")
    return d.select("doc_id",
                    layout_udf(F.col("text")).getField("layout_text")
                    .alias("layout_text"))


def _csv_payload():
    return F.concat(F.lit("source,lang\n"), F.col("source"), F.lit(","),
                    F.col("lang"))


def _q_csv_normalize(spark, sf):
    from bella_domify_spark.engine.extract import csv_normalize_udf
    d = _t(spark, sf, "documents")
    return d.select("doc_id", csv_normalize_udf(_csv_payload()).alias("norm_text"))


def _q_csv_markdown(spark, sf):
    from bella_domify_spark.engine.extract import csv_markdown_udf
    d = _t(spark, sf, "documents")
    return d.select("doc_id", csv_markdown_udf(_csv_payload()).alias("md_table"))


def _xlsx_payload():
    return F.concat(F.lit('{"sheets":[{"name":"'), F.col("source"),
                    F.lit('","rows":[["source","'), F.col("source"),
                    F.lit('"],["lang","'), F.col("lang"), F.lit('"]]}]}'))


def _q_extract_xlsxlike_flat(spark, sf):
    from bella_domify_spark.engine.extract import xlsx_flat_udf
    d = _t(spark, sf, "documents")
    return d.select("doc_id", xlsx_flat_udf(_xlsx_payload()).alias("sheet_text"))


def _q_xlsx_markdown(spark, sf):
    from bella_domify_spark.engine.extract import xlsx_markdown_udf
    d = _t(spark, sf, "documents")
    return d.select("doc_id", xlsx_markdown_udf(_xlsx_payload()).alias("md_table"))


def _q_extract_pptxlike_flat(spark, sf):
    from bella_domify_spark.engine.extract import pptx_flat_udf
    d = _t(spark, sf, "documents")
    payload = F.concat(
        F.lit('{"slides":[{"shapes":[{"type":"text_box","text":"'),
        F.col("source"),
        F.lit('"},{"type":"placeholder","placeholder":"body"},'
              '{"type":"table","rows":[["'), F.col("lang"),
        F.lit('","x"]]}]}]}'))
    return d.select("doc_id", pptx_flat_udf(payload).alias("slide_text"))


def _q_standard_tokens(spark, sf):
    from bella_domify_spark.engine.extract import standard_udf
    d = _t(spark, sf, "documents")
    return d.select("doc_id",
                    standard_udf(F.col("text")).getField("tokens")
                    .alias("tokens"))


def _q_format_detect_stats(spark, sf):
    from bella_domify_spark.engine.extract import detect_format_udf
    d = _t(spark, sf, "documents")
    payload = (F.when(F.pmod("doc_id", F.lit(3)) == 0, F.col("text"))
                .when(F.pmod("doc_id", F.lit(3)) == 1,
                      F.concat(F.lit("# "), F.col("text")))
                .otherwise(F.concat(
                    F.lit("<w:document><w:body><w:p><w:r><w:t>"), F.col("text"),
                    F.lit("</w:t></w:r></w:p></w:body></w:document>"))))
    return (d.select(detect_format_udf(payload).alias("fmt"))
            .groupBy("fmt").agg(F.count(F.lit(1)).alias("n")))


def _q_turn_ordering(spark, sf):
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select("user_id", "event_id",
                     F.row_number().over(w).alias("turn_rank"))


def _q_conv_assembly(spark, sf):
    # per-conversation training-document assembly: parse every turn, then
    # order-STABLE concatenation via array_sort over (turn_idx, text)
    # structs — identical output under any partitioning (north_rule:
    # stable (conv_id, turn_idx) ordering). The group row holds one
    # conversation's document — the intended product shape; conversation
    # length, not corpus size, bounds the row.
    from bella_domify_spark.engine.extract import parse_udf
    t = _events_as_transcripts(spark, sf)
    parsed = t.select("conv_id", "turn_idx",
                      parse_udf(F.col("text")).getField("extracted_text")
                      .alias("x"))
    return (parsed.groupBy("conv_id")
            .agg(F.count(F.lit(1)).alias("n_turns"),
                 F.concat_ws("", F.transform(
                     F.array_sort(F.collect_list(F.struct("turn_idx", "x"))),
                     lambda s: s["x"])).alias("conv_text")))


def _q_decode_roundtrip(spark, sf):
    # charset front door (reference csv_parser.py cascade, F1/F3): encode
    # each document's text executor-side in a per-id charset (utf-8 / gbk
    # with a CJK marker / latin1), then decode through the gbk-first
    # cascade. ASCII is invariant under all three and the CJK branch is
    # true gbk, so the round-trip restores the input exactly — any cascade
    # reordering or decode bug breaks the hash
    from pyspark.sql import types as T

    from bella_domify_spark.functions.charset import decode_binary_column

    @F.pandas_udf(T.BinaryType())
    def _enc(doc_id: pd.Series, text: pd.Series) -> pd.Series:
        def one(i, t):
            if t is None:
                return None  # oracle passes NULL through; so must we
            if not t.isascii():
                # non-ASCII would mojibake under the gbk-first cascade and
                # silently diverge from the oracle — fail LOUDLY so a
                # fixture regeneration surfaces here, not as a hash drift
                raise ValueError(
                    f"decode_roundtrip expects ASCII document text; doc "
                    f"{int(i)} is not — regenerate the oracle design")
            b = int(i) % 3
            if b == 1:
                return (t + "目录").encode("gbk")
            return t.encode("utf-8" if b == 0 else "latin1")
        return pd.Series([one(i, t) for i, t in zip(doc_id, text)])

    d = _t(spark, sf, "documents").select(
        "doc_id", _enc("doc_id", "text").alias("payload"))
    return (decode_binary_column(d, "payload", "decoded")
            .select("doc_id", "decoded"))


def _agent_transcripts(spark, sf):
    """Transcript shape with DETERMINISTIC role/tool columns (the
    input_hint columns the payload queries ignore): role cycles
    user/assistant/tool/assistant by event_id, tool turns carry one of 5
    tool names. Column-pruned — no payload is built, so the scan reads
    only (event_id, user_id, ts)."""
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    r = F.pmod("event_id", F.lit(4))
    role = (F.when(r == 0, "user").when(r == 1, "assistant")
             .when(r == 2, "tool").otherwise("assistant"))
    tool = F.when(r == 2, F.concat(F.lit("tool_"), F.pmod(
        "event_id", F.lit(5)).cast("string"))).otherwise("")
    return ev.select(
        F.concat(F.lit("conv"), F.col("user_id").cast("string")).alias("conv_id"),
        (F.row_number().over(w) - 1).alias("turn_idx"),
        role.alias("role"), tool.alias("tool"), F.col("ts"))


#: DuckDB twin of _agent_transcripts — prepended to the transcript-
#: analytics oracles (role/tool formulas mirror the Spark expressions).
_AGENT_T_CTE = """t AS (
                SELECT concat('conv', user_id::VARCHAR) AS conv_id,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) - 1 AS turn_idx,
                       CASE event_id % 4 WHEN 0 THEN 'user'
                            WHEN 1 THEN 'assistant' WHEN 2 THEN 'tool'
                            ELSE 'assistant' END AS role,
                       CASE WHEN event_id % 4 = 2
                            THEN concat('tool_', (event_id % 5)::VARCHAR)
                            ELSE '' END AS tool,
                       ts
                FROM events)"""


def _q_cross_surprisal(spark, sf):
    """Batch-vs-corpus bigram LM scoring (ops/textstats.py): odd doc_ids
    scored under the even-id corpus's smoothed bigram statistics."""
    from bella_domify_spark.ops.textstats import cross_surprisal
    d = _t(spark, sf, "documents")
    return cross_surprisal(d.filter(F.pmod("doc_id", F.lit(2)) == 1),
                           d.filter(F.pmod("doc_id", F.lit(2)) == 0))


def _q_truncate_conversations(spark, sf):
    """Head+tail context-window truncation per conversation
    (ops/transcript.py): first 4 + last 2 turns, head wins overlaps."""
    from bella_domify_spark.ops.transcript import truncate_conversations
    return truncate_conversations(_agent_transcripts(spark, sf))


def _q_adaptive_quality(spark, sf):
    """Per-language adaptive quality cutoff (ops/curate.py): keep iff the
    doc clears its own stratum's exact p25 score."""
    from bella_domify_spark.ops.curate import adaptive_quality_filter
    return adaptive_quality_filter(_t(spark, sf, "documents"))


def _q_incremental_dedup(spark, sf):
    """Batch-vs-corpus MinHash bucket screen (ops/dedup.py): odd doc_ids
    are 'today's batch', even doc_ids the standing corpus."""
    from bella_domify_spark.ops.dedup import incremental_dedup
    d = _t(spark, sf, "documents")
    return incremental_dedup(d.filter(F.pmod("doc_id", F.lit(2)) == 1),
                             d.filter(F.pmod("doc_id", F.lit(2)) == 0))


def _q_split_by_cluster(spark, sf):
    """Leakage-aware train/val/test split: near-dup clusters share one
    split via their canonical id (ops/curate.py)."""
    from bella_domify_spark.ops.curate import split_by_cluster
    return split_by_cluster(_t(spark, sf, "documents"))


def _q_pack_sequences(spark, sf):
    """Sharded cumulative training-sequence packing (ops/textstats.py):
    per-shard token-offset cumsum, integer-exact seq ids/offsets."""
    from bella_domify_spark.ops.textstats import pack_sequences
    return pack_sequences(_t(spark, sf, "documents"))


def _q_vocab_stats(spark, sf):
    """Corpus Zipf rank-frequency table, top-200 terms, all-integer
    (ops/textstats.py)."""
    from bella_domify_spark.ops.textstats import vocab_stats
    return vocab_stats(_t(spark, sf, "documents"))


def _q_sample_weighted(spark, sf):
    """A-ES weighted sampling without replacement, content-addressed
    (ops/textstats.py): top-50 docs by key = -ln(u_id)/token_weight."""
    from bella_domify_spark.ops.textstats import sample_weighted
    return sample_weighted(_t(spark, sf, "documents"), k=50)


def _q_chunk_docs(spark, sf):
    """Fixed-size training chunks (64 tokens, 16 overlap) — map-side
    explode, no shuffle, no UDF (ops/textstats.py)."""
    from bella_domify_spark.ops.textstats import chunk_docs
    return chunk_docs(_t(spark, sf, "documents"))


def _q_bm25_topk(spark, sf):
    """BM25 ranked retrieval (ops/retrieval.py): top-10 docs for the fixed
    4-query set, integer-quantized scores (floor-e12 idf, floor-e9
    contributions — the bigram_surprisal exact-hash contract)."""
    from bella_domify_spark.ops.retrieval import bm25_topk
    return bm25_topk(_t(spark, sf, "documents"))


def _q_tool_run_stats(spark, sf):
    from bella_domify_spark.ops.transcript import tool_run_stats
    return tool_run_stats(_agent_transcripts(spark, sf))


def _q_role_transitions(spark, sf):
    from bella_domify_spark.ops.transcript import role_transitions
    return role_transitions(_agent_transcripts(spark, sf))


def _q_tool_latency(spark, sf):
    from bella_domify_spark.ops.transcript import tool_latency
    return tool_latency(_agent_transcripts(spark, sf))


def _q_conv_stats(spark, sf):
    ev = _t(spark, sf, "events")
    return (ev.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_turns"),
                 F.min("ts").alias("first_ts"),
                 F.max("ts").alias("last_ts"),
                 F.round(F.sum("value"), 4).alias("sum_value")))


def _q_session_gap(spark, sf):
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ: route through timestamp (session tz = UTC) to
    # get epoch seconds comparable with DuckDB's epoch()
    epoch = F.col("ts").cast("timestamp").cast("double")
    gap = epoch - F.lag(epoch).over(w)
    return ev.select("user_id", "event_id", F.round(gap, 6).alias("gap_sec"))


def _q_sessionize(spark, sf):
    """Gap-based sessionization (ops/temporal.py): a new session starts
    when the same user's inter-event gap exceeds 30 min. One window over
    (user_id, ts) — cumulative sum of new-session flags, single shuffle."""
    from bella_domify_spark.ops.temporal import sessionize
    return sessionize(_t(spark, sf, "events"))


def _q_session_window_stats(spark, sf):
    """Spark's NATIVE session_window (the Structured-Streaming session
    primitive, here in batch mode) with a 30-min gap: per (user, session)
    event count and exact integer start/end micros. Empirically pinned
    boundary: a gap of exactly 30 min merges, 30 min + 1 s splits — the
    same strict-> rule as ops/temporal.sessionize, which is what the
    DuckDB oracle computes (DuckDB has no session windows)."""
    ev = _t(spark, sf, "events")
    w = (ev.groupBy(F.session_window(F.col("ts").cast("timestamp"),
                                     "30 minutes").alias("w"), "user_id")
         .agg(F.count(F.lit(1)).alias("n_events")))
    return w.select(
        "user_id",
        F.unix_micros(F.col("w.start")).alias("start_us"),
        F.unix_micros(F.col("w.end")).alias("end_us"),
        "n_events")


def _q_event_value_quantiles(spark, sf):
    """Exact per-type quantiles via distributed sort + indexed pick:
    target row = floor((n-1)*p) + 1 of the (value, event_id)-ordered
    group — a deterministic rule both engines compute identically (engine
    quantile functions differ in interpolation, which is not exact-hash
    safe). The per-type window sort is the exact baseline; at web scale
    with few types use approx_percentile or pre-bucketed histograms
    (documented trade, same category as ann_cosine_topk)."""
    ev = _t(spark, sf, "events")
    # NULLS LAST pinned explicitly: Spark default-orders NULLs FIRST
    # ascending, DuckDB LAST — a NULL value (schema-legal) would shift
    # every row_number and diverge from the oracle
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").asc_nulls_last(), "event_id")
    n = Window.partitionBy("event_type")
    r = ev.select("event_type", "value",
                  F.row_number().over(w).alias("rn"),
                  F.count("*").over(n).alias("n"))

    def pick(p, name):
        return F.max(F.when(
            F.col("rn") == F.floor((F.col("n") - 1) * F.lit(p)) + 1,
            F.col("value"))).alias(name)

    return (r.groupBy("event_type")
            .agg(F.max("n").alias("n"), pick(0.5, "p50"), pick(0.95, "p95")))


def _q_funnel_stages(spark, sf):
    """Sequential signup->click->purchase funnel (ops/temporal.py):
    furthest stage per user, each stage strictly after the user's first
    qualifying event of the previous one. All-integer microsecond logic."""
    from bella_domify_spark.ops.temporal import funnel_stages
    return funnel_stages(_t(spark, sf, "events"))


def _q_cms_heavy_hitters(spark, sf):
    """Count-min-sketch heavy hitters (ops/sketches.py): exact top-20
    corpus words with their all-integer CMS estimates — the mergeable
    frequency sketch, overestimate pinned by the oracle."""
    from bella_domify_spark.ops.sketches import cms_heavy_hitters
    return cms_heavy_hitters(_t(spark, sf, "documents"))


def _q_bigram_surprisal(spark, sf):
    """Perplexity-proxy quality scoring (ops/textstats.py): per-doc mean
    conditional bigram surprisal under the corpus's own statistics —
    the zero-external-model analogue of perplexity filtering."""
    from bella_domify_spark.ops.textstats import bigram_surprisal
    return bigram_surprisal(_t(spark, sf, "documents"))


def _q_approx_distinct_hll(spark, sf):
    """Deterministic HyperLogLog distinct-user sketch per event type
    (ops/sketches.py): md5-derived registers, integer-exact harmonic sum,
    linear-counting correction — bit-identical across engines (built-in
    approx_count_distinct implementations never hash-compare). n_exact is
    carried alongside so the oracle also pins the estimate's accuracy."""
    from bella_domify_spark.ops.sketches import hll_distinct
    return hll_distinct(_t(spark, sf, "events"), "event_type", "user_id")


def _q_asof_view_attribution(spark, sf):
    """Distributed ASOF JOIN (union-and-carry-forward, ops/temporal.py):
    every click attributed to the user's most recent preceding view.
    Oracle: DuckDB's native ASOF LEFT JOIN."""
    from bella_domify_spark.ops.temporal import asof_view_attribution
    return asof_view_attribution(_t(spark, sf, "events"))


def _q_asof_attribution_salted(spark, sf):
    """The skew-resistant scale path (asof_join_salted, docs/PLANS.md §8):
    same attribution through the two-level time-bucketed carry-forward —
    day-wide buckets split the 30-day event span into ~30 sub-windows per
    key, so a hot key's window work parallelizes. Must be row-identical
    to asof_view_attribution; same DuckDB ASOF oracle."""
    from bella_domify_spark.ops.temporal import asof_view_attribution
    return asof_view_attribution(_t(spark, sf, "events"),
                                 salted_bucket_us=86_400_000_000)


def _q_range_error_context(spark, sf):
    """Bounded range join via bucket-equality (ops/temporal.py): events of
    the same user within ±1 h of each error, counted and value-summed
    (decimal summation — order-free). Oracle: DuckDB inequality join."""
    from bella_domify_spark.ops.temporal import range_error_context
    return range_error_context(_t(spark, sf, "events"))


def _q_salt_distribution(spark, sf):
    ev = _t(spark, sf, "events")
    salt = F.pmod(F.col("user_id") * 1103515245 + F.col("event_id"), F.lit(64))
    return (ev.select(salt.alias("salt"))
            .groupBy("salt").agg(F.count(F.lit(1)).alias("n")))


def _q_q1_pricing_summary(spark, sf):
    li = _t(spark, sf, "lineitem")
    return (li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
                 F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4)
                  .alias("sum_disc_price"),
                 F.round(F.avg("l_discount"), 6).alias("avg_disc"),
                 F.count(F.lit(1)).alias("count_order")))


def _q_top_revenue_orders(spark, sf):
    cu = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    od = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    rev = (li.join(od, li.l_orderkey == od.o_orderkey)
             .join(F.broadcast(cu), od.o_custkey == cu.c_custkey)
             .groupBy("o_orderkey", "o_orderdate")
             .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4)
                  .alias("revenue")))
    return rev.orderBy(F.desc("revenue"), F.asc("o_orderkey")).limit(10)


def _q_q5_local_supplier(spark, sf):
    """TPC-H Q5 shape: 6-way join (region→nation→customer→orders→
    lineitem→supplier) with the local-supplier constraint
    (s_nationkey = c_nationkey). Dims broadcast; the fact-side joins
    shuffle on their keys and AQE handles the rest."""
    re_ = _t(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    na = _t(spark, sf, "nation")
    cu = _t(spark, sf, "customer")
    od = _t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01")))
    li = _t(spark, sf, "lineitem")
    su = _t(spark, sf, "supplier")
    j = (li.join(od, li.l_orderkey == od.o_orderkey)
         .join(su, li.l_suppkey == su.s_suppkey)
         .join(cu, (od.o_custkey == cu.c_custkey)
               & (su.s_nationkey == cu.c_nationkey))
         .join(F.broadcast(na), cu.c_nationkey == na.n_nationkey)
         .join(F.broadcast(re_), na.n_regionkey == re_.r_regionkey))
    return (j.groupBy("n_name")
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 4)
                 .alias("revenue")))


def _q_returned_revenue(spark, sf):
    """TPC-H Q10 shape: revenue lost to returned items per customer in
    one quarter — lineitem(l_returnflag='R') ⋈ orders(quarter window) ⋈
    customer ⋈ broadcast(nation), top 20 by revenue."""
    cu = _t(spark, sf, "customer")
    od = _t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01")))
    li = _t(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
    na = _t(spark, sf, "nation")
    j = (li.join(od, li.l_orderkey == od.o_orderkey)
         .join(cu, od.o_custkey == cu.c_custkey)
         .join(F.broadcast(na), cu.c_nationkey == na.n_nationkey))
    rev = (j.groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
           .agg(F.round(F.sum(F.col("l_extendedprice")
                              * (1 - F.col("l_discount"))), 4)
                .alias("revenue")))
    return rev.orderBy(F.desc("revenue"), F.asc("c_custkey")).limit(20)


def _q_segment_order_stats(spark, sf):
    cu = _t(spark, sf, "customer")
    od = _t(spark, sf, "orders")
    return (od.join(F.broadcast(cu), od.o_custkey == cu.c_custkey)
            .groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 4).alias("total_price")))


def _q_customers_without_orders(spark, sf):
    # anti join: customers with no high-value (>350k) order
    cu = _t(spark, sf, "customer")
    od = _t(spark, sf, "orders").filter(F.col("o_totalprice") > 350000)
    return cu.join(od, cu.c_custkey == od.o_custkey, "left_anti") \
             .select("c_custkey", "c_name")


def _q_brands_in_lineitem(spark, sf):
    pa = _t(spark, sf, "part")
    li = _t(spark, sf, "lineitem")
    return (pa.join(li, pa.p_partkey == li.l_partkey, "left_semi")
            .groupBy("p_brand").agg(F.count(F.lit(1)).alias("n_parts")))


def _q_window_topk_orders(spark, sf):
    od = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"),
                                                F.asc("o_orderkey"))
    return (od.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 3)
            .select("o_custkey", "o_orderkey", "o_totalprice", "rk"))


def _q_rollup_revenue(spark, sf):
    li = _t(spark, sf, "lineitem")
    return (li.rollup("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_extendedprice"), 4).alias("sum_price"),
                 F.count(F.lit(1)).alias("n")))


def _q_dedup_exact(spark, sf):
    from bella_domify_spark.ops.dedup import exact_dedup
    return exact_dedup(_t(spark, sf, "documents"))


def _q_dedup_ngram_jaccard(spark, sf):
    from bella_domify_spark.ops.dedup import jaccard_pairs
    return jaccard_pairs(_t(spark, sf, "documents"), threshold=0.2)


def _q_dedup_minhash_lsh(spark, sf):
    from bella_domify_spark.ops.dedup import minhash_lsh_pairs
    return minhash_lsh_pairs(_t(spark, sf, "documents"), threshold=0.2)


def _q_dedup_cluster_canonical(spark, sf):
    # connected components over the near-dup graph: every doc with a dup
    # gets its cluster's canonical (min) id + cluster size
    from bella_domify_spark.ops.dedup import duplicate_clusters
    return duplicate_clusters(_t(spark, sf, "documents"), threshold=0.2)


def _q_simhash(spark, sf):
    from bella_domify_spark.ops.dedup import simhash
    return simhash(_t(spark, sf, "documents"))


def _q_decontaminate(spark, sf):
    # benchmark decontamination: 8-gram overlap of the corpus against a
    # deterministic "benchmark" subset (every 97th document) — the planted
    # self-overlap guarantees hits; near-dups of benchmark docs surface too
    from bella_domify_spark.ops.dedup import contamination_flags
    d = _t(spark, sf, "documents")
    bench = (d.filter(F.col("doc_id") % 97 == 0)
             .select(F.col("doc_id").alias("bench_id"), "text"))
    return contamination_flags(d, bench, n=8)


def _q_decontaminate_bloom(spark, sf):
    """The 100 TB shape of decontamination (ops/dedup.py
    bloom_contamination_flags): benchmark shingles aggregate into a
    broadcast Bloom bitmap, corpus shingles that miss it die map-side
    BEFORE the shuffle, and the exact join removes false positives — so
    the rows are identical to `decontaminate` and share its oracle."""
    from bella_domify_spark.ops.dedup import bloom_contamination_flags
    d = _t(spark, sf, "documents")
    bench = (d.filter(F.col("doc_id") % 97 == 0)
             .select(F.col("doc_id").alias("bench_id"), "text"))
    return bloom_contamination_flags(d, bench, n=8)


def _q_json_props_stats(spark, sf):
    """Semi-structured extraction (§2.6 scalar-function row): the events
    `props` column is a JSON string; `get_json_object` pulls `$.k`
    JVM-side (whole-stage codegen, no Python) and the per-type aggregate
    partial-combines. Integer outputs only (sum/min/max/counts) — an avg
    would round differently across engines. Oracle: DuckDB
    json_extract_string."""
    e = _t(spark, sf, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (e.select("event_type", k.alias("k"))
            .groupBy("event_type")
            .agg(F.count("k").alias("n_k"),
                 F.sum(F.when(F.col("k").isNull(), 1).otherwise(0))
                 .cast("long").alias("n_missing"),
                 F.sum("k").alias("sum_k"),
                 F.min("k").alias("min_k"),
                 F.max("k").alias("max_k")))


def _q_dedup_cluster_minhash(spark, sf):
    # fourth pair source through the generic connected_components: the
    # minhash-LSH banded candidate graph at est_jaccard >= 0.2
    from bella_domify_spark.ops.dedup import minhash_lsh_pairs
    from bella_domify_spark.ops.graph import connected_components
    from bella_domify_spark.ops.pins import Pins
    # the materialized components no longer read the pair checkpoint
    with Pins() as p:
        pairs = p.own(minhash_lsh_pairs(_t(spark, sf, "documents"),
                                        threshold=0.2))
        return connected_components(pairs, node_out="doc_id")


def _q_dedup_cluster_simhash(spark, sf):
    # components over the simhash near-dup graph (pigeonhole-blocked
    # hamming<=3 candidate pairs) via the generalized connected_components,
    # exercising the O(log n)-round two_star variant under the driver gate
    # (dedup_cluster_canonical covers label_prop)
    from bella_domify_spark.ops.dedup import simhash_near_dups
    from bella_domify_spark.ops.graph import connected_components
    from bella_domify_spark.ops.pins import Pins
    with Pins() as p:
        pairs = p.own(simhash_near_dups(_t(spark, sf, "documents"),
                                        max_hamming=3))
        return connected_components(pairs, node_out="doc_id",
                                    algorithm="two_star")


def _q_curate_corpus(spark, sf):
    # the end-to-end curation composite: quality gate -> near-dup removal
    # (keep canonical) -> content-addressed split (ops/curate.py)
    from bella_domify_spark.ops.curate import curate_corpus
    return curate_corpus(_t(spark, sf, "documents"))


def _q_sample_stratified(spark, sf):
    # rebalance the language mix: halve English, keep the rest — the
    # content-addressed decision (md5 mod 1e6) survives re-runs and
    # corpus growth with the SAME documents retained
    from bella_domify_spark.ops.textstats import sample_stratified
    d = _t(spark, sf, "documents")
    return (sample_stratified(d, {"en": 0.5}, strata_col="lang")
            .select("doc_id", "lang"))


def _q_redact_pii(spark, sf):
    # PII scrubbing over payloads with planted per-doc email + IP (same
    # synthesis in the oracle) so every row carries real redactions
    from bella_domify_spark.ops.textstats import redact_pii
    d = _t(spark, sf, "documents")
    payload = F.concat(
        F.col("text"), F.lit(" contact doc"), F.col("doc_id").cast("string"),
        F.lit("@example.com from 10.0.0."),
        F.pmod(F.col("doc_id"), F.lit(255)).cast("string"))
    return redact_pii(d.select("doc_id", payload.alias("text")))


def _q_repetition_stats(spark, sf):
    from bella_domify_spark.ops.textstats import repetition_stats
    return repetition_stats(_t(spark, sf, "documents"))


def _q_pack_shards(spark, sf):
    # token-budget sharding: content-addressed shard assignment with
    # shard count derived from the corpus' total token count
    from bella_domify_spark.ops.textstats import pack_shards
    return pack_shards(_t(spark, sf, "documents"), tokens_per_shard=2000)


def _q_train_split(spark, sf):
    # deterministic content-addressed train/val/test split (md5 mod 100)
    from bella_domify_spark.ops.textstats import train_split
    return train_split(_t(spark, sf, "documents"))


def _q_doc_quality(spark, sf):
    from bella_domify_spark.ops.textstats import quality_features
    return quality_features(_t(spark, sf, "documents"))


def _q_lang_id(spark, sf):
    from bella_domify_spark.ops.textstats import lang_id
    return lang_id(_t(spark, sf, "documents"))


def _q_token_counts(spark, sf):
    from bella_domify_spark.ops.textstats import token_counts
    return token_counts(_t(spark, sf, "documents"))


def _q_doc_fingerprint(spark, sf):
    from bella_domify_spark.ops.textstats import fingerprint
    return fingerprint(_t(spark, sf, "documents"))


def _q_ann_cosine_topk(spark, sf):
    from bella_domify_spark.ops.ann import cosine_topk
    em = _t(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    q = em.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    return cosine_topk(em, q, k=5)


def _q_ann_lsh_topk(spark, sf):
    from bella_domify_spark.ops.ann import lsh_topk
    em = _t(spark, sf, "embeddings")
    q = em.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    return lsh_topk(em, q, k=5, dim=64)


def _planted_embedding_pairs(spark, sf):
    """Near-dup pairs over the embeddings table with planted duplicates.

    The synthetic embeddings are near-orthogonal (max pairwise cosine
    ~0.51), so plant near-duplicates: perturbed copies of the first 20
    vectors (deterministic affine jitter), ids offset by 100000 — the op
    must pair each original with its copy and nothing else. Shared by
    dedup_embedding and dedup_cluster_embedding so the planted corpus and
    threshold can never drift between the pair and cluster queries (both
    oracles embed the same constants)."""
    from bella_domify_spark.ops.ann import embedding_near_dups
    em = _t(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    jittered = (em.filter(F.col("vec_id") < 20)
                .select((F.col("vec_id") + 100000).alias("vec_id"),
                        F.transform("embedding",
                                    lambda x: x * 1.001 + 0.003)
                         .alias("embedding")))
    return embedding_near_dups(em.unionByName(jittered), threshold=0.98)


def _q_dedup_embedding(spark, sf):
    return _planted_embedding_pairs(spark, sf)


def _q_dedup_cluster_embedding(spark, sf):
    # third pair source through the generic connected_components: the
    # hyperplane-LSH embedding near-dup graph (same planted corpus as
    # dedup_embedding, via the shared helper)
    from bella_domify_spark.ops.graph import connected_components
    return connected_components(_planted_embedding_pairs(spark, sf),
                                node_out="vec_id")


def _q_ann_ivf_topk(spark, sf):
    from bella_domify_spark.ops.ann import ivf_topk
    em = _t(spark, sf, "embeddings")
    q = em.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    return ivf_topk(em, q, k=5, n_centroids=8, n_probe=2)


def _q_multimodal_features(spark, sf):
    from bella_domify_spark.ops.multimodal import attach_media, decode_features
    media = attach_media(_t(spark, sf, "documents"))
    feats = decode_features(media)
    return (feats.join(media.select("media_id", "meta"), "media_id")
            .select("media_id", "n_bytes", "head_hex",
                    F.col("meta.width").alias("width"),
                    F.col("meta.height").alias("height")))


def _q_multimodal_resize(spark, sf):
    from bella_domify_spark.ops.multimodal import attach_media, resize_media
    resized = resize_media(attach_media(_t(spark, sf, "documents")),
                           out_w=64, out_h=64)
    return resized.select(
        "media_id",
        F.octet_length("payload").alias("n_bytes"),
        F.lower(F.hex(F.substring("payload", 1, 8))).alias("head_hex"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"))


def _q_multimodal_frames(spark, sf):
    from bella_domify_spark.ops.multimodal import attach_media, sample_frames
    frames = sample_frames(attach_media(_t(spark, sf, "documents")))
    return frames.select(
        "media_id", "frame_idx", "frame_bytes",
        F.lower(F.hex(F.substring("frame", 1, 8))).alias("frame_head_hex"))


def _q_extraction_eval(spark, sf):
    """Layout-evaluation harness under the driver gate: self-evaluate the
    gate documents' trees (reference evaluation/run_evaluation.py analogue,
    engine/evaluate.py). Self-evaluation is provably all-1v1 (greedy scan
    meets each node's own twin first), so the hash signal is the per-doc
    node and edge counts (n_label 5..50, structure_total) plus the
    all-perfect metric columns; the oracle is a pinned parquet from the
    same pure-Python evaluation (tools/gen_eval_expected.py), proving the
    distributed mapInPandas + left-join path bit-exactly. Degraded-parse
    scoring is pinned by tests/test_evaluate.py."""
    from bella_domify_spark.engine.evaluate import evaluate_extractions
    from bella_domify_spark.parsers.pdflike.gate import gate_extract
    # no cache: the self-join's two branches each re-run the parse (~2x
    # gate cost) but nothing is pinned in executor storage after the query
    # — a session running all 44 queries must not accumulate cached trees
    trees = (gate_extract(_t(spark, sf, "documents"))
             .select("doc_id", "domtree_json"))
    m = evaluate_extractions(trees, trees)
    return m.select("doc_id", "n_label", "n_parsed", "n_1v1", "mean_edit",
                    "structure_right", "structure_total")


def _q_extraction_eval_degraded(spark, sf):
    """Harness validation under the gate: score a deterministically
    DEGRADED parse (drop last root child, retype one node —
    evaluate.degrade_tree) against the real trees, so the pinned oracle
    carries non-perfect rows — p_0 counts, broken structure edges,
    similarity < 1 — and a harness that stopped penalizing mistakes would
    hash-mismatch immediately."""
    from bella_domify_spark.engine.evaluate import (
        degrade_extractions,
        evaluate_extractions,
    )
    from bella_domify_spark.parsers.pdflike.gate import gate_extract
    trees = (gate_extract(_t(spark, sf, "documents"))
             .select("doc_id", "domtree_json"))
    m = evaluate_extractions(degrade_extractions(trees), trees)
    return m.select("doc_id", "n_label", "n_parsed", "n_1v1", "mean_edit",
                    "structure_right", "structure_total")


def _q_extraction_eval_summary(spark, sf):
    """Corpus-level cal_accuracy totals (run_evaluation.py:1301-1321) over
    the degraded-parse evaluation: per-label-type diagonal shares plus
    __blocks__/__structure__ totals. Uses evaluate.cal_accuracy (decimal
    summation — partition-order-free, exact-hash-safe); oracle = the same
    aggregation in DuckDB over the pinned per-doc confusion parquet."""
    from bella_domify_spark.engine.evaluate import (
        cal_accuracy,
        degrade_extractions,
        evaluate_extractions,
    )
    from bella_domify_spark.parsers.pdflike.gate import gate_extract
    trees = (gate_extract(_t(spark, sf, "documents"))
             .select("doc_id", "domtree_json"))
    m = evaluate_extractions(degrade_extractions(trees), trees)
    return cal_accuracy(m)


def _q_resumable_roundtrip(spark, sf):
    """S4/S8 sink under the driver oracle: documents → transcript shape →
    ``run_resumable`` (bucket assignment, resume filter, fused Arrow
    parse+write, manifest-last commit) into a scratch dir; a second run must
    be a no-op (resume idempotence); then read the bucket files back. Any
    row written zero or twice breaks the row-count/hash compare against the
    pure-SQL extraction oracle. Reference: services/parse_manager.py task
    lifecycle + S3 result sink (SURVEY.md S4/S8)."""
    import os
    import shutil

    from bella_domify_spark.engine.manifest import run_resumable

    t = _t(spark, sf, "documents").select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.col("text"))
    # fixed path (no pid): each run replaces the previous one's output, so
    # repeated gate runs leave at most one corpus copy per sf under /tmp
    out = f"/tmp/bds_roundtrip_{os.path.basename(sf.rstrip('/'))}"
    shutil.rmtree(out, ignore_errors=True)
    run_resumable(t, out, n_buckets=16)
    second = run_resumable(t, out, n_buckets=16)
    if second["buckets_written"] != 0:  # resume must skip committed buckets
        raise AssertionError(f"resume re-wrote buckets: {second}")
    got = spark.read.parquet(f"{out}/bucket-*.parquet")
    return got.select(F.col("conv_id").cast("bigint").alias("doc_id"),
                      "extracted_text", "status")


def _q_tool_latency_tail(spark, sf):
    """p50/p95/p99 tool-invocation latency (ops/transcript.py
    tool_latency_tail): rank-selected exact order statistics per tool
    — the SLO view next to tool_latency's n/sum/max."""
    from bella_domify_spark.ops.transcript import tool_latency_tail
    return tool_latency_tail(_agent_transcripts(spark, sf))


def _q_postings_compression(spark, sf):
    """Inverted-index size planner (ops/retrieval.py
    postings_compression): delta+varint bytes vs raw per
    document-frequency bucket, engine-identical bin() bit lengths."""
    from bella_domify_spark.ops.retrieval import postings_compression
    return postings_compression(_t(spark, sf, "documents"))


def _q_apportion_sample(spark, sf):
    """Hamilton largest-remainder sample apportionment
    (ops/curate.py apportion_sample): integer div/mod quotas, ranked
    remainders, Σ quota = N exactly."""
    from bella_domify_spark.ops.curate import apportion_sample
    return apportion_sample(_t(spark, sf, "documents"))


def _q_assortativity(spark, sf):
    """Degree assortativity of the near-dup graph (ops/graph.py
    assortativity): Newman's r over directed edge copies,
    DECIMAL(38,0) moments, one truncating division."""
    from bella_domify_spark.ops.dedup import jaccard_pairs
    from bella_domify_spark.ops.graph import assortativity
    return assortativity(jaccard_pairs(_t(spark, sf, "documents"),
                                       threshold=0.2))


def _q_survival_curve(spark, sf):
    """Discrete Kaplan-Meier of user activity spans with edge
    censoring (ops/temporal.py survival_curve): integer risk sets,
    log-survival via the quantize-then-integer-sum ln discipline."""
    from bella_domify_spark.ops.temporal import survival_curve
    return survival_curve(_t(spark, sf, "events"))


def _q_trimmed_mean(spark, sf):
    """Raw vs 10%-trimmed mean doc length per source (ops/analyze.py
    trimmed_mean): rank-selected trim, truncating integer means."""
    from bella_domify_spark.ops.analyze import trimmed_mean
    return trimmed_mean(_t(spark, sf, "documents"))


def _q_source_jsd(spark, sf):
    """Pairwise Jensen-Shannon divergence between source unigram
    distributions (ops/textstats.py source_jsd): shared-term floor-e12
    chain + LN2_E12 unique-mass fold."""
    from bella_domify_spark.ops.textstats import source_jsd
    return source_jsd(_t(spark, sf, "documents"))


def _q_dedup_savings(spark, sf):
    """Bytes-saved ledger per dedup tier (ops/dedup.py dedup_savings):
    exact md5 groups vs near-dup cluster canonicals, each against the
    raw corpus bytes."""
    from bella_domify_spark.ops.dedup import dedup_savings
    return dedup_savings(_t(spark, sf, "documents"))


def _q_spearman_lq(spark, sf):
    """Exact Spearman rho between doc length and classifier margin
    (ops/classifier.py spearman_length_quality): deterministic
    (value, doc_id) tie-break ranks, integer 1 − 6Σd²/(n(n²−1))."""
    from bella_domify_spark.ops.classifier import spearman_length_quality
    return spearman_length_quality(_t(spark, sf, "documents"))


def _q_conformal_threshold(spark, sf):
    """Split-conformal keep threshold + realized coverage for the
    quality classifier (ops/classifier.py conformal_threshold):
    integer margins, conformal rank (n+1) div 10."""
    from bella_domify_spark.ops.classifier import conformal_threshold
    return conformal_threshold(_t(spark, sf, "documents"))


def _q_vocab_delta(spark, sf):
    """Top-k vocabulary drift terms between doc-parity halves
    (ops/textstats.py vocab_delta): e9 shares, deterministic
    (gap desc, term) cut — psi_drift's named culprits."""
    from bella_domify_spark.ops.textstats import vocab_delta
    return vocab_delta(_t(spark, sf, "documents"))


def _q_cluster_label_mi(spark, sf):
    """Clustering-quality MI of kmeans clusters vs ground-truth labels
    (ops/ann.py cluster_label_mi): meta_mi's exact integer recipe over
    the (label, cluster) contingency table."""
    from bella_domify_spark.ops.ann import cluster_label_mi
    return cluster_label_mi(_t(spark, sf, "embeddings"))


def _q_bottomk_estimate(spark, sf):
    """Bottom-k (KMV) Jaccard estimator calibration vs exact truth
    (ops/sketches.py bottomk_estimate): single-permutation sketch, the
    union-B_k estimator, per-pair error table."""
    from bella_domify_spark.ops.sketches import bottomk_estimate
    return bottomk_estimate(_t(spark, sf, "documents"))


def _q_manifest_stats(spark, sf):
    """Lineage-manifest analytics under the driver oracle: run the
    resumable sink with an md5-family bucket expression (so DuckDB can
    recompute the routing from `documents` alone), then read the
    committed per-bucket manifest JSONs back and report each bucket's
    recorded row count + the row-balance skew — the driver-verified
    proof that manifests record exactly what the bucket assignment
    dictates. bytes/wall_ms are lineage-only (encoding- and
    host-dependent) and deliberately excluded from the hashed output.
    Reference: services/parse_manager.py task ledger (SURVEY.md S4)."""
    import hashlib
    import os
    import shutil

    from bella_domify_spark.engine.manifest import run_resumable
    from bella_domify_spark.ops.hashfamily import md5_int60_col
    from bella_domify_spark.ops.pins import materialize

    t = _t(spark, sf, "documents").select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.col("text"))
    # dir keyed on the FULL sf path + pid: two datasets sharing a
    # basename no longer collide, and concurrent evaluations over the
    # same dataset (bench vs check_oracle) cannot race each other's
    # rmtree against the manifest read; the manifest frame is eagerly
    # checkpointed so the scratch dir can be removed immediately
    out = ("/tmp/bds_manifests_"
           f"{hashlib.md5(sf.encode()).hexdigest()[:12]}_{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    bexpr = F.pmod(md5_int60_col(F.concat_ws(":", F.col("conv_id"),
                                             F.col("turn_idx"))), F.lit(16))
    run_resumable(t, out, n_buckets=16, bucket_expr=bexpr)
    m = (spark.read.json(f"{out}/_manifests/bucket-*.json")
         .select(F.col("bucket").cast("long").alias("bucket"),
                 F.col("rows").cast("long").alias("n_rows"))
         .transform(materialize))
    shutil.rmtree(out, ignore_errors=True)
    tot = m.agg(F.sum("n_rows").cast("long").alias("tot"),
                F.max("n_rows").alias("mx"),
                F.count(F.lit(1)).cast("long").alias("k"))
    return (m.crossJoin(F.broadcast(tot))
            .select("bucket", "n_rows",
                    F.expr("cast(n_rows as decimal(38,0)) * 1000000"
                           " div tot").alias("share_e6"),
                    F.expr("cast(mx as decimal(38,0)) * k * 1000000"
                           " div tot").alias("skew_e6")))


def _q_gopher_quality(spark, sf):
    """Gopher-rule quality gates (word-count / mean-word-length windows,
    alpha ratio, stopword presence) — integer-quantized, shuffle-free."""
    from bella_domify_spark.ops.textstats import gopher_quality
    return gopher_quality(_t(spark, sf, "documents"))


def _q_tfidf_keywords(spark, sf):
    """Top-3 TF-IDF keywords per doc, integer-exact scores (idf floors to
    BIGINT at 1e12 before the tf multiply — no float leaves the plan)."""
    from bella_domify_spark.ops.textstats import tfidf_keywords
    return tfidf_keywords(_t(spark, sf, "documents"))


def _q_hist_event_quantiles(spark, sf):
    """Mergeable histogram quantiles (ops/sketches.hist_quantiles) — the
    web-scale variant of event_value_quantiles: groups×bins aggregate
    rows instead of a full per-group sort; integer-exact bin logic."""
    from bella_domify_spark.ops.sketches import hist_quantiles
    return hist_quantiles(_t(spark, sf, "events"))


def _q_ann_recall(spark, sf):
    """Recall@5 of the LSH and IVF scale paths against the exact brute
    force — all-integer quality evidence for the approximate ANN
    strategies (hits out of k per query)."""
    exact = _q_ann_cosine_topk(spark, sf).select("q_id", "vec_id")
    lsh = (_q_ann_lsh_topk(spark, sf).select("q_id", "vec_id")
           .withColumn("in_lsh", F.lit(1)))
    ivf = (_q_ann_ivf_topk(spark, sf).select("q_id", "vec_id")
           .withColumn("in_ivf", F.lit(1)))
    j = (exact.join(lsh, ["q_id", "vec_id"], "left")
         .join(ivf, ["q_id", "vec_id"], "left"))
    return j.groupBy("q_id").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum(F.coalesce(F.col("in_lsh"), F.lit(0))).alias("hits_lsh"),
        F.sum(F.coalesce(F.col("in_ivf"), F.lit(0))).alias("hits_ivf"))


def _q_dup_span_stats(spark, sf):
    """Substring-duplication measurement (Lee et al. span-level dedup
    family): per doc, the 8-gram span instances shared with >=2 docs and
    the duplicated fraction — integer-quantized, no all-pairs."""
    from bella_domify_spark.ops.dedup import dup_span_stats
    return dup_span_stats(_t(spark, sf, "documents"))


def _q_remove_dup_spans(spark, sf):
    """Exact-substring dedup as a transform (ops/dedup.py
    remove_dup_spans): words covered by non-first duplicated 8-gram span
    instances are excised and the text reassembled."""
    from bella_domify_spark.ops.dedup import remove_dup_spans
    return remove_dup_spans(_t(spark, sf, "documents"))


def _q_kmeans_assign(spark, sf):
    """Integer-exact distributed Lloyd's k-means (ops/ann.py
    kmeans_assign): 2 broadcast-assign/update iterations over quantized
    embeddings, final (cluster_id, dist2) per vector."""
    from bella_domify_spark.ops.ann import kmeans_assign
    return kmeans_assign(_t(spark, sf, "embeddings"))


def _q_mix_weights(spark, sf):
    """Static domain-mixture reweighting (per-stratum sampling rates for a
    fixed target share of a token budget) — one aggregate, all-integer."""
    from bella_domify_spark.ops.textstats import mix_weights
    return mix_weights(_t(spark, sf, "documents"))


def _cdc_changelog(spark, sf):
    """Deterministic CDC changelog derived from events: event_id = version,
    every 10th row a delete tombstone, keys spanning 2x the documents
    keyspace so half the changes insert. Shared by merge_upsert and
    incremental_view_update (the oracle SQL embeds the same derivation)."""
    docs = _t(spark, sf, "documents")
    ks = docs.agg(((F.max("doc_id") + 1) * 2).alias("ks"))
    changes = (_t(spark, sf, "events")
               .crossJoin(F.broadcast(ks))
               .select(F.expr("event_id % ks").alias("doc_id"),
                       F.col("event_id").alias("version"),
                       F.when(F.expr("event_id % 10") == 0, F.lit("D"))
                        .otherwise(F.lit("U")).alias("op"),
                       F.concat("event_type", F.lit(" "), "props")
                        .alias("text")))
    return docs, changes


def _q_merge_upsert(spark, sf):
    """Lakehouse CDC MERGE (ops/lakehouse.py merge_upsert): documents are
    the snapshot, the _cdc_changelog is applied last-writer-wins."""
    from bella_domify_spark.ops.lakehouse import merge_upsert
    docs, changes = _cdc_changelog(spark, sf)
    return merge_upsert(docs.select("doc_id", "text"), changes)


def _q_incremental_view_update(spark, sf):
    """Incremental maintenance of a grouped count/sum view under the CDC
    changelog (ops/lakehouse.py) — the oracle recomputes the view from the
    merged table, so equality proves the delta algebra."""
    from bella_domify_spark.ops.lakehouse import incremental_view_update
    docs, changes = _cdc_changelog(spark, sf)
    return incremental_view_update(docs.select("doc_id", "text"), changes)


def _q_dsir_weights(spark, sf):
    """DSIR importance log-weights (ops/dsir.py): hashed unigram+bigram
    bag, lang='en' target slice, floor-e9 per-bucket lambda, exact BIGINT
    per-doc sums."""
    from bella_domify_spark.ops.dsir import dsir_weights
    return dsir_weights(_t(spark, sf, "documents"))


def _q_quality_classifier(spark, sf):
    """Hashed linear (fastText-style) quality scorer (ops/classifier.py):
    unigram+bigram features, md5-seeded deterministic weight table,
    keep/drop by margin sign — zero-shuffle, all codegen."""
    from bella_domify_spark.ops.classifier import quality_classifier
    return quality_classifier(_t(spark, sf, "documents"))


def _q_zorder_layout(spark, sf):
    """OPTIMIZE ZORDER BY(ts, value) kernel (ops/lakehouse.py): integer
    quantization, 32-bit Morton interleave, per-file-bucket min/max footer
    stats + pruning evidence for a fixed centre-quarter box query."""
    from bella_domify_spark.ops.lakehouse import zorder_layout
    return zorder_layout(_t(spark, sf, "events"))


def _q_turn_revisions(spark, sf):
    """Consecutive-turn self-revision detection (ops/transcript.py
    turn_revision_stats): integer token-set Jaccard between adjacent
    events of a user stream, per-conversation revision counts."""
    from bella_domify_spark.ops.transcript import turn_revision_stats
    return turn_revision_stats(_t(spark, sf, "events"))


def _q_bpe_merges(spark, sf):
    """Distributed BPE merge learning (ops/bpe.py): first 3 merges over
    the documents word-type table — pair counts, 1-row winner, aggregate
    fold re-tokenization; DuckDB twin folds with list_reduce."""
    from bella_domify_spark.ops.bpe import bpe_merges
    return bpe_merges(_t(spark, sf, "documents"))


def _q_vacuum_candidates(spark, sf):
    """VACUUM kernel (ops/lakehouse.py vacuum_candidates): superseded +
    past-watermark files from a write log synthesized over events (one
    'file' per event; slot = (event_type, user_id), version = event_id)."""
    from bella_domify_spark.ops.lakehouse import vacuum_candidates
    ev = _t(spark, sf, "events")
    writes = ev.select(F.col("event_id").alias("file_id"),
                       F.col("event_type").alias("part"),
                       F.col("user_id").alias("slot"),
                       F.col("event_id").alias("version"),
                       F.col("ts"))
    return vacuum_candidates(writes)


def _q_position_deletes(spark, sf):
    """Merge-on-read DV apply (ops/lakehouse.py position_deletes): 64
    rows/file over events; a ``DELETE WHERE event_type='error'``
    rewritten as (file_id, pos) tombstones; per-file live accounting +
    exact floor-e3 survivor checksum."""
    from bella_domify_spark.ops.lakehouse import position_deletes
    ev = _t(spark, sf, "events")
    data = ev.select((F.col("event_id") % 64).alias("pos"),
                     F.floor(F.col("event_id") / 64).cast("long")
                      .alias("file_id"),
                     F.floor(F.col("value") * 1000).cast("long")
                      .alias("value_e3"),
                     "event_type")
    deletes = data.filter(F.col("event_type") == "error") \
                  .select("file_id", "pos")
    return position_deletes(data.select("file_id", "pos", "value_e3"),
                            deletes)


def _q_semdedup(spark, sf):
    """SemDeDup (ops/ann.py semdedup_prune): k-means-bucketed exact-cosine
    semantic dedup — integer-exact clusters + DECIMAL(38,0) squared-cosine
    threshold (0.95), keep = no smaller-id cluster-mate above it."""
    from bella_domify_spark.ops.ann import semdedup_prune
    return semdedup_prune(_t(spark, sf, "embeddings"))


def _q_skew_report(spark, sf):
    """Shuffle-key skew diagnostics (ops/analyze.py skew_report) for the
    events.user_id key: top-10 heaviest keys, corpus share, salt factor —
    the planning query behind every salted-shuffle decision."""
    from bella_domify_spark.ops.analyze import skew_report
    return skew_report(_t(spark, sf, "events"), "user_id")


def _q_hybrid_rrf(spark, sf):
    """Two-stage hybrid retrieval (ops/retrieval.py hybrid_rrf):
    reciprocal-rank fusion of the BM25 top-10 with the hashed-linear
    quality-margin re-rank — all-integer RRF (1e12 div (60+r)), exact."""
    from bella_domify_spark.ops.retrieval import hybrid_rrf
    return hybrid_rrf(_t(spark, sf, "documents"))


def _q_compact_files(spark, sf):
    """OPTIMIZE bin-packing kernel (ops/lakehouse.py compact_files):
    next-fit-decreasing small-file compaction per table partition,
    expressed as one cumulative-sum window — the manifest is synthesized
    from documents (one 'file' per doc: partition = lang, size =
    n_chars + 512 bytes of format overhead), target bucket 8 KiB."""
    from bella_domify_spark.ops.lakehouse import compact_files
    mf = (_t(spark, sf, "documents")
          .filter(F.col("doc_id").isNotNull() & F.col("lang").isNotNull()
                  & F.col("n_chars").isNotNull())
          .select(F.col("lang").alias("part"),
                  F.col("doc_id").alias("file_id"),
                  (F.col("n_chars") + 512).cast("long")
                  .alias("size_bytes")))
    return compact_files(mf, target_bytes=8192)


def _q_time_travel_read(spark, sf):
    """Iceberg-style VERSION AS OF read (ops/lakehouse.py
    time_travel_read): replay the CDC changelog up to the version-range
    midpoint, last-writer-wins merge — the cutoff rides every row."""
    from bella_domify_spark.ops.lakehouse import time_travel_read
    docs, changes = _cdc_changelog(spark, sf)
    return time_travel_read(docs.select("doc_id", "text"), changes)


def _q_file_prune_stats(spark, sf):
    """Zone-map data-skipping readout (ops/lakehouse.py prune_stats):
    synthetic arrival-order footers (64 rows/file) vs a fixed 4-predicate
    workload — files/rows scanned vs rows actually matching."""
    from bella_domify_spark.ops.lakehouse import prune_stats
    return prune_stats(_t(spark, sf, "events"))


def _q_late_data_stats(spark, sf):
    """Watermark late-arrival ledger (ops/temporal.py late_data_stats):
    per-user running-max event-time watermark over arrival order
    (event_id), 10-minute delay — the rows a streaming windowed
    aggregate would drop."""
    from bella_domify_spark.ops.temporal import late_data_stats
    return late_data_stats(_t(spark, sf, "events"))


def _q_corpus_boilerplate(spark, sf):
    """Corpus-wide boilerplate frequency vote (ops/boilerplate.py) —
    the reference's per-document header/footer vote (P7) generalized
    across documents: per-source line df thresholds (40% and >=3) over
    synthetic chrome, per-doc strip plan."""
    from bella_domify_spark.ops.boilerplate import corpus_boilerplate
    return corpus_boilerplate(_t(spark, sf, "documents"))


def _q_calibration_bins(spark, sf):
    """Classifier reliability bins (ops/classifier.py calibration_bins):
    fixed-width margin buckets × empirical lang='en' rate — the
    threshold-calibration readout, zero-join via scoring passthrough."""
    from bella_domify_spark.ops.classifier import calibration_bins
    return calibration_bins(_t(spark, sf, "documents"))


def _q_containment_pairs(spark, sf):
    """Directed shingle-containment near-dups (ops/dedup.py
    containment_pairs): |sh(A) ∩ sh(B)| / |sh(A)| >= 0.5 — the
    quotation/subsumption detector symmetric Jaccard misses."""
    from bella_domify_spark.ops.dedup import containment_pairs
    return containment_pairs(_t(spark, sf, "documents"))


def _q_boilerplate_strip(spark, sf):
    """Boilerplate APPLY pass (ops/boilerplate.py boilerplate_strip):
    replay the corpus vote, drop flagged lines, reassemble each
    document's surviving text in original line order — the extraction
    output corpus_boilerplate only counts."""
    from bella_domify_spark.ops.boilerplate import boilerplate_strip
    return boilerplate_strip(_t(spark, sf, "documents"))


def _q_bpe_encode(spark, sf):
    """BPE tokenizer APPLY (ops/bpe.py bpe_encode): the 3 learned merges
    priced onto every document — per-doc word/char/token budgets, the
    input of every packing decision."""
    from bella_domify_spark.ops.bpe import bpe_encode
    return bpe_encode(_t(spark, sf, "documents"))


def _q_pq_codes(spark, sf):
    """Product quantization (ops/ann.py pq_codes): 4 blocks x 16
    seed-codebook sub-centroids, integer-exact assignment — the
    compression half of the IVF+PQ billion-scale ANN stack."""
    from bella_domify_spark.ops.ann import pq_codes
    return pq_codes(_t(spark, sf, "embeddings"))


def _q_ivfpq_topk(spark, sf):
    """IVF+PQ composite search (ops/ann.py ivfpq_topk): route each query
    to 2 of 8 inverted lists, scan candidates by PQ asymmetric distance
    (4 blocks x 16 codes) — the FAISS-shaped billion-scale query,
    integer-exact end to end."""
    from bella_domify_spark.ops.ann import ivfpq_topk
    em = _t(spark, sf, "embeddings")
    q = em.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    return ivfpq_topk(em, q, k=5)


def _q_pmi_pairs(spark, sf):
    """Skip-gram PMI collocations (ops/textstats.py pmi_pairs): top-30
    window-3 co-occurring pairs by count, floor-e12 quantized PMI under
    the corpus's own unigram statistics."""
    from bella_domify_spark.ops.textstats import pmi_pairs
    return pmi_pairs(_t(spark, sf, "documents"))


def _q_cooccurrence_pairs(spark, sf):
    """Shared-rare-shingle candidate graph (ops/dedup.py
    cooccurrence_pairs): >=2 shared trigrams of corpus freq <=20 —
    the recall-oriented pair generator (no ratio threshold)."""
    from bella_domify_spark.ops.dedup import cooccurrence_pairs
    return cooccurrence_pairs(_t(spark, sf, "documents"))


def _q_link_prediction(spark, sf):
    """Common-neighbor link prediction (ops/graph.py link_prediction)
    over the rare-trigram co-occurrence graph (the 0.2-jaccard graph is
    a union of closed cliques at these SFs — zero open wedges): the
    missed-pair recall-repair list, hub-capped wedge centers, floor-e9
    neighborhood Jaccard, predictions need >=2 common neighbors."""
    from bella_domify_spark.ops.graph import link_prediction
    from bella_domify_spark.ops.dedup import cooccurrence_pairs
    return link_prediction(cooccurrence_pairs(_t(spark, sf, "documents")),
                           min_common=2)


def _q_concurrency_stats(spark, sf):
    """Per-hour peak session concurrency (ops/temporal.py
    concurrency_stats): gap-based session intervals swept by a two-level
    distributed prefix sum — in-hour window + tiny cross-hour carry
    broadcast; starts-before-ends at shared instants."""
    from bella_domify_spark.ops.temporal import concurrency_stats
    return concurrency_stats(_t(spark, sf, "events"))


def _q_srm_check(spark, sf):
    """Sample-ratio-mismatch guardrail (ops/analyze.py srm_check):
    per-event_type exposure counts under the user_id % 2 assignment,
    goodness-of-fit (a-b)^2/(a+b) in DECIMAL, flag at chi2 >= 3.841459."""
    from bella_domify_spark.ops.analyze import srm_check
    return srm_check(_t(spark, sf, "events"))


def _q_anomaly_mad(spark, sf):
    """Hampel volume anomalies (ops/analyze.py anomaly_mad): hourly
    event counts vs per-type lower-median and MAD, all-integer flag rule
    100*dev > 300*mad."""
    from bella_domify_spark.ops.analyze import anomaly_mad
    return anomaly_mad(_t(spark, sf, "events"))


def _q_bm25_prf(spark, sf):
    """RM3-lite pseudo-relevance feedback (ops/retrieval.py bm25_prf):
    BM25 top-5 feedback docs per query, top-3 non-query expansion terms
    by summed tf, rescore at integer weights 2 (original) / 1 (expansion)."""
    from bella_domify_spark.ops.retrieval import bm25_prf
    return bm25_prf(_t(spark, sf, "documents"))


def _q_walk_centrality(spark, sf):
    """Power-iteration walk counts (ops/graph.py walk_centrality) over
    the 0.2-jaccard near-dup graph: (A^3 · 1)(v) in DECIMAL(38,0)/HUGEINT
    — the integer-exact eigenvector-centrality proxy."""
    from bella_domify_spark.ops.dedup import jaccard_pairs
    from bella_domify_spark.ops.graph import walk_centrality
    return walk_centrality(jaccard_pairs(_t(spark, sf, "documents"),
                                         threshold=0.2))


def _q_fuzzy_decontaminate(spark, sf):
    """Near-dup decontamination (ops/dedup.py fuzzy_contamination_flags):
    corpus vs the doc_id % 13 benchmark subset (wider than decontaminate's
    % 97 so planted near-dups actually land in it), LSH band candidates
    verified at >= 32/64 matching minhash components; exact self-copies
    excluded (contamination_flags' job)."""
    from bella_domify_spark.ops.dedup import fuzzy_contamination_flags
    d = _t(spark, sf, "documents")
    bench = (d.filter(F.col("doc_id") % 13 == 0)
             .select(F.col("doc_id").alias("bench_id"), "text"))
    return fuzzy_contamination_flags(d, bench)


def _q_expectations_report(spark, sf):
    """Constraint audit (ops/analyze.py expectations_report): the fixed
    5-rule demo suite over events, one wide conditional aggregate, NULL
    predicate = violation, min offending event_id per rule."""
    from bella_domify_spark.ops.analyze import expectations_report
    return expectations_report(_t(spark, sf, "events"))


def _q_retrieval_eval(spark, sf):
    """Ranking quality (ops/retrieval.py retrieval_eval): MRR + nDCG@10
    of bm25_topk against the conjunctive all-terms-present relevance
    rule; discounts are Python-precomputed e12 literals on both engines."""
    from bella_domify_spark.ops.retrieval import retrieval_eval
    return retrieval_eval(_t(spark, sf, "documents"))


def _q_c4_filters(spark, sf):
    """C4/FineWeb line + document heuristics (ops/webfilter.py
    c4_filters): terminal-punct / min-word / javascript / cookie line
    rules, lorem-ipsum / curly-brace / min-kept doc rules over the
    synthetic page payload — the post-extraction hygiene pass the
    reference (single-file parser) has no corpus layer for."""
    from bella_domify_spark.ops.webfilter import c4_filters
    return c4_filters(_t(spark, sf, "documents"))


def _q_encoding_report(spark, sf):
    """Encoding sanitation (ops/webfilter.py encoding_report): mojibake
    markers, control chars, U+FFFD, clean-char budget — ftfy-class
    damage detection as pure codegen regex counting."""
    from bella_domify_spark.ops.webfilter import encoding_report
    return encoding_report(_t(spark, sf, "documents"))


def _q_secrets_detect(spark, sf):
    """Credential scan (ops/webfilter.py secrets_detect): long word-char
    runs scored by the distinct-char entropy proxy; hex keys flag,
    repeated-char runs don't. Map-side flatMap, no shuffle."""
    from bella_domify_spark.ops.webfilter import secrets_detect
    return secrets_detect(_t(spark, sf, "documents"))


def _q_lexical_diversity(spark, sf):
    """Per-source diversity (ops/textstats.py lexical_diversity): token/
    type counts, TTR, Simpson repeat index — the templated-source
    detector. Two key-sized aggregates."""
    from bella_domify_spark.ops.textstats import lexical_diversity
    return lexical_diversity(_t(spark, sf, "documents"))


def _q_k_anonymity(spark, sf):
    """Privacy audit (ops/curate.py k_anonymity): equivalence classes
    over (lang, source, chars-bucket) quasi-identifiers, classes below
    K flagged at_risk. One small-key groupBy."""
    from bella_domify_spark.ops.curate import k_anonymity
    return k_anonymity(_t(spark, sf, "documents"))


def _q_rater_kappa(spark, sf):
    """Cohen's kappa between the Gopher gate and the hashed classifier
    (ops/analyze.py rater_kappa): chance-corrected agreement, exact
    integer 2x2 algebra, one row."""
    from bella_domify_spark.ops.analyze import rater_kappa
    return rater_kappa(_t(spark, sf, "documents"))


def _q_rank_rbo(spark, sf):
    """Rank agreement bm25 vs fused (ops/retrieval.py rank_rbo):
    truncated RBO@10 in exact integer arithmetic + Spearman footrule,
    per query."""
    from bella_domify_spark.ops.retrieval import rank_rbo
    return rank_rbo(_t(spark, sf, "documents"))


def _q_context_budget(spark, sf):
    """Context-window packing readout (ops/transcript.py context_budget):
    chars/4 turn costs, prefix cumsum truncation at the token budget,
    per-user kept/total."""
    from bella_domify_spark.ops.transcript import context_budget
    return context_budget(_t(spark, sf, "events"))


def _q_sq_error(spark, sf):
    """Int8 scalar-quantization error (ops/ann.py sq_error): per-dim
    global ranges, 0..255 codes, integer-exact per-vector sse at 255e6
    scale."""
    from bella_domify_spark.ops.ann import sq_error
    return sq_error(_t(spark, sf, "embeddings"))


def _q_flesch_reading(spark, sf):
    """Readability (ops/textstats.py flesch_reading): vowel-group
    syllables, [.!?]+ sentences, floor-e3 Flesch reading ease — pure
    JVM regexp expressions."""
    from bella_domify_spark.ops.textstats import flesch_reading
    return flesch_reading(_t(spark, sf, "documents"))


def _q_source_modularity(spark, sf):
    """Attribute modularity (ops/graph.py attribute_modularity): Newman
    q-terms of the documents.source partition over the 0.2-jaccard
    near-dup graph — 'is duplication intra-source?'."""
    from bella_domify_spark.ops.dedup import jaccard_pairs
    from bella_domify_spark.ops.graph import attribute_modularity
    d = _t(spark, sf, "documents")
    return attribute_modularity(jaccard_pairs(d, threshold=0.2),
                                d.select("doc_id", "source"),
                                id_col="doc_id", label_col="source")


def _q_dim_ablation(spark, sf):
    """Matryoshka dimension ablation (ops/ann.py dim_ablation_recall):
    recall@5 of 32-dim-truncated cosine top-k vs the 64-dim exact —
    integer hits per query."""
    from bella_domify_spark.ops.ann import dim_ablation_recall
    em = _t(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    q = em.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    return dim_ablation_recall(em, q, k=5, keep_dims=32)


def _q_split_leakage(spark, sf):
    """Leakage report (ops/curate.py split_leakage): near-dup pairs
    crossing the naive md5-mod train/val/test boundaries — the
    contamination count split_by_cluster exists to zero out."""
    from bella_domify_spark.ops.curate import split_leakage
    from bella_domify_spark.ops.dedup import jaccard_pairs
    from bella_domify_spark.ops.textstats import train_split
    d = _t(spark, sf, "documents")
    return split_leakage(jaccard_pairs(d, threshold=0.2), train_split(d))


def _q_kcore_peel(spark, sf):
    """k-core peeling (ops/graph.py kcore_peel): 3 unrolled k=2 peels of
    the word-3-gram near-dup graph — the dense-duplication communities
    (template farms) that survive frontier deletion."""
    from bella_domify_spark.ops.dedup import jaccard_pairs
    from bella_domify_spark.ops.graph import kcore_peel
    return kcore_peel(jaccard_pairs(_t(spark, sf, "documents"),
                                    threshold=0.2))


def _q_quantile_effects(spark, sf):
    """Quantile treatment effects (ops/analyze.py quantile_effects):
    pooled metric deciles of per-user value sums, per-decile variant gap
    — tail-visible experiment readout, all integer."""
    from bella_domify_spark.ops.analyze import quantile_effects
    return quantile_effects(_t(spark, sf, "events"))


def _q_snapshot_diff(spark, sf):
    """Change Data Feed (ops/lakehouse.py snapshot_diff): the minimal
    I/U/D changelog between the base snapshot and the CDC-merged one —
    the inverse of merge_upsert, one full-outer join."""
    from bella_domify_spark.ops.lakehouse import merge_upsert, snapshot_diff
    docs, changes = _cdc_changelog(spark, sf)
    before = docs.select("doc_id", "text")
    after = merge_upsert(before, changes).select("doc_id", "text")
    return snapshot_diff(before, after)


def _q_pagerank_dedup(spark, sf):
    """Integer-exact PageRank over the word-3-gram near-dup graph
    (ops/graph.py pagerank): 3 damped power iterations on a 1e12 grid,
    bit-identical to the DuckDB recursive-CTE-free iteration chain.
    Rank orders duplicate-cluster members for canonical-copy choice."""
    from bella_domify_spark.ops.dedup import jaccard_pairs
    from bella_domify_spark.ops.graph import pagerank
    docs = _t(spark, sf, "documents")
    return pagerank(jaccard_pairs(docs, threshold=0.2), docs)


def _q_analyze_table_stats(spark, sf):
    """ANALYZE TABLE stats for the CBO (ops/analyze.py): one scan, all
    per-column aggregates in a single Aggregate node (exact NDVs via the
    Expand plan), stacked into a 6-row typed stats table."""
    from bella_domify_spark.ops.analyze import analyze_table_stats
    return analyze_table_stats(_t(spark, sf, "events"))


def _q_embedding_outliers(spark, sf):
    """Per-label centroid-distance outliers (ops/ann.py): the 5 vectors
    farthest from their own label's integer-mean centroid — the
    re-annotation queue of an embedding-curation pass."""
    from bella_domify_spark.ops.ann import embedding_outliers
    return embedding_outliers(_t(spark, sf, "embeddings"))


def _q_hard_negatives(spark, sf):
    """Contrastive hard-negative mining (ops/ann.py): nearest
    different-label vector for each of the 8 lowest-id queries, exact
    integer distances over the broadcast query set."""
    from bella_domify_spark.ops.ann import hard_negatives
    return hard_negatives(_t(spark, sf, "embeddings"))


def _q_triangle_stats(spark, sf):
    """Triangle count + clustering coefficient of the near-dup graph
    (ops/graph.py triangle_stats): degree-ordered orientation, one wedge
    self-join bounded by sqrt(m) out-degrees."""
    from bella_domify_spark.ops.dedup import jaccard_pairs
    from bella_domify_spark.ops.graph import triangle_stats
    docs = _t(spark, sf, "documents")
    return triangle_stats(jaccard_pairs(docs, threshold=0.2)
                          .select("id_a", "id_b"))


def _q_cuped_adjusted(spark, sf):
    """CUPED variance-reduced A/B means (ops/analyze.py cuped_adjusted):
    pre-period cents covariate, pooled theta, exact integer sums under a
    fixed-shape IEEE double block, floor-e6 outputs."""
    from bella_domify_spark.ops.analyze import cuped_adjusted
    return cuped_adjusted(_t(spark, sf, "events"))


def _q_ab_conversion_chi2(spark, sf):
    """Two-variant A/B conversion readout (ops/analyze.py): hash-assigned
    variants, 'purchase' conversion, integer chi-square numerator and
    denominator with a floor-e6 double ratio."""
    from bella_domify_spark.ops.analyze import ab_conversion_chi2
    return ab_conversion_chi2(_t(spark, sf, "events"))


def _q_event_trigrams(spark, sf):
    """Top-20 consecutive 3-event sequences across user streams
    (ops/transcript.py event_trigrams) — funnel discovery with a full
    lexicographic tie-break."""
    from bella_domify_spark.ops.transcript import event_trigrams
    return event_trigrams(_t(spark, sf, "events"))


def _q_classifier_auc(spark, sf):
    """Exact Mann-Whitney AUC of the classifier margin vs the lang='en'
    label (ops/classifier.py classifier_auc): distinct-margin aggregate →
    prefix-sum of negatives → doubled-U integer algebra."""
    from bella_domify_spark.ops.classifier import classifier_auc
    return classifier_auc(_t(spark, sf, "documents"))


def _q_hll_sliding_distinct(spark, sf):
    """Sliding 7-day distinct users per day by max-merging daily HLL
    register tables (ops/sketches.py hll_sliding_distinct) — sketch
    mergeability as a first-class operator."""
    from bella_domify_spark.ops.sketches import hll_sliding_distinct
    return hll_sliding_distinct(_t(spark, sf, "events"))


def _q_scd2_history(spark, sf):
    """SCD Type-2 validity intervals from the CDC changelog
    (ops/lakehouse.py scd2_history): one lead() window per key, deletes
    close intervals, open interval = current state."""
    from bella_domify_spark.ops.lakehouse import scd2_history
    docs, changes = _cdc_changelog(spark, sf)
    return scd2_history(docs.select("doc_id", "text"), changes)


def _q_psi_drift(spark, sf):
    """PSI drift monitor (ops/analyze.py psi_drift): event_type
    distribution of the first time-half vs the second, add-one smoothed,
    per-type PSI terms floor-e9 quantized."""
    from bella_domify_spark.ops.analyze import psi_drift
    return psi_drift(_t(spark, sf, "events"))


def _q_retention_cohorts(spark, sf):
    """Cohort retention matrix over events (ops/temporal.py
    retention_cohorts): first-activity-week cohorts × week offsets,
    integer epoch-week buckets, count(*) not count-distinct (one
    (user, week) row per user after the shared-key dedup)."""
    from bella_domify_spark.ops.temporal import retention_cohorts
    return retention_cohorts(_t(spark, sf, "events"))


def _q_dedup_recall(spark, sf):
    """Corpus-level recall/precision counts of MinHash-LSH near-dup pairs
    against the true n-gram-jaccard pairs at the same threshold —
    all-integer quality evidence for the approximate dedup path."""
    from bella_domify_spark.ops.dedup import jaccard_pairs, minhash_lsh_pairs
    docs = _t(spark, sf, "documents")
    t = jaccard_pairs(docs, threshold=0.2).select("id_a", "id_b")
    e = minhash_lsh_pairs(docs, threshold=0.2).select("id_a", "id_b")
    nt = t.agg(F.count(F.lit(1)).alias("n_true"))
    ne = e.agg(F.count(F.lit(1)).alias("n_est"))
    nh = (t.join(e, ["id_a", "id_b"])
          .agg(F.count(F.lit(1)).alias("n_hit")))
    return nt.crossJoin(ne).crossJoin(nh)


def _q_gini_concentration(spark, sf):
    """Source-concentration Lorenz/Gini readout (ops/analyze.py
    gini_concentration): per-source char mass, value-ranked, exact
    DECIMAL(38,0) gini algebra floor-e9 quantized once."""
    from bella_domify_spark.ops.analyze import gini_concentration
    return gini_concentration(_t(spark, sf, "documents"))


def _q_mann_kendall(spark, sf):
    """Mann-Kendall trend test per event type (ops/analyze.py
    mann_kendall): daily-count sign statistic S + tie-corrected var×18,
    both exact BIGINT — calendar-bounded O(d²) per type."""
    from bella_domify_spark.ops.analyze import mann_kendall
    return mann_kendall(_t(spark, sf, "events"))


def _q_heaps_law(spark, sf):
    """Heaps'-law vocab growth (ops/textstats.py heaps_law): ten
    id-range ingest slices, cumulative docs/tokens/vocab via
    term→first-bucket min-aggregate."""
    from bella_domify_spark.ops.textstats import heaps_law
    return heaps_law(_t(spark, sf, "documents"))


def _q_interarrival(spark, sf):
    """Per-type inter-arrival burstiness (ops/temporal.py
    interarrival_stats): user-stream µs gaps, DECIMAL sums, exact
    integer mean + floor-√ std."""
    from bella_domify_spark.ops.temporal import interarrival_stats
    return interarrival_stats(_t(spark, sf, "events"))


def _q_cusum_changepoint(spark, sf):
    """CUSUM changepoint per event type (ops/analyze.py
    cusum_changepoint): ×n integer mean-centered cumsum, argmax |·|,
    earliest-day tie break."""
    from bella_domify_spark.ops.analyze import cusum_changepoint
    return cusum_changepoint(_t(spark, sf, "events"))


def _q_script_mix(spark, sf):
    """Writing-script char-class profile (ops/textstats.py script_mix):
    latin/digit/CJK/cyrillic/space/other counts + dominant script, one
    stateless codegen projection."""
    from bella_domify_spark.ops.textstats import script_mix
    return script_mix(_t(spark, sf, "documents"))


def _q_lpa_communities(spark, sf):
    """Modal label propagation (ops/graph.py lpa_communities): 3
    unrolled sync rounds over the word-3-gram near-dup graph — splits a
    component into its densely-linked cores."""
    from bella_domify_spark.ops.dedup import jaccard_pairs
    from bella_domify_spark.ops.graph import lpa_communities
    return lpa_communities(jaccard_pairs(_t(spark, sf, "documents"),
                                         threshold=0.2))


def _q_neighborhood_sizes(spark, sf):
    """2-hop ball sizes (ops/graph.py neighborhood_sizes): exact
    |B(v,2)| over the word-3-gram near-dup graph — the dedup
    blast-radius readout."""
    from bella_domify_spark.ops.dedup import jaccard_pairs
    from bella_domify_spark.ops.graph import neighborhood_sizes
    return neighborhood_sizes(jaccard_pairs(_t(spark, sf, "documents"),
                                            threshold=0.2))


def _q_t_closeness(spark, sf):
    """t-closeness audit (ops/curate.py t_closeness): variational
    distance between each (lang, chars-bucket) class's source
    distribution and the global one — completes the k-anonymity /
    l-diversity release-privacy trio."""
    from bella_domify_spark.ops.curate import t_closeness
    return t_closeness(_t(spark, sf, "documents"))


def _q_char_entropy(spark, sf):
    """Shannon character entropy (ops/textstats.py char_entropy):
    zero-shuffle sorted-run-length walk inside the row, per-term
    floor-e6 integer sum."""
    from bella_domify_spark.ops.textstats import char_entropy
    return char_entropy(_t(spark, sf, "documents"))


def _q_negative_sampling(spark, sf):
    """word2vec negative-sampling table (ops/textstats.py
    negative_sampling_table): unigram^(3/4) via the correctly-rounded
    sqrt(c*sqrt(c)) chain, integer shares."""
    from bella_domify_spark.ops.textstats import negative_sampling_table
    return negative_sampling_table(_t(spark, sf, "documents"))


def _q_fertility_by_lang(spark, sf):
    """Tokenizer fertility readout (ops/textstats.py fertility_by_lang):
    BPE-ish tokens per word and bytes per token, per language —
    all-integer div-quantized ratios."""
    from bella_domify_spark.ops.textstats import fertility_by_lang
    return fertility_by_lang(_t(spark, sf, "documents"))


def _q_ks_drift(spark, sf):
    """Two-sample KS drift on event value, first vs second time-half
    (ops/analyze.py ks_drift): exact integer CDF numerators on the e6
    grid, 1.358·sqrt((n+m)/nm) critical line."""
    from bella_domify_spark.ops.analyze import ks_drift
    return ks_drift(_t(spark, sf, "events"))


def _q_ess_by_source(spark, sf):
    """Kish effective sample size of length-weighted sampling per
    source (ops/analyze.py ess_by_source): (Σw)²/Σw² in DECIMAL(38,0),
    within-source concentration companion to gini_concentration."""
    from bella_domify_spark.ops.analyze import ess_by_source
    return ess_by_source(_t(spark, sf, "documents"))


def _q_benford_audit(spark, sf):
    """Benford first-digit audit of event values (ops/analyze.py
    benford_audit): integer-grid leading digit, Python-precomputed
    log10(1+1/d) literals identical in both plans."""
    from bella_domify_spark.ops.analyze import benford_audit
    return benford_audit(_t(spark, sf, "events"))


def _q_zipf_fit(spark, sf):
    """Zipf's-law OLS fit of ln(freq) on ln(rank) over the corpus
    vocabulary (ops/textstats.py zipf_fit): floor-e9 ln grid,
    DECIMAL(38,0) OLS sums, slope ≈ -1e6 for natural text."""
    from bella_domify_spark.ops.textstats import zipf_fit
    return zipf_fit(_t(spark, sf, "documents"))


def _q_ppjoin_pairs(spark, sf):
    """Prefix-filtered set-similarity self-join (ops/dedup.py
    ppjoin_pairs): AllPairs/PPJoin frequency-ascending prefixes +
    length filter + exact verify; the oracle is deliberately brute
    force — it checks the filter's exactness claim."""
    from bella_domify_spark.ops.dedup import ppjoin_pairs
    return ppjoin_pairs(_t(spark, sf, "documents"))


def _q_theil_sen(spark, sf):
    """Theil-Sen robust daily-volume trend slope per event type
    (ops/analyze.py theil_sen): truncating integer pair slopes,
    lower-median selection."""
    from bella_domify_spark.ops.analyze import theil_sen
    return theil_sen(_t(spark, sf, "events"))


def _q_vocab_overlap(spark, sf):
    """Pairwise source vocabulary Jaccard + overlap coefficient
    (ops/textstats.py vocab_overlap): term-keyed join over the
    (source, term) grid, fan-out bounded by C(|sources|,2)."""
    from bella_domify_spark.ops.textstats import vocab_overlap
    return vocab_overlap(_t(spark, sf, "documents"))


def _q_hill_tail(spark, sf):
    """Hill tail-index estimator over document lengths
    (ops/textstats.py hill_tail): distributed top-(k+1), floor-e9 ln
    order statistics, alpha = 1/hill."""
    from bella_domify_spark.ops.textstats import hill_tail
    return hill_tail(_t(spark, sf, "documents"))


def _q_freq_spectrum(spark, sf):
    """Good-Turing frequency-of-frequencies spectrum
    (ops/textstats.py freq_spectrum): N_r for r=1..10, hapax share,
    (r+1)·N_{r+1}/N_r adjusted counts."""
    from bella_domify_spark.ops.textstats import freq_spectrum
    return freq_spectrum(_t(spark, sf, "documents"))


def _q_transition_entropy(spark, sf):
    """Markov next-event entropy per source state (ops/temporal.py
    transition_entropy): (ts, event_id)-ordered lag stream,
    quantize-then-integer-sum surprisal."""
    from bella_domify_spark.ops.temporal import transition_entropy
    return transition_entropy(_t(spark, sf, "events"))


def _q_cross_source_dups(spark, sf):
    """Cross-source near-dup matrix (ops/dedup.py cross_source_dups):
    jaccard_pairs(0.2) labeled with least/greatest source pair —
    intra- vs cross-crawl duplication mass."""
    from bella_domify_spark.ops.dedup import cross_source_dups
    return cross_source_dups(_t(spark, sf, "documents"))


def _q_length_fences(spark, sf):
    """Tukey length-outlier census per source (ops/analyze.py
    length_fences): exact ceil(k·n/4) rank quartiles, doubled 1.5·IQR
    fence comparisons."""
    from bella_domify_spark.ops.analyze import length_fences
    return length_fences(_t(spark, sf, "documents"))


def _q_meta_mi(spark, sf):
    """Source×language mutual information (ops/analyze.py meta_mi):
    per-cell PMI on the floor-e9 two-ln chain, exact integer weighted
    total."""
    from bella_domify_spark.ops.analyze import meta_mi
    return meta_mi(_t(spark, sf, "documents"))


def _q_kcenter_coreset(spark, sf):
    """Greedy k-center coreset over embeddings (ops/ann.py
    kcenter_coreset): integer-exact farthest-point traversal, k−1
    broadcast rounds, unrolled-round oracle."""
    from bella_domify_spark.ops.ann import kcenter_coreset
    return kcenter_coreset(_t(spark, sf, "embeddings"))


def _q_props_keys(spark, sf):
    """props JSON-key inventory per event type (ops/analyze.py
    props_keys): regex capture (not a JSON parser — survives drifted
    payloads), per-type share."""
    from bella_domify_spark.ops.analyze import props_keys
    return props_keys(_t(spark, sf, "events"))


def _q_blocking_quality(spark, sf):
    """Record-linkage blocking audit of MinHash-LSH (ops/dedup.py
    blocking_quality): reduction ratio + pairs completeness vs the
    brute-force Jaccard truth."""
    from bella_domify_spark.ops.dedup import blocking_quality
    return blocking_quality(_t(spark, sf, "documents"))


def _q_reshard_stats(spark, sf):
    """Modulo vs rendezvous-hash reshard cost for 16→17 shards
    (ops/lakehouse.py reshard_stats): HRW movement via greatest() over
    inline md5s — no argmax, no explode."""
    from bella_domify_spark.ops.lakehouse import reshard_stats
    return reshard_stats(_t(spark, sf, "documents"))


def _q_pareto_users(spark, sf):
    """Skyline of users over (event count, summed value)
    (ops/analyze.py pareto_users): sort-and-prefix-max over the
    distinct-count table, strict dominance."""
    from bella_domify_spark.ops.analyze import pareto_users
    return pareto_users(_t(spark, sf, "events"))


def _q_type_affinity(spark, sf):
    """Market-basket lift of event types over user baskets
    (ops/analyze.py type_affinity): user-keyed pair join with
    C(|types|,2)-bounded fan-out, integer lift/support."""
    from bella_domify_spark.ops.analyze import type_affinity
    return type_affinity(_t(spark, sf, "events"))


def _q_ivf_balance(spark, sf):
    """IVF inverted-list balance under kmeans_assign centroids
    (ops/ann.py ivf_balance): list sizes + imbalance factor."""
    from bella_domify_spark.ops.ann import ivf_balance
    return ivf_balance(_t(spark, sf, "embeddings"))


def _q_shard_balance(spark, sf):
    """md5 hash-shard byte-balance audit (ops/lakehouse.py
    shard_balance): per-shard doc/byte mass + max-over-even skew."""
    from bella_domify_spark.ops.lakehouse import shard_balance
    return shard_balance(_t(spark, sf, "documents"))


def _q_weekday_profile(spark, sf):
    """Day-of-week seasonality + χ² uniformity per event type
    (ops/temporal.py weekday_profile): engine-neutral
    (epoch_days+4) mod 7 weekday, integer χ²."""
    from bella_domify_spark.ops.temporal import weekday_profile
    return weekday_profile(_t(spark, sf, "events"))


def _q_conversion_lag(spark, sf):
    """First-touch view→purchase conversion latency
    (ops/temporal.py conversion_lag): rate + lower-median and p90
    lag via rank selection."""
    from bella_domify_spark.ops.temporal import conversion_lag
    return conversion_lag(_t(spark, sf, "events"))


def _q_winnow_fingerprints(spark, sf):
    """MOSS winnowing fingerprints (ops/dedup.py winnow_fingerprints):
    5-gram md5 hashes, 4-window packed-integer minima, guaranteed
    shared-substring detection at ≥ 8 chars."""
    from bella_domify_spark.ops.dedup import winnow_fingerprints
    return winnow_fingerprints(_t(spark, sf, "documents"))


def _q_source_temperature(spark, sf):
    """α=1/2 temperature mixing weights (ops/textstats.py
    source_temperature): exact token mass, one-shot √ quantization,
    integer share_e9."""
    from bella_domify_spark.ops.textstats import source_temperature
    return source_temperature(_t(spark, sf, "documents"))


def _q_l_diversity(spark, sf):
    """Distinct l-diversity audit (ops/curate.py l_diversity):
    (lang, chars-bucket) quasi-classes vs the source sensitive
    attribute, classes under L flagged."""
    from bella_domify_spark.ops.curate import l_diversity
    return l_diversity(_t(spark, sf, "documents"))


def _q_lev_verify(spark, sf):
    """Edit-distance verification of the LSH candidate pairs
    (ops/dedup.py lev_verify_pairs): ASCII-folded 256-char prefixes,
    codegen'd levenshtein, integer sim_e6."""
    from bella_domify_spark.ops.dedup import lev_verify_pairs
    return lev_verify_pairs(_t(spark, sf, "documents"), threshold=0.2)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDER MATTERS: the driver's correctness gate checks only the FIRST
    # 50 entries. Window policy (see comments inline): never-confirmed and
    # this-round-changed queries first; stable r4-green queries rotate to
    # the exiled tail and back in as the window frees up.
    return {
        # --- driver window (1-50) ---
        # ROUND-6 ROTATION (executes the plan written at the r5 close and
        # restated in VERDICT r5 task #1): positions 1-12 are the twelve
        # r5-new queries that never had a driver row (all green in the
        # local exact-hash oracle at sf0.01 AND sf0.1 last round);
        # positions 13-19 backfill the seven r5-rotated-out stalwarts
        # (last driver-green in r4); the rest of the window pulls the
        # longest-unconfirmed tail entries back in. The 50 r5-driver-green
        # queries (CORRECTNESS_r05: 50/50 rows+schema+hash) rotate to the
        # tail — freshest proof, first to exile.
        "retention_cohorts": _q_retention_cohorts,
        "embedding_outliers": _q_embedding_outliers,
        "hard_negatives": _q_hard_negatives,
        "scd2_history": _q_scd2_history,
        "psi_drift": _q_psi_drift,
        "classifier_auc": _q_classifier_auc,
        "hll_sliding_distinct": _q_hll_sliding_distinct,
        "ab_conversion_chi2": _q_ab_conversion_chi2,
        "event_trigrams": _q_event_trigrams,
        "cuped_adjusted": _q_cuped_adjusted,
        "triangle_stats": _q_triangle_stats,
        "split_by_cluster": _q_split_by_cluster,
        # new this round (r6): OPTIMIZE's bin-packing half, the
        # StandardImageElement payload round-trip, RRF hybrid retrieval
        "compact_files": _q_compact_files,
        "standard_images": _q_standard_images,
        "hybrid_rrf": _q_hybrid_rrf,
        "skew_report": _q_skew_report,
        "semdedup": _q_semdedup,
        "vacuum_candidates": _q_vacuum_candidates,
        "bpe_merges": _q_bpe_merges,
        "turn_revisions": _q_turn_revisions,
        "time_travel_read": _q_time_travel_read,
        "file_prune_stats": _q_file_prune_stats,
        "late_data_stats": _q_late_data_stats,
        "corpus_boilerplate": _q_corpus_boilerplate,
        "kcore_peel": _q_kcore_peel,
        "bpe_encode": _q_bpe_encode,
        "pq_codes": _q_pq_codes,
        "ivfpq_topk": _q_ivfpq_topk,
        "pmi_pairs": _q_pmi_pairs,
        "snapshot_diff": _q_snapshot_diff,
        "quantile_effects": _q_quantile_effects,
        # session-3 new queries (never driver-confirmed — window priority):
        "boilerplate_strip": _q_boilerplate_strip,
        "containment_pairs": _q_containment_pairs,
        "calibration_bins": _q_calibration_bins,
        "position_deletes": _q_position_deletes,
        "link_prediction": _q_link_prediction,
        "cooccurrence_pairs": _q_cooccurrence_pairs,
        "concurrency_stats": _q_concurrency_stats,
        "srm_check": _q_srm_check,
        "anomaly_mad": _q_anomaly_mad,
        "bm25_prf": _q_bm25_prf,
        "walk_centrality": _q_walk_centrality,
        "fuzzy_decontaminate": _q_fuzzy_decontaminate,
        "expectations_report": _q_expectations_report,
        "retrieval_eval": _q_retrieval_eval,
        "flesch_reading": _q_flesch_reading,
        "source_modularity": _q_source_modularity,
        "dim_ablation": _q_dim_ablation,
        "split_leakage": _q_split_leakage,
        # session-5 new queries (never driver-confirmed — window priority):
        "c4_filters": _q_c4_filters,
        # --- exiled tail (51+): no driver row this round ---
        # The never-driver-confirmed queries below the boundary (two
        # session-5, six session-6, fourteen session-7, and the
        # session-8/9 additions — ~58 in all) defer to round 7 —
        # oldest unconfirmed first. ALL are green in the local
        # exact-hash oracle at sf0.01 AND sf0.1 (per-session runs,
        # plus full-registry certifications at 185/195/200/206) and
        # take FIRST priority in the round-7 rotation: they overfill
        # the 50 window slots, so the newest ~8 defer again to
        # round 8.
        "encoding_report": _q_encoding_report,
        "secrets_detect": _q_secrets_detect,
        # session-6 new queries (never driver-confirmed):
        "lexical_diversity": _q_lexical_diversity,
        "k_anonymity": _q_k_anonymity,
        "rater_kappa": _q_rater_kappa,
        "rank_rbo": _q_rank_rbo,
        "context_budget": _q_context_budget,
        "sq_error": _q_sq_error,
        # session-7 new queries (never driver-confirmed):
        "gini_concentration": _q_gini_concentration,
        "mann_kendall": _q_mann_kendall,
        "heaps_law": _q_heaps_law,
        "lev_verify": _q_lev_verify,
        "interarrival_stats": _q_interarrival,
        "cusum_changepoint": _q_cusum_changepoint,
        "script_mix": _q_script_mix,
        "source_temperature": _q_source_temperature,
        "l_diversity": _q_l_diversity,
        "winnow_fingerprints": _q_winnow_fingerprints,
        "lpa_communities": _q_lpa_communities,
        "neighborhood_sizes": _q_neighborhood_sizes,
        "t_closeness": _q_t_closeness,
        "char_entropy": _q_char_entropy,
        "negative_sampling": _q_negative_sampling,
        "fertility_by_lang": _q_fertility_by_lang,
        "ks_drift": _q_ks_drift,
        "ess_by_source": _q_ess_by_source,
        "benford_audit": _q_benford_audit,
        "zipf_fit": _q_zipf_fit,
        "ppjoin_pairs": _q_ppjoin_pairs,
        "theil_sen": _q_theil_sen,
        "vocab_overlap": _q_vocab_overlap,
        "hill_tail": _q_hill_tail,
        "freq_spectrum": _q_freq_spectrum,
        "transition_entropy": _q_transition_entropy,
        "cross_source_dups": _q_cross_source_dups,
        "length_fences": _q_length_fences,
        "meta_mi": _q_meta_mi,
        "kcenter_coreset": _q_kcenter_coreset,
        "props_keys": _q_props_keys,
        "blocking_quality": _q_blocking_quality,
        "reshard_stats": _q_reshard_stats,
        "pareto_users": _q_pareto_users,
        "type_affinity": _q_type_affinity,
        "ivf_balance": _q_ivf_balance,
        "shard_balance": _q_shard_balance,
        "weekday_profile": _q_weekday_profile,
        "conversion_lag": _q_conversion_lag,
        "manifest_stats": _q_manifest_stats,
        "tool_latency_tail": _q_tool_latency_tail,
        "bottomk_estimate": _q_bottomk_estimate,
        "postings_compression": _q_postings_compression,
        "apportion_sample": _q_apportion_sample,
        "assortativity": _q_assortativity,
        "cluster_label_mi": _q_cluster_label_mi,
        "conformal_threshold": _q_conformal_threshold,
        "vocab_delta": _q_vocab_delta,
        "survival_curve": _q_survival_curve,
        "trimmed_mean": _q_trimmed_mean,
        "spearman_lq": _q_spearman_lq,
        "dedup_savings": _q_dedup_savings,
        "source_jsd": _q_source_jsd,
        # r5-rotated-out stalwarts (r4-driver-green; displaced past the
        # window boundary by the session-3..6 never-confirmed queries):
        "layout_flat_text": _q_layout_flat_text,
        "dedup_ngram_jaccard": _q_dedup_ngram_jaccard,
        "decontaminate": _q_decontaminate,
        "curate_corpus": _q_curate_corpus,
        "dedup_cluster_canonical": _q_dedup_cluster_canonical,
        "dedup_minhash_lsh": _q_dedup_minhash_lsh,
        "simhash": _q_simhash,
        # longest-unconfirmed tail entries (also past the boundary):
        "cross_surprisal": _q_cross_surprisal,
        "remove_dup_spans": _q_remove_dup_spans,
        "kmeans_assign": _q_kmeans_assign,
        "incremental_dedup": _q_incremental_dedup,
        "truncate_conversations": _q_truncate_conversations,
        "adaptive_quality": _q_adaptive_quality,
        "standard_tokens": _q_standard_tokens,
        "extract_htmllike": _q_extract_htmllike,
        "dedup_exact": _q_dedup_exact,
        "extract_markdown_flatten": _q_extract_markdown_flatten,
        "extract_docxlike_flat": _q_extract_docxlike_flat,
        "csv_normalize": _q_csv_normalize,
        "csv_markdown": _q_csv_markdown,
        # (extract_xlsxlike_flat .. conv_stats: every displaced entry
        # has r4-or-better driver proof plus local exact-hash green)
        "extract_xlsxlike_flat": _q_extract_xlsxlike_flat,
        "format_detect_stats": _q_format_detect_stats,
        "dedup_cluster_simhash": _q_dedup_cluster_simhash,
        "dedup_cluster_minhash": _q_dedup_cluster_minhash,
        "xlsx_markdown": _q_xlsx_markdown,
        "extract_pptxlike_flat": _q_extract_pptxlike_flat,
        "cms_heavy_hitters": _q_cms_heavy_hitters,
        "session_window_stats": _q_session_window_stats,
        "sessionize": _q_sessionize,
        "funnel_stages": _q_funnel_stages,
        "conv_assembly": _q_conv_assembly,
        "pack_shards": _q_pack_shards,
        "dedup_embedding": _q_dedup_embedding,
        "dedup_cluster_embedding": _q_dedup_cluster_embedding,
        "doc_quality": _q_doc_quality,
        "train_split": _q_train_split,
        "turn_ordering": _q_turn_ordering,
        "conv_stats": _q_conv_stats,
        # ROUND-7 ROTATION PLAN: after CORRECTNESS_r06 lands, the 50
        # window members will all have fresh driver rows; rotate in
        # (a) the 8 never-driver-confirmed overflow queries first
        # (encoding_report, secrets_detect, lexical_diversity,
        # k_anonymity, rater_kappa, rank_rbo, context_budget, sq_error),
        # then (b) any r7-new/changed queries, then (c) the tail in
        # ORDER BELOW — the r4-green stalwarts and back-in entries
        # above, then conv_assembly .. rollup_revenue (r3-era driver
        # proof), then the 50 r5-green block (freshest proof, last to
        # return). Every registry entry is green in this session's
        # full-sweep exact-hash run at sf0.01 (see git log).
        # next-oldest proof first (these rotate in next round):
        "decode_roundtrip": _q_decode_roundtrip,
        "session_gap": _q_session_gap,
        "salt_distribution": _q_salt_distribution,
        "q1_pricing_summary": _q_q1_pricing_summary,
        "top_revenue_orders": _q_top_revenue_orders,
        "q5_local_supplier": _q_q5_local_supplier,
        "returned_revenue": _q_returned_revenue,
        "segment_order_stats": _q_segment_order_stats,
        "customers_without_orders": _q_customers_without_orders,
        "brands_in_lineitem": _q_brands_in_lineitem,
        "window_topk_orders": _q_window_topk_orders,
        "rollup_revenue": _q_rollup_revenue,
        # the 50 r5-driver-green queries (CORRECTNESS_r05 50/50), exiled
        # with the freshest proof:
        "repetition_stats": _q_repetition_stats,
        "multimodal_resize": _q_multimodal_resize,
        "multimodal_frames": _q_multimodal_frames,
        "resumable_roundtrip": _q_resumable_roundtrip,
        "extraction_eval": _q_extraction_eval,
        "extraction_eval_degraded": _q_extraction_eval_degraded,
        "extraction_eval_summary": _q_extraction_eval_summary,
        "redact_pii": _q_redact_pii,
        "sample_stratified": _q_sample_stratified,
        "lang_id": _q_lang_id,
        "token_counts": _q_token_counts,
        "doc_fingerprint": _q_doc_fingerprint,
        "ann_cosine_topk": _q_ann_cosine_topk,
        "ann_lsh_topk": _q_ann_lsh_topk,
        "ann_ivf_topk": _q_ann_ivf_topk,
        "multimodal_features": _q_multimodal_features,
        "layout_ocr_text": _q_layout_ocr_text,
        "event_value_quantiles": _q_event_value_quantiles,
        "approx_distinct_hll": _q_approx_distinct_hll,
        "bigram_surprisal": _q_bigram_surprisal,
        "range_error_context": _q_range_error_context,
        "asof_view_attribution": _q_asof_view_attribution,
        "asof_attribution_salted": _q_asof_attribution_salted,
        "tool_run_stats": _q_tool_run_stats,
        "role_transitions": _q_role_transitions,
        "tool_latency": _q_tool_latency,
        "bm25_topk": _q_bm25_topk,
        "sample_weighted": _q_sample_weighted,
        "chunk_docs": _q_chunk_docs,
        "pack_sequences": _q_pack_sequences,
        "vocab_stats": _q_vocab_stats,
        "pdflike_extract": _q_pdflike_extract,
        "pdflike_extract_stream": _q_pdflike_extract_stream,
        "extract_plaintext": _q_extract_plaintext,
        "json_props_stats": _q_json_props_stats,
        "decontaminate_bloom": _q_decontaminate_bloom,
        "gopher_quality": _q_gopher_quality,
        "tfidf_keywords": _q_tfidf_keywords,
        "hist_event_quantiles": _q_hist_event_quantiles,
        "ann_recall": _q_ann_recall,
        "dup_span_stats": _q_dup_span_stats,
        "mix_weights": _q_mix_weights,
        "dedup_recall": _q_dedup_recall,
        "merge_upsert": _q_merge_upsert,
        "quality_classifier": _q_quality_classifier,
        "zorder_layout": _q_zorder_layout,
        "incremental_view_update": _q_incremental_view_update,
        "dsir_weights": _q_dsir_weights,
        "pagerank_dedup": _q_pagerank_dedup,
        "analyze_table_stats": _q_analyze_table_stats,
    }

# --------------------------------------------------------------------------
# oracle SQL (DuckDB) — keys must match queries(). EVERY query has a full
# value-hash oracle: minhash/simhash use the md5-seeded hash family
# (hashfamily.py), ann_lsh embeds its numpy-seeded hyperplane coefficients
# as a VALUES table (ops/ann.py planes_values_sql).
# --------------------------------------------------------------------------

def oracle_sql() -> dict[str, str]:
    from bella_domify_spark.ops.ann import planes_values_sql
    from bella_domify_spark.ops.hashfamily import params_values_sql
    # analytics-layer oracle entries (lakehouse/experiment/curation/graph/
    # sketch/multimodal) were extracted verbatim to tools/oracle_analytics
    # (round-6 entry-file diet); their ops-side helpers import there
    from tools.oracle_analytics import entries as _analytics_entries
    # shared CTE builders — single source of truth for constructions used
    # by more than one oracle (closure/cluster label, shingles, minhash
    # candidates, simhash fingerprints, hyperplane LSH buckets)
    from tools.oracle_lib import (
        EMBEDDING_AUGMENTED_V,
        LSH_PAIR_CAND,
        closure as _closure,
        cluster_select as _cluster_select,
        jaccard_pair_ctes,
        lsh_bucket_ctes,
        md5_int60,
        shingle_instance_ctes,
        span_removal_ctes,
        kmeans_ctes,
        minhash_cand_ctes,
        shingle_ctes,
        simhash_fp_ctes,
    )

    # word-3-gram jaccard pairs + the closure (dedup_cluster_canonical,
    # curate_corpus)
    jaccard_cluster_ctes = f"""{jaccard_pair_ctes()},
            {_closure("pairs")}"""

    docx_flat = ("'；' || text")
    minhash_params_sql = params_values_sql(64)
    lsh_planes_sql = planes_values_sql(dim=64, n_planes=12, n_tables=4)
    sqls = {
        "extract_plaintext": """
            SELECT doc_id, text || chr(10) || chr(10) AS extracted_text
            FROM documents
        """,
        "resumable_roundtrip": """
            SELECT doc_id, text || chr(10) || chr(10) AS extracted_text,
                   'ok' AS status
            FROM documents
        """,
        "extraction_eval": """
            SELECT d.doc_id, e.n_label, e.n_parsed, e.n_1v1, e.mean_edit,
                   e.structure_right, e.structure_total
            FROM read_parquet('/root/repo/fixtures/eval_expected.parquet') e
            JOIN documents d ON d.doc_id = e.doc_id
        """,
        "extraction_eval_degraded": """
            SELECT d.doc_id, e.n_label, e.n_parsed, e.n_1v1, e.mean_edit,
                   e.structure_right, e.structure_total
            FROM read_parquet(
                '/root/repo/fixtures/eval_degraded_expected.parquet') e
            JOIN documents d ON d.doc_id = e.doc_id
        """,
        "extraction_eval_summary": """
            WITH m AS (
                SELECT e.* FROM read_parquet(
                    '/root/repo/fixtures/eval_degraded_expected.parquet') e
                JOIN documents d ON d.doc_id = e.doc_id
            ), c AS (
                SELECT e.* FROM read_parquet(
                    '/root/repo/fixtures/eval_confusion_expected.parquet') e
                JOIN documents d ON d.doc_id = e.doc_id
            ), pt AS (
                SELECT label_type,
                       round(CAST(sum(CASE WHEN label_type = parsed_type
                                 THEN CAST(weight AS DECIMAL(20,6))
                                 ELSE CAST(0 AS DECIMAL(20,6)) END)
                             AS DOUBLE), 6) AS correct,
                       round(CAST(sum(CAST(weight AS DECIMAL(20,6)))
                             AS DOUBLE), 6) AS total
                FROM c GROUP BY label_type
            ), extra AS (
                SELECT '__blocks__' AS label_type,
                       CAST(sum(n_1v1) AS DOUBLE) AS correct,
                       CAST(sum(n_label) AS DOUBLE) AS total FROM m
                UNION ALL
                SELECT '__structure__',
                       CAST(sum(structure_right) AS DOUBLE),
                       CAST(sum(structure_total) AS DOUBLE) FROM m
            )
            SELECT label_type, correct, total,
                   round(correct / total, 6) AS accuracy
            FROM (SELECT * FROM pt UNION ALL SELECT * FROM extra)
        """,
        "extract_markdown_flatten": """
            SELECT doc_id,
                   '# ' || source || chr(10) || chr(10) || text
                        || chr(10) || chr(10) AS flattened
            FROM documents
        """,
        "extract_docxlike_flat": f"""
            SELECT doc_id, {docx_flat} AS flat_text FROM documents
        """,
        "extract_htmllike": """
            SELECT doc_id,
                   '# ' || source || chr(10) || chr(10)
                   || text || chr(10) || chr(10)
                   || '## Meta & Lang' || chr(10) || chr(10)
                   || 'lang: ' || lang || chr(10) || chr(10) AS main_text
            FROM documents
        """,
        "layout_flat_text": """
            SELECT doc_id, '；' || text AS layout_text FROM documents
        """,
        "pdflike_extract": """
            SELECT d.doc_id, e.extracted_text, e.domtree_json, e.n_nodes,
                   e.status
            FROM read_parquet('/root/repo/fixtures/pdflike_expected.parquet') e
            JOIN documents d ON d.doc_id = e.doc_id
        """,
        "pdflike_extract_stream": """
            SELECT d.doc_id, e.extracted_text, e.domtree_json, e.n_nodes,
                   e.status
            FROM read_parquet('/root/repo/fixtures/pdflike_stream_expected.parquet') e
            JOIN documents d ON d.doc_id = e.doc_id
        """,
        "layout_ocr_text": """
            SELECT d.doc_id, e.extracted_text, e.layout_text, e.n_images,
                   e.n_layout_images, e.status
            FROM read_parquet('/root/repo/fixtures/pdflike_ocr_expected.parquet') e
            JOIN documents d ON d.doc_id = e.doc_id
        """,
        "standard_images": """
            SELECT d.doc_id, e.tokens, e.n_figures, e.images_json, e.status
            FROM read_parquet(
                '/root/repo/fixtures/pdflike_standard_expected.parquet') e
            JOIN documents d ON d.doc_id = e.doc_id
        """,
        "standard_tokens": r"""
            SELECT doc_id,
                   length(regexp_extract_all(text, '\w+|[^\w\s]'))::INT AS tokens
            FROM documents
        """,
        "csv_normalize": """
            SELECT doc_id,
                   'source,lang' || chr(10) || source || ',' || lang || chr(10)
                       AS norm_text
            FROM documents
        """,
        "csv_markdown": """
            SELECT doc_id,
                   '| source | lang |' || chr(10) || '| --- | --- |' || chr(10)
                       || '| ' || source || ' | ' || lang || ' |' AS md_table
            FROM documents
        """,
        "extract_xlsxlike_flat": """
            SELECT doc_id,
                   'Sheet: ' || source || chr(10)
                   || 'source' || chr(9) || source || chr(9) || chr(10)
                   || 'lang' || chr(9) || lang || chr(9) || chr(10)
                   || chr(10) AS sheet_text
            FROM documents
        """,
        "xlsx_markdown": """
            SELECT doc_id,
                   '<table><tr><td rowspan=''1'' colspan=''1''>source</td>'
                   || '<td rowspan=''1'' colspan=''1''>' || source
                   || '</td></tr><tr><td rowspan=''1'' colspan=''1''>lang</td>'
                   || '<td rowspan=''1'' colspan=''1''>' || lang
                   || '</td></tr></table>' || chr(10) || chr(10) AS md_table
            FROM documents
        """,
        # pptx layout quirks: body placeholder → empty text block; table
        # cells flatten with a LEADING ' | ' (join seeded by '')
        "extract_pptxlike_flat": """
            SELECT doc_id,
                   '；' || source || '；' || '；' || ' | ' || lang || ' | x'
                       AS slide_text
            FROM documents
        """,
        "format_detect_stats": """
            SELECT CASE doc_id % 3 WHEN 0 THEN 'plaintext'
                                   WHEN 1 THEN 'markdown'
                                   ELSE 'docxlike' END AS fmt,
                   count(*) AS n
            FROM documents GROUP BY 1
        """,
        "turn_ordering": """
            SELECT user_id, event_id,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS turn_rank
            FROM events
        """,
        "conv_stats": """
            SELECT user_id, count(*) AS n_turns, min(ts) AS first_ts,
                   max(ts) AS last_ts, round(sum(value), 4) AS sum_value
            FROM events GROUP BY user_id
        """,
        "sample_stratified": """
            SELECT doc_id, lang FROM documents
            WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
                      % 1000000
                  < CASE WHEN lang = 'en' THEN 500000 ELSE 1000000 END
        """,
        # same planted payload, same portable regexes (RE2 ∩ Java)
        "redact_pii": r"""
            WITH p AS (
                SELECT doc_id,
                       text || ' contact doc' || doc_id::VARCHAR
                            || '@example.com from 10.0.0.'
                            || (doc_id % 255)::VARCHAR AS t
                FROM documents
            )
            SELECT doc_id,
                   regexp_replace(
                       regexp_replace(t,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                           '<EMAIL>', 'g'),
                       '\b(\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g')
                       AS redacted_text,
                   (length(regexp_extract_all(t,
                        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                    + length(regexp_extract_all(t,
                        '\b(\d{1,3}\.){3}\d{1,3}\b')))::INT AS n_redactions
            FROM p
        """,
        "repetition_stats": r"""
            WITH w AS (
                SELECT doc_id AS id, t.w
                FROM documents,
                     UNNEST(regexp_split_to_array(lower(text), '\s+')) AS t(w)
                WHERE t.w <> ''
            ),
            c AS (SELECT id, w, count(*) AS c FROM w GROUP BY id, w)
            SELECT id AS doc_id, sum(c)::BIGINT AS n_words,
                   count(*) AS n_distinct_words,
                   round(1 - count(*) / sum(c)::DOUBLE, 6) AS dup_word_ratio,
                   round(max(c) / sum(c)::DOUBLE, 6) AS top_word_ratio
            FROM c GROUP BY id
        """,
        # shard count derived in-SQL from the same token formula the
        # Spark side aggregates; assignment = md5(id) mod n (train_split
        # idiom)
        "pack_shards": r"""
            WITH t AS (
                SELECT doc_id,
                       length(regexp_split_to_array(trim(text), '\s+'))::INT
                           AS tokens
                FROM documents
            ),
            n AS (
                SELECT GREATEST(CEIL(sum(tokens) / 2000.0), 1)::BIGINT AS n
                FROM t
            )
            SELECT doc_id, tokens,
                   ((('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
                     % (SELECT n FROM n)))::INT AS shard_id
            FROM t
        """,
        "decode_roundtrip": """
            SELECT doc_id,
                   CASE WHEN doc_id % 3 = 1 THEN text || '目录'
                        ELSE text END AS decoded
            FROM documents
        """,
        # per-payload extraction rules: txt = payload + blank line; md =
        # the txt list-marker quirk prefixes '# '; docx = inner text +
        # blank line (ground-truthed against parse_payload directly)
        "conv_assembly": """
            WITH t AS (
                SELECT 'conv' || user_id::VARCHAR AS conv_id,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) - 1 AS turn_idx,
                       CASE
                           WHEN event_id % 3 = 0 THEN
                               event_type || ' ' || props
                               || chr(10) || chr(10)
                           WHEN event_id % 3 = 1 THEN
                               '# # Event ' || event_type || chr(10) || chr(10)
                               || props || chr(10) || chr(10)
                           ELSE
                               event_type || ' value ' || value::VARCHAR
                               || chr(10) || chr(10)
                       END AS x
                FROM events
            )
            SELECT conv_id, count(*) AS n_turns,
                   string_agg(x, '' ORDER BY turn_idx) AS conv_text
            FROM t GROUP BY conv_id
        """,
        "pack_sequences": f"""
            WITH toks AS (
                SELECT doc_id,
                       length(regexp_split_to_array(trim(text), '\\s+'))::INT
                           AS tokens,
                       ({md5_int60('doc_id::VARCHAR')} % 8)::INT AS shard_id
                FROM documents
            ),
            c AS (
                SELECT doc_id, shard_id, tokens,
                       sum(tokens) OVER (PARTITION BY shard_id
                                         ORDER BY doc_id)::BIGINT
                           - tokens AS strt
                FROM toks
            )
            SELECT doc_id, shard_id, tokens,
                   floor(strt / 512)::BIGINT AS seq_id,
                   strt % 512 AS offset_in_seq
            FROM c
        """,
        "vocab_stats": """
            WITH terms AS (
                SELECT t.term, count(*) AS freq
                FROM documents,
                     UNNEST(regexp_split_to_array(lower(text), '\\s+')) AS t(term)
                WHERE t.term <> ''
                GROUP BY t.term
            ),
            r AS (
                SELECT term, freq,
                       row_number() OVER (ORDER BY freq DESC, term ASC)
                           AS rank,
                       sum(freq) OVER (ORDER BY freq DESC, term ASC
                                       ROWS UNBOUNDED PRECEDING)::BIGINT
                           AS cum_freq
                FROM terms
            )
            SELECT term, freq, rank, cum_freq FROM r WHERE rank <= 200
        """,
        "sample_weighted": f"""
            WITH keyed AS (
                SELECT doc_id,
                       length(regexp_split_to_array(trim(text), '\\s+'))
                           AS weight_tokens,
                       floor(-ln(({md5_int60('doc_id::VARCHAR')}::DOUBLE + 0.5)
                                 / 1152921504606846976.0)
                             / length(regexp_split_to_array(trim(text), '\\s+'))
                             * 1e12) AS key_e12
                FROM documents
            )
            SELECT doc_id, weight_tokens, key_e12::BIGINT AS key_e12,
                   rank FROM (
                SELECT *, row_number() OVER (ORDER BY key_e12 ASC,
                                             doc_id ASC) AS rank
                FROM keyed)
            WHERE rank <= 50
        """,
        "chunk_docs": """
            WITH toks AS (
                SELECT doc_id,
                       regexp_split_to_array(trim(text), '\\s+') AS a
                FROM documents
            ),
            counted AS (
                SELECT doc_id, a,
                       1 + floor((greatest(len(a) - 64, 0) + 47) / 48)
                           ::BIGINT AS n_chunks
                FROM toks
            ),
            exploded AS (
                SELECT doc_id, a, t.i::INT AS chunk_idx
                FROM counted, UNNEST(range(0, n_chunks)) AS t(i)
            )
            SELECT doc_id, chunk_idx,
                   len(a[chunk_idx*48 + 1 : chunk_idx*48 + 64]) AS n_tokens,
                   array_to_string(a[chunk_idx*48 + 1 : chunk_idx*48 + 64],
                                   ' ') AS chunk_text
            FROM exploded
        """,
        "tool_run_stats": f"""
            WITH {_AGENT_T_CTE},
            marks AS (
                -- windows over ALL turns (Spark computes grp before the
                -- role filter; SQL windows after WHERE would collapse
                -- every conversation to one island)
                SELECT conv_id, role,
                       row_number() OVER (PARTITION BY conv_id
                                          ORDER BY turn_idx)
                       - row_number() OVER (PARTITION BY conv_id, role
                                            ORDER BY turn_idx) AS grp
                FROM t
            ),
            runs AS (
                SELECT conv_id, grp, count(*) AS run_len
                FROM marks WHERE role = 'tool'
                GROUP BY conv_id, grp
            )
            SELECT conv_id, sum(run_len)::BIGINT AS n_tool_turns,
                   count(*) AS n_runs, max(run_len) AS longest_run
            FROM runs GROUP BY conv_id
        """,
        "role_transitions": f"""
            WITH {_AGENT_T_CTE},
            pairs AS (
                SELECT role AS role_from,
                       lead(role) OVER (PARTITION BY conv_id
                                        ORDER BY turn_idx) AS role_to
                FROM t
            )
            SELECT role_from, role_to, count(*) AS n
            FROM pairs WHERE role_to IS NOT NULL
            GROUP BY role_from, role_to
        """,
        "tool_latency": f"""
            WITH {_AGENT_T_CTE},
            gaps AS (
                SELECT role, tool,
                       epoch_us(ts) - lag(epoch_us(ts)) OVER (
                           PARTITION BY conv_id ORDER BY turn_idx) AS gap_us
                FROM t
            )
            SELECT tool, count(*) AS n_calls,
                   sum(gap_us)::BIGINT AS sum_gap_us,
                   max(gap_us) AS max_gap_us
            FROM gaps WHERE role = 'tool' AND gap_us IS NOT NULL
            GROUP BY tool
        """,
        "tool_latency_tail": f"""
            WITH {_AGENT_T_CTE},
            gaps AS (
                SELECT role, tool,
                       epoch_us(ts) - lag(epoch_us(ts)) OVER (
                           PARTITION BY conv_id ORDER BY turn_idx) AS gap_us
                FROM t
            ),
            tg AS (
                SELECT tool, gap_us,
                       count(*) OVER (PARTITION BY tool)::BIGINT AS n,
                       row_number() OVER (PARTITION BY tool
                                          ORDER BY gap_us) AS rn
                FROM gaps WHERE role = 'tool' AND gap_us IS NOT NULL
            )
            SELECT tool, max(n) AS n_calls,
                   min(CASE WHEN rn = (n + 1) // 2 THEN gap_us END)
                       AS p50_us,
                   min(CASE WHEN rn = (95 * n + 99) // 100 THEN gap_us END)
                       AS p95_us,
                   min(CASE WHEN rn = (99 * n + 99) // 100 THEN gap_us END)
                       AS p99_us
            FROM tg GROUP BY tool
        """,
        "session_gap": """
            SELECT user_id, event_id,
                   round(epoch(ts) - lag(epoch(ts)) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id), 6) AS gap_sec
            FROM events
        """,
        "sessionize": """
            WITH g AS (
                SELECT user_id, event_id, ts,
                       epoch(ts) - lag(epoch(ts)) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id) AS gap
                FROM events
            )
            SELECT user_id, event_id,
                   sum(CASE WHEN gap IS NULL OR gap > 1800.0
                            THEN 1 ELSE 0 END) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING)::INT AS session_idx
            FROM g
        """,
        "session_window_stats": """
            -- integer-microsecond gaps (the Spark side is exact-integer
            -- native session_window; a float epoch() gap could round an
            -- exactly-30-min boundary the other way) and a full
            -- (ts, event_id) order so ts-peers never split across
            -- sessions
            WITH g AS (
                SELECT user_id, event_id, ts,
                       epoch_us(ts) - lag(epoch_us(ts)) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id)
                           AS gap_us
                FROM events
            ), s AS (
                SELECT user_id, ts,
                       sum(CASE WHEN gap_us IS NULL OR gap_us > 1800000000
                                THEN 1 ELSE 0 END) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS sess
                FROM g
            )
            SELECT user_id,
                   min(epoch_us(ts)) AS start_us,
                   max(epoch_us(ts)) + 1800000000 AS end_us,
                   count(*) AS n_events
            FROM s GROUP BY user_id, sess
        """,
        "event_value_quantiles": """
            WITH r AS (
                SELECT event_type, value,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY value NULLS LAST,
                                                   event_id) AS rn,
                       count(*) OVER (PARTITION BY event_type) AS n
                FROM events
            )
            SELECT event_type, max(n) AS n,
                   max(CASE WHEN rn = floor((n - 1) * 0.5) + 1
                            THEN value END) AS p50,
                   max(CASE WHEN rn = floor((n - 1) * 0.95) + 1
                            THEN value END) AS p95
            FROM r GROUP BY event_type
        """,
        "funnel_stages": """
            WITH u AS (SELECT DISTINCT user_id FROM events),
            s1 AS (
                SELECT user_id, min(epoch_us(ts)) AS t1_us
                FROM events WHERE event_type = 'signup' GROUP BY user_id
            ), s2 AS (
                SELECT e.user_id, min(epoch_us(e.ts)) AS t2_us
                FROM events e JOIN s1 ON e.user_id = s1.user_id
                WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.t1_us
                GROUP BY e.user_id
            ), s3 AS (
                SELECT e.user_id, min(epoch_us(e.ts)) AS t3_us
                FROM events e JOIN s2 ON e.user_id = s2.user_id
                WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.t2_us
                GROUP BY e.user_id
            )
            SELECT u.user_id,
                   (CASE WHEN t3_us IS NOT NULL THEN 3
                         WHEN t2_us IS NOT NULL THEN 2
                         WHEN t1_us IS NOT NULL THEN 1
                         ELSE 0 END)::INT AS stage,
                   t1_us, t2_us, t3_us
            FROM u LEFT JOIN s1 USING (user_id)
                   LEFT JOIN s2 USING (user_id)
                   LEFT JOIN s3 USING (user_id)
        """,
        "asof_view_attribution": """
            SELECT c.event_id, c.user_id,
                   v.event_id AS view_event_id,
                   epoch_us(c.ts) - epoch_us(v.ts) AS lag_us
            FROM (SELECT * FROM events WHERE event_type = 'click') c
            -- pre-dedup the reference side to the largest event_id per
            -- (user_id, ts): DuckDB's ASOF JOIN leaves the winner among
            -- duplicate-ts rows unspecified, the Spark side's ref_order
            -- tiebreak (ops/temporal.py) pins largest-event_id-wins
            ASOF LEFT JOIN (
                SELECT * FROM events WHERE event_type = 'view'
                QUALIFY row_number() OVER (PARTITION BY user_id, ts
                                           ORDER BY event_id DESC) = 1) v
              ON c.user_id = v.user_id AND c.ts >= v.ts
        """,
        # the salted scale path must produce the SAME rows as the plain
        # operator — one oracle, two engine plans
        "asof_attribution_salted": """
            SELECT c.event_id, c.user_id,
                   v.event_id AS view_event_id,
                   epoch_us(c.ts) - epoch_us(v.ts) AS lag_us
            FROM (SELECT * FROM events WHERE event_type = 'click') c
            ASOF LEFT JOIN (
                SELECT * FROM events WHERE event_type = 'view'
                QUALIFY row_number() OVER (PARTITION BY user_id, ts
                                           ORDER BY event_id DESC) = 1) v
              ON c.user_id = v.user_id AND c.ts >= v.ts
        """,
        "range_error_context": """
            -- integer cents: a decimal output would stringify '51.40' in
            -- Spark but float-ify to '51.4' through DuckDB's pandas path
            SELECT e.event_id, e.user_id, count(*) AS n_ctx,
                   sum((CAST(o.value AS DECIMAL(18,2)) * 100)::BIGINT)
                       ::BIGINT AS sum_value_cents
            FROM (SELECT * FROM events WHERE event_type = 'error') e
            JOIN events o
              ON o.user_id = e.user_id AND o.event_id <> e.event_id
             AND abs(epoch_us(e.ts) - epoch_us(o.ts)) <= 3600000000
            GROUP BY e.event_id, e.user_id
        """,
        "salt_distribution": """
            SELECT (user_id * 1103515245 + event_id) % 64 AS salt, count(*) AS n
            FROM events GROUP BY 1
        """,
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 4) AS sum_qty,
                   round(sum(l_extendedprice), 4) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
                   round(avg(l_discount), 6) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= DATE '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q5_local_supplier": """
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 4)
                       AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN customer ON o_custkey = c_custkey
                         AND s_nationkey = c_nationkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
              AND o_orderdate >= DATE '1996-01-01'
              AND o_orderdate < DATE '1997-01-01'
            GROUP BY n_name
        """,
        "returned_revenue": """
            SELECT c_custkey, c_name, c_acctbal, n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 4)
                       AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE l_returnflag = 'R'
              AND o_orderdate >= DATE '1996-10-01'
              AND o_orderdate < DATE '1997-01-01'
            GROUP BY c_custkey, c_name, c_acctbal, n_name
            ORDER BY revenue DESC, c_custkey LIMIT 20
        """,
        "top_revenue_orders": """
            SELECT o_orderkey, o_orderdate,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY o_orderkey, o_orderdate
            ORDER BY revenue DESC, o_orderkey ASC
            LIMIT 10
        """,
        "segment_order_stats": """
            SELECT c_mktsegment, count(*) AS n_orders,
                   round(sum(o_totalprice), 4) AS total_price
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
        """,
        "customers_without_orders": """
            SELECT c_custkey, c_name FROM customer
            WHERE c_custkey NOT IN (
                SELECT o_custkey FROM orders WHERE o_totalprice > 350000)
        """,
        "brands_in_lineitem": """
            SELECT p_brand, count(*) AS n_parts FROM part
            WHERE p_partkey IN (SELECT l_partkey FROM lineitem)
            GROUP BY p_brand
        """,
        "window_topk_orders": """
            SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
                SELECT o_custkey, o_orderkey, o_totalprice,
                       row_number() OVER (PARTITION BY o_custkey
                                          ORDER BY o_totalprice DESC,
                                                   o_orderkey ASC) AS rk
                FROM orders)
            WHERE rk <= 3
        """,
        "rollup_revenue": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_extendedprice), 4) AS sum_price, count(*) AS n
            FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "mix_weights": r"""
            WITH have AS (
                SELECT lang AS stratum,
                       sum(length(regexp_split_to_array(trim(text), '\s+')))
                           ::BIGINT AS have_tokens
                FROM documents GROUP BY lang
            ), want AS (
                SELECT * FROM (VALUES
                    ('en', 5000), ('de', 1500), ('fr', 1500),
                    ('es', 1000), ('zh', 1000)) AS t(stratum, want_tokens)
            )
            SELECT have.stratum AS lang, have_tokens,
                   coalesce(want.want_tokens, 0)::BIGINT AS want_tokens,
                   floor(least(1.0, coalesce(want.want_tokens, 0)
                               / have_tokens) * 1e6)::BIGINT
                       AS sample_rate_e6,
                   least(coalesce(want.want_tokens, 0)::BIGINT, have_tokens)
                       AS expected_tokens
            FROM have LEFT JOIN want USING (stratum)
        """,
        # true-jaccard vs minhash-LSH pair sets at the SAME threshold —
        # one shared shingle CTE feeds both chains (tail-only lib builders)
        "dedup_recall": f"""
            WITH {shingle_ctes(3)},
            {jaccard_pair_ctes(include_shingles=False)},
            {minhash_cand_ctes(minhash_params_sql, include_shingles=False)},
            epairs AS (
                SELECT c.id_a, c.id_b
                FROM cand c
                JOIN mh ma ON ma.id = c.id_a
                JOIN mh mb ON mb.id = c.id_b AND mb.i = ma.i
                GROUP BY c.id_a, c.id_b
                HAVING sum(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END)
                       / 64.0 >= 0.2
            )
            SELECT (SELECT count(*) FROM pairs) AS n_true,
                   (SELECT count(*) FROM epairs) AS n_est,
                   (SELECT count(*)
                    FROM pairs JOIN epairs USING (id_a, id_b)) AS n_hit
        """,
        "dup_span_stats": f"""
            WITH {shingle_instance_ctes(8)},
            dfq AS (
                SELECT shingle, count(DISTINCT id) AS docs
                FROM si GROUP BY shingle
            )
            SELECT id AS doc_id, count(*) AS n_spans,
                   sum(CASE WHEN docs >= 2 THEN 1 ELSE 0 END)::BIGINT
                       AS n_dup_spans,
                   floor(sum(CASE WHEN docs >= 2 THEN 1 ELSE 0 END)::DOUBLE
                         / count(*) * 1e6)::BIGINT AS dup_ratio_e6
            FROM si JOIN dfq USING (shingle)
            GROUP BY id
        """,
        "kmeans_assign": f"""
            WITH {kmeans_ctes(8, 2)}
            SELECT id AS vec_id, c_id AS cluster_id, dist2
            FROM dF
            QUALIFY row_number() OVER (PARTITION BY id
                                       ORDER BY dist2, c_id) = 1
        """,
        "remove_dup_spans": f"""
            WITH {span_removal_ctes(8)}
            SELECT id AS doc_id,
                   COALESCE(string_agg(CASE WHEN c <= 0 THEN word END,
                                       ' ' ORDER BY p), '') AS text,
                   count(*) AS n_words,
                   sum(CASE WHEN c > 0 THEN 1 ELSE 0 END)::BIGINT
                       AS n_words_dropped
            FROM cov GROUP BY id
        """,
        # MERGE semantics via arg_max — deliberately a different physical
        # strategy from the Spark side's map-side-combined max_by
        "tfidf_keywords": r"""
            WITH toks AS (
                SELECT doc_id AS id, t.w
                FROM documents,
                     UNNEST(regexp_split_to_array(lower(text), '\s+')) AS t(w)
                WHERE t.w <> ''
            ), tf AS (
                SELECT id, w, count(*) AS tf FROM toks GROUP BY id, w
            ), dfreq AS (
                SELECT w, count(*) AS df,
                       floor(ln((SELECT count(*) FROM documents)::DOUBLE
                                / count(*)) * 1e12)::BIGINT AS idf_e12
                FROM tf GROUP BY w
            )
            SELECT id AS doc_id, w AS term, tf, df, score_e12, rank FROM (
                SELECT tf.id, tf.w, tf.tf, dfreq.df,
                       tf.tf * dfreq.idf_e12 AS score_e12,
                       row_number() OVER (
                           PARTITION BY tf.id
                           ORDER BY tf.tf * dfreq.idf_e12 DESC, tf.w ASC)
                           AS rank
                FROM tf JOIN dfreq USING (w))
            WHERE rank <= 3
        """,
        "dedup_exact": """
            SELECT md5(text) AS text_md5, count(*) AS n_dups,
                   min(doc_id) AS keeper_id
            FROM documents GROUP BY md5(text)
        """,
        "dedup_ngram_jaccard": f"""
            WITH {shingle_ctes(3)},
            sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
            freq AS (SELECT shingle, count(*) AS f FROM sh GROUP BY shingle),
            shf AS (SELECT sh.* FROM sh JOIN freq USING (shingle) WHERE f <= 1000),
            common AS (
                SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
                FROM shf a JOIN shf b USING (shingle)
                WHERE a.id < b.id GROUP BY a.id, b.id
            )
            SELECT id_a, id_b,
                   n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common) AS jaccard
            FROM common
            JOIN sizes sa ON sa.id = id_a
            JOIN sizes sb ON sb.id = id_b
            WHERE n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common) >= 0.2
        """,
        # connected components via recursive reachability closure: label =
        # min reachable id — exact twin of Spark's min-label propagation
        # fixpoint (components here are small; the CTE is O(comp²))
        "dedup_cluster_canonical": f"""
            WITH RECURSIVE {jaccard_cluster_ctes}
            {_cluster_select("doc_id")}
        """,
        "truncate_conversations": f"""
            WITH {_AGENT_T_CTE},
            m AS (
                SELECT conv_id, turn_idx, role,
                       row_number() OVER (PARTITION BY conv_id
                                          ORDER BY turn_idx ASC) AS ra,
                       row_number() OVER (PARTITION BY conv_id
                                          ORDER BY turn_idx DESC) AS rd
                FROM t
            )
            SELECT conv_id, turn_idx, role,
                   CASE WHEN ra <= 4 THEN 'head'
                        WHEN rd <= 2 THEN 'tail' END AS segment
            FROM m WHERE ra <= 4 OR rd <= 2
        """,
        # per-stratum exact-p25 cutoff — score formula mirrors doc_quality;
        # the threshold is the event_value_quantiles order-statistic rule
        "incremental_dedup": f"""
            WITH {minhash_cand_ctes(minhash_params_sql)},
            hits AS (
                SELECT DISTINCT a.id
                FROM banded a JOIN banded b USING (band, bucket)
                WHERE a.id % 2 = 1 AND b.id % 2 = 0
            )
            SELECT d.doc_id AS id, (h.id IS NOT NULL) AS is_dup
            FROM documents d LEFT JOIN hits h ON h.id = d.doc_id
            WHERE d.doc_id % 2 = 1
        """,
        # leakage-aware split: hash the near-dup cluster's canonical id
        # (own id for singletons) — mirrors ops/curate.split_by_cluster
        "dedup_cluster_simhash": f"""
            WITH RECURSIVE {simhash_fp_ctes("sh")},
            pairs AS (
                SELECT a.id AS id_a, b.id AS id_b
                FROM fp a JOIN fp b ON a.id < b.id
                WHERE bit_count(xor(a.sh, b.sh)) <= 3
            ),
            {_closure("pairs")}
            {_cluster_select("doc_id")}
        """,
        # 8-gram shingles (same construction as the jaccard CTEs at n=8)
        # joined against the benchmark subset's shingles
        "decontaminate": f"""
            WITH {shingle_ctes(8)},
            b AS (SELECT id AS bench_id, shingle FROM sh WHERE id % 97 = 0)
            SELECT sh.id AS doc_id, b.bench_id, count(*) AS n_collisions
            FROM sh JOIN b USING (shingle)
            GROUP BY sh.id, b.bench_id
        """,
        # the Bloom prefilter is engine-side only (no false negatives;
        # false positives removed by the exact join) — the rows must equal
        # plain decontaminate's, so the oracle is the same SQL
        "decontaminate_bloom": f"""
            WITH {shingle_ctes(8)},
            b AS (SELECT id AS bench_id, shingle FROM sh WHERE id % 97 = 0)
            SELECT sh.id AS doc_id, b.bench_id, count(*) AS n_collisions
            FROM sh JOIN b USING (shingle)
            GROUP BY sh.id, b.bench_id
        """,
        "json_props_stats": """
            SELECT event_type,
                   count(k) AS n_k,
                   sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END)::BIGINT
                       AS n_missing,
                   sum(k)::BIGINT AS sum_k,
                   min(k) AS min_k, max(k) AS max_k
            FROM (SELECT event_type,
                         CAST(json_extract_string(props, '$.k') AS BIGINT)
                             AS k
                  FROM events)
            GROUP BY event_type
        """,
        # minhash pair CTEs (identical to dedup_minhash_lsh) + the shared
        # recursive closure
        "dedup_cluster_minhash": f"""
            WITH RECURSIVE {minhash_cand_ctes(minhash_params_sql)},
            prs AS (
                SELECT c.id_a, c.id_b
                FROM cand c
                JOIN mh ma ON ma.id = c.id_a
                JOIN mh mb ON mb.id = c.id_b AND mb.i = ma.i
                GROUP BY c.id_a, c.id_b
                HAVING sum(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END) / 64.0 >= 0.2
            ),
            {_closure("prs")}
            {_cluster_select("doc_id")}
        """,
        # md5-seeded universal hash family — must mirror
        # bella_domify_spark/ops/hashfamily.py + dedup.py exactly
        "dedup_minhash_lsh": f"""
            WITH {minhash_cand_ctes(minhash_params_sql)}
            SELECT c.id_a, c.id_b,
                   (sum(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END) / 64.0)
                       ::DOUBLE AS est_jaccard
            FROM cand c
            JOIN mh ma ON ma.id = c.id_a
            JOIN mh mb ON mb.id = c.id_b AND mb.i = ma.i
            GROUP BY c.id_a, c.id_b
            HAVING sum(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END) / 64.0 >= 0.2
        """,
        "simhash": f"""
            WITH {simhash_fp_ctes("simhash")}
            SELECT id, simhash FROM fp
        """,
        # winnowing: same packed (h31, 2^31-1-pos) key and 4-window min
        # as ops/dedup.py winnow_fingerprints; k=5 grams -> range upper
        # bound len-5+2 = len-3
        "winnow_fingerprints": f"""
            WITH base AS (
                SELECT doc_id AS id, lower(text) AS t
                FROM documents
                WHERE doc_id IS NOT NULL AND text IS NOT NULL
                  AND length(text) >= 5
            ), g AS (
                SELECT id, i.pos, substr(t, i.pos, 5) AS gram
                FROM base, UNNEST(range(1, length(t) - 3)) AS i(pos)
            ), keyed AS (
                SELECT id, pos,
                       ({md5_int60('gram')} % 2147483648) * 2147483648
                       + (2147483647 - pos) AS key
                FROM g
            ), m AS (
                SELECT id, pos,
                       min(key) OVER (PARTITION BY id ORDER BY pos
                                      ROWS BETWEEN 3 PRECEDING
                                               AND CURRENT ROW) AS mk
                FROM keyed
            )
            SELECT DISTINCT id AS doc_id,
                   (2147483647 - (mk % 2147483648))::BIGINT AS pos,
                   (mk // 2147483648)::BIGINT AS fp
            FROM m WHERE pos >= 4
        """,
        # LSH candidates (est_jaccard >= 0.2, as dedup_minhash_lsh) then
        # exact Levenshtein on ASCII-folded 256-char prefixes — the fold
        # pins char-vs-byte counting to one semantics on both engines
        "lev_verify": f"""
            WITH {minhash_cand_ctes(minhash_params_sql)},
            vp AS (
                SELECT c.id_a, c.id_b
                FROM cand c
                JOIN mh ma ON ma.id = c.id_a
                JOIN mh mb ON mb.id = c.id_b AND mb.i = ma.i
                GROUP BY c.id_a, c.id_b
                HAVING sum(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END)
                       / 64.0 >= 0.2
            ),
            txt AS (
                SELECT doc_id AS id,
                       regexp_replace(substr(text, 1, 256),
                                      '[^\\x00-\\x7f]', '?', 'g') AS t
                FROM documents
            ),
            lv AS (
                SELECT v.id_a, v.id_b,
                       levenshtein(ta.t, tb.t)::BIGINT AS lev,
                       greatest(length(ta.t), length(tb.t))::BIGINT
                           AS max_len
                FROM vp v
                JOIN txt ta ON ta.id = v.id_a
                JOIN txt tb ON tb.id = v.id_b
            )
            SELECT id_a, id_b, lev, max_len,
                   CASE WHEN max_len > 0
                        THEN (max_len - lev) * 1000000 // max_len
                        ELSE 1000000 END::BIGINT AS sim_e6
            FROM lv
        """,
        "train_split": """
            SELECT doc_id,
                   (('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
                       % 100)::INT AS bucket,
                   CASE
                       WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 100 < 5
                           THEN 'test'
                       WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 100 < 10
                           THEN 'val'
                       ELSE 'train'
                   END AS split
            FROM documents
        """,
        "doc_quality": r"""
            SELECT doc_id,
                   length(text) AS n_chars,
                   length(regexp_split_to_array(text, '\s+'))::INT AS n_words,
                   length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS n_punct,
                   length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS n_upper,
                   round((length(text) - (length(regexp_split_to_array(text, '\s+')) - 1))
                         / length(regexp_split_to_array(text, '\s+'))::DOUBLE, 4) AS avg_word_len,
                   round(
                     (CASE WHEN length(text) < 20 THEN 0.0 ELSE 1.0 END)
                     * (CASE WHEN (length(text) - (length(regexp_split_to_array(text, '\s+')) - 1))
                              / length(regexp_split_to_array(text, '\s+'))::DOUBLE > 12
                             THEN 0.5 ELSE 1.0 END)
                     * (1.0 - (length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')))
                              / (length(text) + 1)), 4) AS quality_score
            FROM documents
        """,
        "token_counts": r"""
            SELECT doc_id,
                   length(regexp_split_to_array(trim(text), '\s+')) AS ws_tokens,
                   length(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS re_tokens
            FROM documents
        """,
        "doc_fingerprint": r"""
            SELECT doc_id,
                   md5(trim(regexp_replace(
                       regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),
                       '\s+', ' ', 'g'))) AS fingerprint
            FROM documents
        """,
        "ann_cosine_topk": """
            WITH q AS (
                SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_vec
                FROM embeddings WHERE vec_id < 8
            ),
            scored AS (
                SELECT q.q_id, e.vec_id,
                       list_cosine_similarity(e.embedding::DOUBLE[], q.q_vec) AS c
                FROM embeddings e, q
            )
            SELECT q_id, vec_id, round(c, 6) AS cosine, rank FROM (
                SELECT q_id, vec_id, c,
                       row_number() OVER (PARTITION BY q_id
                                          ORDER BY c DESC, vec_id ASC) AS rank
                FROM scored)
            WHERE rank <= 5
        """,
        # embedding-cosine near-dups: LSH bucket-collision candidates (same
        # seeded hyperplanes as ann_lsh) verified by exact cosine
        "dedup_embedding": f"""
            WITH {EMBEDDING_AUGMENTED_V},
            {lsh_bucket_ctes(lsh_planes_sql)},
            {LSH_PAIR_CAND}
            SELECT id_a, id_b,
                   round(list_cosine_similarity(ea.e, eb.e), 6) AS cosine
            FROM cand
            JOIN v ea ON ea.vec_id = id_a
            JOIN v eb ON eb.vec_id = id_b
            WHERE list_cosine_similarity(ea.e, eb.e) >= 0.98
        """,
        # embedding near-dup pairs (identical CTEs to dedup_embedding) +
        # the same recursive closure used by the other cluster oracles
        "dedup_cluster_embedding": f"""
            WITH RECURSIVE {EMBEDDING_AUGMENTED_V},
            {lsh_bucket_ctes(lsh_planes_sql)},
            {LSH_PAIR_CAND},
            prs AS (
                SELECT id_a, id_b
                FROM cand
                JOIN v ea ON ea.vec_id = id_a
                JOIN v eb ON eb.vec_id = id_b
                WHERE list_cosine_similarity(ea.e, eb.e) >= 0.98
            ),
            {_closure("prs")}
            {_cluster_select("vec_id")}
        """,
        # IVF inverted lists over deterministic seed centroids (the 8
        # lowest-id vectors); queries probe their 2 nearest lists
        "ann_lsh_topk": f"""
            WITH v AS (
                SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
            ),
            {lsh_bucket_ctes(lsh_planes_sql)},
            cand AS (
                SELECT DISTINCT q.vec_id AS q_id, b.vec_id
                FROM vbuck b JOIN vbuck q ON b.t = q.t AND b.bucket = q.bucket
                WHERE q.vec_id < 8
            ),
            scored AS (
                SELECT c.q_id, c.vec_id,
                       list_cosine_similarity(ev.e, eq.e) AS cos
                FROM cand c
                JOIN v ev ON ev.vec_id = c.vec_id
                JOIN v eq ON eq.vec_id = c.q_id
            )
            SELECT q_id, vec_id, round(cos, 6) AS cosine, rank FROM (
                SELECT q_id, vec_id, cos,
                       row_number() OVER (PARTITION BY q_id
                                          ORDER BY cos DESC, vec_id ASC) AS rank
                FROM scored)
            WHERE rank <= 5
        """,
    }
    # analytics-layer oracles (lakehouse / experiment readouts /
    # curation / graph / sketches / multimodal) live in
    # tools/oracle_analytics.py — merged BEFORE the derived entries
    # below, which compose some of them (ann_recall <- ann_ivf_topk)
    sqls.update(_analytics_entries())
    # mergeable histogram quantiles — the web-scale variant of
    # event_value_quantiles (ops/sketches.hist_quantiles); bin index and
    # midpoints use identical IEEE expression order on both engines
    sqls["hist_event_quantiles"] = """
        WITH vals AS (
            SELECT event_type AS g, value::DOUBLE AS v
            FROM events WHERE value IS NOT NULL
        ), rng AS (
            SELECT g, min(v) AS lo, max(v) AS hi, count(*) AS n
            FROM vals GROUP BY g
        ), binned AS (
            SELECT vals.g, n,
                   CASE WHEN hi = lo THEN 0
                        ELSE least(floor((v - lo) / (hi - lo) * 256)::INT,
                                   255) END AS b
            FROM vals JOIN rng USING (g)
        ), hist AS (
            SELECT g, n, b, count(*) AS c FROM binned GROUP BY g, n, b
        ), cum AS (
            SELECT g, n, b,
                   sum(c) OVER (PARTITION BY g ORDER BY b
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum
            FROM hist
        ), bins AS (
            SELECT g, n,
                   min(CASE WHEN cum >= ceil(0.5 * n) THEN b END) AS b50,
                   min(CASE WHEN cum >= ceil(0.95 * n) THEN b END) AS b95,
                   min(CASE WHEN cum >= ceil(0.99 * n) THEN b END) AS b99
            FROM cum GROUP BY g, n
        )
        SELECT g AS event_type, bins.n AS n,
               floor((CASE WHEN hi = lo THEN lo
                           ELSE lo + (b50 + 0.5) * ((hi - lo) / 256) END)
                     * 1e6)::BIGINT AS p50_est_e6,
               floor((CASE WHEN hi = lo THEN lo
                           ELSE lo + (b95 + 0.5) * ((hi - lo) / 256) END)
                     * 1e6)::BIGINT AS p95_est_e6,
               floor((CASE WHEN hi = lo THEN lo
                           ELSE lo + (b99 + 0.5) * ((hi - lo) / 256) END)
                     * 1e6)::BIGINT AS p99_est_e6
        FROM bins JOIN rng USING (g)
    """
    # recall@5 of the approximate ANN paths vs exact — composes the three
    # ANN oracles as CTEs so the formulas can never drift apart
    sqls["ann_recall"] = f"""
        WITH exact AS ({sqls["ann_cosine_topk"]}),
             lshr AS ({sqls["ann_lsh_topk"]}),
             ivfr AS ({sqls["ann_ivf_topk"]})
        SELECT e.q_id, count(*) AS k,
               sum(CASE WHEN l.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                   ::BIGINT AS hits_lsh,
               sum(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                   ::BIGINT AS hits_ivf
        FROM exact e
        LEFT JOIN lshr l ON l.q_id = e.q_id AND l.vec_id = e.vec_id
        LEFT JOIN ivfr i ON i.q_id = e.q_id AND i.vec_id = e.vec_id
        GROUP BY e.q_id
    """
    # matryoshka dimension ablation: full-dim exact oracle composed as a
    # CTE; the truncated ranking slices both sides to dims [1:32]
    sqls["dim_ablation"] = f"""
        WITH fullk AS ({sqls["ann_cosine_topk"]}),
        tq AS (
            SELECT vec_id AS q_id, (embedding::DOUBLE[])[1:32] AS q_vec
            FROM embeddings WHERE vec_id < 8
        ),
        ts AS (
            SELECT q.q_id, e.vec_id,
                   list_cosine_similarity((e.embedding::DOUBLE[])[1:32],
                                          q.q_vec) AS c
            FROM embeddings e, tq q
        ),
        tr AS (
            SELECT q_id, vec_id FROM (
                SELECT q_id, vec_id,
                       row_number() OVER (PARTITION BY q_id
                                          ORDER BY c DESC, vec_id ASC)
                           AS rank
                FROM ts)
            WHERE rank <= 5
        )
        SELECT f.q_id, count(*) AS k,
               sum(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                   ::BIGINT AS hits_trunc
        FROM fullk f
        LEFT JOIN tr t ON t.q_id = f.q_id AND t.vec_id = f.vec_id
        GROUP BY f.q_id
    """
    return sqls
