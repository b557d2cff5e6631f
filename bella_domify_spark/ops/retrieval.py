"""BM25 ranked retrieval over a document corpus — the text-retrieval twin
of the ANN family in ops/ann.py (sparse lexical ranking vs dense vectors).

Robertson/Spärck-Jones BM25 with the standard (k1, b) parameterization and
the Lucene-style non-negative idf ``ln((N - df + 0.5)/(df + 0.5) + 1)``.
No reference analogue (the reference parses files; it does not rank them) —
this is part of the training-data curation surface: query-anchored corpus
inspection, eval-set retrieval, and contamination triage all reduce to
"BM25 top-k docs for a fixed query set".

Exact-hash discipline (the repo convention from bigram_surprisal,
textstats.py:246-254): the only libm call (ln) quantizes per TERM via
``floor(idf * 1e12)``; every later step is integer or correctly-rounded
IEEE arithmetic (multiply/divide of exact integers and the corpus-derived
``dl/avgdl`` ratio), and per-term contributions floor to e9-scaled
DECIMAL(20,0) before the per-(query, doc) sum — exact, partition-order
free, identical across engines.

Scale notes (100 TB corpus, handful of queries): the token stream
aggregates ONCE into the (doc, term) tf table — the only corpus-sized
shuffle. df and dl both derive from tf (aggregate-sized inputs; the raw
token stream is never shuffled twice). The query-term table broadcasts,
and tf is semi-filtered to query vocabulary BEFORE any join work, so
everything downstream of the tf build is proportional to |query vocab|
postings, not corpus size. avgdl rides along as a broadcast single-row
aggregate. The final top-k window partitions by query_id — k rows per
query survive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from bella_domify_spark.ops.pins import Pins

__all__ = ["bm25_topk", "bm25_prf", "hybrid_rrf", "retrieval_eval",
           "BM25_QUERIES", "RRF_C"]

#: reciprocal-rank-fusion damping constant (Cormack et al., SIGIR'09)
RRF_C = 60

#: fixed demo query set over the synthetic corpus vocabulary — the
#: queries() entry and its DuckDB oracle share these literals
BM25_QUERIES = [
    ("q_hashjoin", "hash join"),
    ("q_windowagg", "window agg spark"),
    ("q_custorder", "customer order data"),
    ("q_scanfilter", "scan filter column"),
]


def queries_values_sql() -> str:
    """BM25_QUERIES as a DuckDB VALUES table (query_id, term), one row per
    distinct term in query order — the oracle twin of the broadcast
    qterms build inside bm25_topk."""
    rows = ", ".join(f"('{qid}', '{t}')" for qid, qtext in BM25_QUERIES
                     for t in dict.fromkeys(qtext.lower().split()))
    return f"(VALUES {rows}) AS q(query_id, term)"


def _postings(docs: DataFrame, id_col: str, text_col: str, pins: Pins):
    """The shared BM25 statistics build: (tf, dl, dft, corpus). tf is the
    one corpus-sized shuffle — token stream -> (doc, term) counts —
    PERSISTED because every consumer (hits, dl, dft, corpus-via-dl) would
    otherwise rescan + re-aggregate the raw token stream; it is the
    compact postings table (O(docs × distinct terms)), the canonical
    thing to pin. It is released when the caller's ``pins`` scope
    exits."""
    toks = (docs.select(F.col(id_col).alias("id"),
                        F.explode(F.split(F.lower(F.col(text_col)),
                                          r"\s+")).alias("term"))
            .filter(F.col("term") != ""))
    tf = pins.pin(toks.groupBy("id", "term")
                  .agg(F.count(F.lit(1)).alias("tf")))
    # dl and df both derive from tf (aggregate-sized), not from toks
    dl = tf.groupBy("id").agg(F.sum("tf").alias("dl"))
    corpus = dl.agg(F.count(F.lit(1)).alias("n_docs"),
                    F.sum("dl").alias("sum_dl"))
    dft = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    return tf, dl, dft, corpus


def _contrib_e9(k1: float, b: float):
    """Per-(term, doc) BM25 contribution, floor-e9 DECIMAL(20,0) — the
    exact-hash expression shared by bm25_topk and bm25_prf (columns:
    tf, df, dl, n_docs, sum_dl)."""
    idf = F.floor(F.log((F.col("n_docs") - F.col("df") + 0.5)
                        / (F.col("df") + 0.5) + 1.0) * F.lit(1e12))
    tfnorm = (F.col("tf") * (1.0 + k1)) / (
        F.col("tf") + k1 * (1.0 - b + b * (F.col("dl")
                                           / (F.col("sum_dl").cast("double")
                                              / F.col("n_docs")))))
    return (F.floor(idf.cast("double") * tfnorm / F.lit(1e3))
            .cast("decimal(20,0)"))


def _qterms_df(spark, queries):
    return spark.createDataFrame(
        [(qid, t) for qid, qtext in queries
         for t in dict.fromkeys(qtext.lower().split())],
        ["query_id", "term"])


def bm25_topk(docs: DataFrame, queries: list[tuple[str, str]] | None = None,
              k: int = 10, k1: float = 1.25, b: float = 0.75,
              id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Top-``k`` documents per query by BM25. Returns
    (query_id, rank, doc_id, score_e9) with deterministic tie-break
    (higher score first, then smaller doc_id).

    k1 defaults to 1.25 (not the textbook 1.2): 1.25 and 0.75 are exact
    binary fractions, so every constant fold (1.0+k1, 1.0-b) is exact and
    engine-order-independent — the oracle embeds the folded literals."""
    spark = docs.sparkSession
    queries = BM25_QUERIES if queries is None else queries
    with Pins() as p:
        tf, dl, dft, corpus = _postings(docs, id_col, text_col, p)
        qterms = _qterms_df(spark, queries)

        # prune tf to query vocabulary before any join fan-out; prune dft
        # the same way BEFORE broadcasting it — the full table is
        # vocabulary-sized (every distinct corpus term) and only |query
        # vocab| rows are ever joined, so broadcasting it whole pays a
        # vocabulary collect + hash build per pass for nothing (guide
        # §3.1: broadcast the SMALL side)
        hits = tf.join(F.broadcast(qterms), "term")
        dft_q = dft.join(F.broadcast(qterms.select("term").distinct()),
                         "term", "left_semi")
        contrib = (hits
                   .join(F.broadcast(dft_q), "term")
                   .join(dl, "id")
                   .crossJoin(F.broadcast(corpus))
                   .select("query_id", "id",
                           _contrib_e9(k1, b).alias("c_e9")))
        scores = (contrib.groupBy("query_id", "id")
                  .agg(F.sum("c_e9").alias("s")))
        w = Window.partitionBy("query_id").orderBy(F.col("s").desc(),
                                                   F.col("id").asc())
        # queries×k rows — small enough for the eager checkpoint
        return p.result(scores.withColumn("rank", F.row_number().over(w))
                        .filter(F.col("rank") <= k)
                        .select("query_id", "rank", F.col("id").alias(id_col),
                                F.col("s").cast("long").alias("score_e9")))


def bm25_prf(docs: DataFrame, queries: list[tuple[str, str]] | None = None,
             k: int = 10, fb_k: int = 5, fb_terms: int = 3,
             w_orig: int = 2, w_exp: int = 1,
             k1: float = 1.25, b: float = 0.75,
             id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Pseudo-relevance-feedback BM25 (RM3-lite): run the base ranking,
    treat each query's top ``fb_k`` documents as relevant, mine their
    ``fb_terms`` strongest non-query terms (by summed tf, term-asc
    tie-break), and re-score the corpus with integer term weights —
    original terms at ``w_orig``, expansion terms at ``w_exp`` — so the
    expanded score Σ w·c_e9 stays exact-integer (the float interpolation
    of textbook RM3 would not hash across engines).

    Scale notes (100 TB): both passes reuse the ONE persisted postings
    table; the feedback-doc set (queries × fb_k) and the expanded
    vocabulary (queries × (|q| + fb_terms)) broadcast, so pass-2 cost is
    |expanded vocab| postings, never a corpus rescan. Expansion mining
    joins postings against the broadcast feedback docs — feedback-set
    sized, tiny.

    Output: (query_id, rank, doc_id, score_w_e9), rank ≤ ``k`` by
    (weighted score DESC, doc_id ASC).
    """
    spark = docs.sparkSession
    queries = BM25_QUERIES if queries is None else queries
    with Pins() as p:
        tf, dl, dft, corpus = _postings(docs, id_col, text_col, p)
        qterms = _qterms_df(spark, queries)

        def score(weighted_terms: DataFrame) -> DataFrame:
            # dft pruned to the scored vocabulary before broadcast — the
            # bm25_topk rationale (full dft is vocabulary-sized)
            hits = tf.join(F.broadcast(weighted_terms), "term")
            dft_w = dft.join(
                F.broadcast(weighted_terms.select("term").distinct()),
                "term", "left_semi")
            contrib = (hits
                       .join(F.broadcast(dft_w), "term")
                       .join(dl, "id")
                       .crossJoin(F.broadcast(corpus))
                       .select("query_id", "id",
                               (_contrib_e9(k1, b)
                                * F.col("w").cast("decimal(2,0)"))
                               .alias("wc")))
            return contrib.groupBy("query_id", "id").agg(
                F.sum("wc").alias("s"))

        base = score(qterms.withColumn("w", F.lit(1)))
        wfb = Window.partitionBy("query_id").orderBy(F.col("s").desc(),
                                                     F.col("id").asc())
        fb_docs = (base.withColumn("r", F.row_number().over(wfb))
                   .filter(F.col("r") <= fb_k).select("query_id", "id"))
        # expansion mining: postings of the feedback docs, minus query terms
        fb_tf = (tf.join(F.broadcast(fb_docs), "id")
                 .groupBy("query_id", "term").agg(F.sum("tf").alias("sum_tf"))
                 .join(qterms, ["query_id", "term"], "left_anti"))
        wexp = Window.partitionBy("query_id").orderBy(F.col("sum_tf").desc(),
                                                      F.col("term").asc())
        exp = (fb_tf.withColumn("r", F.row_number().over(wexp))
               .filter(F.col("r") <= fb_terms).select("query_id", "term"))
        # materialize the expanded term table (queries × (|q| + fb_terms)
        # rows — driver-tiny): its lineage embeds the ENTIRE first scoring
        # pass, and pass 2 references it from two broadcast builds (the
        # hits prune and the dft prune) — without the checkpoint each
        # broadcast re-runs the base ranking + expansion mining from scratch
        weighted = (qterms.withColumn("w", F.lit(w_orig))
                    .unionAll(exp.withColumn("w", F.lit(w_exp)))
                    .transform(p.materialize))
        rescored = score(weighted)
        wk = Window.partitionBy("query_id").orderBy(F.col("s").desc(),
                                                    F.col("id").asc())
        return p.result(rescored.withColumn("rank", F.row_number().over(wk))
                        .filter(F.col("rank") <= k)
                        .select("query_id", "rank", F.col("id").alias(id_col),
                                F.col("s").cast("long").alias("score_w_e9")))


def discount_tables(k: int = 10):
    """The nDCG rank discounts floor(1e12 / log2(rank+1)) for ranks
    1..k, plus the cumulative (ideal-DCG) prefix sums for 0..k — computed
    ONCE here in Python and embedded as literals on BOTH engines, so no
    engine ever evaluates a log: (disc, cum) lists of (key, value)."""
    import math

    disc = [(r, int(math.floor(1e12 / math.log2(r + 1))))
            for r in range(1, k + 1)]
    cum, acc = [(0, 0)], 0
    for r, d in disc:
        acc += d
        cum.append((r, acc))
    return disc, cum


def retrieval_eval(docs: DataFrame,
                   queries: list[tuple[str, str]] | None = None,
                   k: int = 10, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Ranking-quality readout for :func:`bm25_topk`: MRR and nDCG@``k``
    against a DETERMINISTIC relevance oracle — a document is relevant to
    a query iff it contains EVERY query term as a whitespace token
    (lowercased). That conjunctive rule is the classic pooled-judgment
    stand-in: derivable by both engines from the corpus itself, no human
    labels, and strictly harder than BM25's disjunctive scoring — so the
    metric is informative, not circular.

    Exactness: the rank discounts 1/log2(r+1) are Python-precomputed
    e12 integers (:func:`discount_tables`) embedded as literal tables in
    BOTH engines; DCG/IDCG are integer sums, MRR is 1e6 div first_rank,
    nDCG is dcg·1e6 div idcg — truncating BIGINT division, zero floats.

    Scale notes (100 TB): one distinct (doc, term) projection pruned to
    the broadcast query vocabulary BEFORE the conjunction count (the
    bm25 semi-filter discipline); everything after is (queries × docs
    matching any term) sized, and the final frames are queries-sized.

    Output: (query_id, n_rel, first_rank, mrr_e6, dcg_e12, idcg_e12,
    ndcg_e6) — first_rank/mrr/ndcg are 0 when no relevant doc is ranked.
    """
    spark = docs.sparkSession
    queries = BM25_QUERIES if queries is None else queries
    ranked = bm25_topk(docs, queries, k=k, id_col=id_col,
                       text_col=text_col)
    qterms = _qterms_df(spark, queries)
    nterms = qterms.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_terms"))

    # prune the token stream to the query vocabulary BEFORE the distinct:
    # the corpus-wide (doc, term) distinct is the query's one big shuffle
    # and only query-vocab terms can ever become relevant (guide §2.3:
    # shuffle fewer bytes — filter first, then dedupe the tiny remainder)
    dt = (docs.select(F.col(id_col).alias("id"),
                      F.explode(F.split(F.lower(F.col(text_col)),
                                        r"\s+")).alias("term"))
          .join(F.broadcast(qterms.select("term").distinct()),
                "term", "left_semi")
          .distinct())
    rel = (dt.join(F.broadcast(qterms), "term")
           .groupBy("query_id", "id")
           .agg(F.count(F.lit(1)).alias("n_hit"))
           .join(F.broadcast(nterms), "query_id")
           .filter(F.col("n_hit") == F.col("n_terms"))
           .select("query_id", F.col("id").alias(id_col)))
    nrel = rel.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_rel"))

    disc, cum = discount_tables(k)
    disc_df = spark.createDataFrame(disc, ["rank", "d_e12"])
    cum_df = spark.createDataFrame(cum, ["m", "i_e12"])

    labeled = (ranked
               .join(rel.withColumn("is_rel", F.lit(1)),
                     ["query_id", id_col], "left")
               .join(F.broadcast(disc_df), "rank"))
    perq = (labeled.groupBy("query_id")
            .agg(F.sum(F.when(F.col("is_rel") == 1, F.col("d_e12"))
                       .otherwise(0)).cast("long").alias("dcg_e12"),
                 F.coalesce(F.min(F.when(F.col("is_rel") == 1,
                                         F.col("rank"))), F.lit(0))
                 .cast("int").alias("first_rank")))
    base = nterms.select("query_id")
    out = (base
           .join(nrel, "query_id", "left")
           .join(perq, "query_id", "left")
           .select("query_id",
                   F.coalesce(F.col("n_rel"), F.lit(0)).cast("long")
                    .alias("n_rel"),
                   F.coalesce(F.col("first_rank"), F.lit(0)).cast("int")
                    .alias("first_rank"),
                   F.coalesce(F.col("dcg_e12"), F.lit(0)).cast("long")
                    .alias("dcg_e12"))
           .join(F.broadcast(cum_df),
                 F.least(F.col("n_rel"), F.lit(k)) == F.col("m"))
           .select("query_id", "n_rel", "first_rank",
                   F.when(F.col("first_rank") > 0,
                          F.expr("1000000 div first_rank"))
                    .otherwise(0).cast("long").alias("mrr_e6"),
                   "dcg_e12",
                   F.col("i_e12").cast("long").alias("idcg_e12"),
                   F.when(F.col("i_e12") > 0,
                          F.expr("dcg_e12 * 1000000 div i_e12"))
                    .otherwise(0).cast("long").alias("ndcg_e6")))
    return out


def discount_values_sql(k: int = 10) -> tuple[str, str]:
    """The discount_tables literals as DuckDB VALUES tables — returns
    (disc_sql, cum_sql) so the oracle embeds the exact same integers."""
    disc, cum = discount_tables(k)
    d = ", ".join(f"({r}, {v})" for r, v in disc)
    c = ", ".join(f"({m}, {v})" for m, v in cum)
    return (f"(VALUES {d}) AS disc(rnk, d_e12)",
            f"(VALUES {c}) AS idc(m, i_e12)")


def hybrid_rrf(docs: DataFrame,
               queries: list[tuple[str, str]] | None = None,
               k: int = 10, c: int = RRF_C) -> DataFrame:
    """Two-stage hybrid retrieval: reciprocal-rank fusion (Cormack et
    al., SIGIR'09) of the BM25 lexical ranking with a quality re-rank
    signal — the hashed-linear classifier margin (ops/classifier.py) as
    the quality prior, the standard 'relevance × quality' production
    re-ranking shape.

    Per query: the BM25 top-``k`` is the candidate set; candidates get a
    second rank by (margin DESC, doc_id) and fuse as
    ``rrf_e12 = 1e12 div (c + bm25_rank) + 1e12 div (c + q_rank)`` —
    truncating integer division of exact integers, so the fused score is
    bit-identical across engines with no float in sight.

    Scale notes (100 TB): the candidate set is queries × k rows — it
    BROADCASTS onto the corpus-sized classifier scan (map-side semi
    join; the corpus is never shuffled), and both re-rank windows
    partition by query over ≤ k rows. The expensive stage is bm25_topk's
    single postings shuffle, already paid.

    Output: (query_id, doc_id, bm25_rank, q_rank, rrf_e12, fused_rank),
    all k candidates per query in fused order.
    """
    from bella_domify_spark.ops.classifier import quality_classifier

    bm = bm25_topk(docs, queries, k=k).withColumnRenamed("rank",
                                                         "bm25_rank")
    margins = quality_classifier(docs).select("doc_id", "margin")
    cand = margins.join(F.broadcast(bm), "doc_id")
    wq = Window.partitionBy("query_id").orderBy(F.desc("margin"),
                                                F.asc("doc_id"))
    ranked = cand.withColumn("q_rank", F.row_number().over(wq))
    rrf = F.expr(f"1000000000000L div ({c} + bm25_rank)"
                 f" + 1000000000000L div ({c} + q_rank)")
    wf = Window.partitionBy("query_id").orderBy(F.desc("rrf_e12"),
                                                F.asc("doc_id"))
    return (ranked.select("query_id", "doc_id", "bm25_rank", "q_rank",
                          rrf.alias("rrf_e12"))
            .withColumn("fused_rank", F.row_number().over(wf)))


# --- RBO rank agreement (bm25 vs fused) -----------------------------------
#
# truncated rank-biased overlap (Webber et al., TOIS'10) at depth D=10
# with persistence p = 9/10, in EXACT integer arithmetic: scaling by
# S = 2520·10¹⁰ makes every per-depth weight (1−p)·p^(d−1)/d an integer
# w_d = 9^(d−1)·(2520/d)·10^(10−d)  (2520 = lcm(1..10)), and
# rbo_e9 = total·10⁹/S = total div 25200 exactly — no float anywhere.
RBO_D = 10
RBO_WEIGHTS = [9 ** (d - 1) * (2520 // d) * 10 ** (10 - d)
               for d in range(1, RBO_D + 1)]
# suffix sums: a doc first counted at depth m contributes SW[m] in total
RBO_SUFFIX = [sum(RBO_WEIGHTS[m - 1:]) for m in range(1, RBO_D + 1)]


def rbo_suffix_sql() -> str:
    """VALUES table (m, sw) of the suffix weights, shared verbatim by the
    DuckDB oracle."""
    rows = ", ".join(f"({m}, {sw})"
                     for m, sw in enumerate(RBO_SUFFIX, start=1))
    return f"(VALUES {rows}) AS sw(m, sw)"


def rank_rbo(docs: DataFrame,
             queries: list[tuple[str, str]] | None = None,
             k: int = RBO_D) -> DataFrame:
    """Rank-agreement readout between the lexical ranking and the fused
    ranking that hybrid_rrf emits for the same candidate set: per query,
    truncated RBO@10 (top-weighted — disagreement at rank 1 costs ~26×
    rank 10) plus the Spearman footrule Σ|rank_a − rank_b| (uniform).
    The standard guardrail when shipping a re-ranker: a query whose RBO
    collapses is one where the quality prior overruled lexical relevance
    wholesale.

    Both rankings permute the SAME k docs, so the depth-d overlap is
    |{doc : max(bm25_rank, fused_rank) ≤ d}| and each doc contributes the
    suffix weight RBO_SUFFIX[max(ra, rb)] once — one projection + one
    per-query sum, integer-exact end to end (see module comment).

    Scale: piggybacks entirely on hybrid_rrf's plan (one postings
    shuffle); this adds a queries×k-row aggregate.

    Output: (query_id, n_docs, footrule, rbo_e9).
    """
    fused = hybrid_rrf(docs, queries, k=k)
    m = F.greatest(F.col("bm25_rank"), F.col("fused_rank"))
    sw = F.element_at(
        F.array(*[F.lit(x) for x in RBO_SUFFIX]), m.cast("int"))
    return (fused.select(
                "query_id",
                F.abs(F.col("bm25_rank") - F.col("fused_rank"))
                 .cast("long").alias("_fr"),
                sw.alias("_sw"))
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("_fr").alias("footrule"),
                 F.sum("_sw").cast("long").alias("_tot"))
            .select("query_id", "n_docs", "footrule",
                    F.expr("_tot div 25200").alias("rbo_e9")))


def postings_compression(docs: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """Inverted-index size planner: per document-frequency bucket, the
    byte cost of the postings lists raw (8 B/doc-id) vs delta+varint
    (gap-encode each term's sorted doc-id list, LEB128 bytes per gap) —
    the estimate that decides whether the 100 TB index fits the serving
    tier. Rare terms (df=1) compress worst (gap = the raw id); the
    head terms carry dense lists whose gaps fit one byte.

    All-integer: gaps are exact BIGINT differences over each term's
    id-ordered postings (first gap = doc_id + 1 so zero ids cost ≥ 1
    byte); varint bytes = (bitlen(gap) + 6) div 7 with bitlen =
    length(bin(gap)) — Spark's bin() and DuckDB's bin() both render
    minimal binary, so the byte counts agree bitwise. ratio_e6 =
    varint·1e6 div raw in DECIMAL(38,0).

    Scale: one corpus token aggregate to the (term, doc) postings, one
    per-term window (term-bounded partitions), one map-side-combined
    bucket rollup.

    Output: (df_bucket, n_terms, n_postings, raw_bytes, varint_bytes,
    ratio_e6) — df_bucket in {1, 10, 100, 1000, 1000000} upper bounds.
    """
    post = (docs.select(F.col(id_col).alias("id"),
                        F.explode(F.split(F.lower(F.col(text_col)),
                                          r"\s+")).alias("term"))
            .filter(F.col("term") != "").distinct())
    wt = Window.partitionBy("term").orderBy("id")
    g = (post.withColumn("prev", F.lag("id").over(wt))
         .withColumn("gap", F.when(F.col("prev").isNull(),
                                   F.col("id") + 1)
                     .otherwise(F.col("id") - F.col("prev")))
         .withColumn("vb", F.expr("(length(bin(gap)) + 6) div 7")))
    per_term = (g.groupBy("term")
                .agg(F.count(F.lit(1)).cast("long").alias("df"),
                     F.sum("vb").cast("long").alias("vbytes")))
    bucket = (F.when(F.col("df") <= 1, 1)
              .when(F.col("df") <= 10, 10)
              .when(F.col("df") <= 100, 100)
              .when(F.col("df") <= 1000, 1000)
              .otherwise(1000000)).cast("long")
    return (per_term.groupBy(bucket.alias("df_bucket"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_terms"),
                 F.sum("df").cast("long").alias("n_postings"),
                 (F.sum("df") * 8).cast("long").alias("raw_bytes"),
                 F.sum("vbytes").cast("long").alias("varint_bytes"))
            .withColumn("ratio_e6",
                        F.expr("cast(varint_bytes as decimal(38,0))"
                               " * 1000000 div raw_bytes")))


def postings_oracle_sql() -> str:
    """DuckDB twin of postings_compression (same gap recipe, same
    (length(bin(gap))+6)//7 varint bytes, HUGEINT ratio)."""
    return r"""
        WITH pcp0 AS (
            SELECT doc_id AS id,
                   unnest(list_filter(regexp_split_to_array(lower(text),
                                                            '\s+'),
                                      x -> x != '')) AS term
            FROM documents
        ),
        pcp AS (SELECT DISTINCT id, term FROM pcp0),
        pcg AS (
            SELECT term,
                   CASE WHEN lag(id) OVER w IS NULL THEN id + 1
                        ELSE id - lag(id) OVER w END AS gap
            FROM pcp
            WINDOW w AS (PARTITION BY term ORDER BY id)
        ),
        pct AS (
            SELECT term, count(*)::BIGINT AS df,
                   sum((length(bin(gap)) + 6) // 7)::BIGINT AS vbytes
            FROM pcg GROUP BY term
        ),
        pcb AS (
            SELECT CASE WHEN df <= 1 THEN 1 WHEN df <= 10 THEN 10
                        WHEN df <= 100 THEN 100 WHEN df <= 1000 THEN 1000
                        ELSE 1000000 END::BIGINT AS df_bucket,
                   count(*)::BIGINT AS n_terms,
                   sum(df)::BIGINT AS n_postings,
                   (sum(df) * 8)::BIGINT AS raw_bytes,
                   sum(vbytes)::BIGINT AS varint_bytes
            FROM pct GROUP BY df_bucket
        )
        SELECT df_bucket, n_terms, n_postings, raw_bytes, varint_bytes,
               (varint_bytes::HUGEINT * 1000000 // raw_bytes)::BIGINT
                   AS ratio_e6
        FROM pcb
    """
