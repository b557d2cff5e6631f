"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
arXiv:2302.03169): score every raw document by how much more likely its
hashed n-gram bag is under a TARGET distribution than under the raw-corpus
distribution. The standard pretraining-data selection step between
heuristic filtering and tokenization: keep raw documents that "look like"
the high-quality target domain.

Faithful to the paper's estimator: features are hashed unigram+bigram
counts in B buckets; p̂ (target) and q̂ (raw) are add-one-smoothed bucket
distributions; the importance log-weight of a document is
sum_f count_f * (ln p̂[b(f)] - ln q̂[b(f)]). The target here is the
corpus's own lang='en' slice — deterministic and available at every SF;
swapping in an external target corpus only changes the p̂ aggregation
input.

Scale notes (100 TB): the bucket tables are aggregate-sized (≤B rows,
map-side combined from the feature stream), so the per-bucket λ table
broadcasts; the per-document reduction is ONE shuffle keyed by doc_id
whose partials combine map-side (each partition emits ~1 row per local
doc). Nothing document-count-sized is ever collected or sorted. A
production pipeline materializes λ once per target refresh and reuses it
for every incoming batch — scoring is then broadcast-join + local sum,
shuffle ∝ batch.

Determinism: λ_b quantizes floor-e9 to BIGINT before any per-document
arithmetic (the established bigram_surprisal idiom: ln on ratios of the
same integers is bit-stable across Spark and DuckDB in practice, and the
floor squashes any last-ulp wobble); per-document sums are exact BIGINT
(|λ| ≲ 2e10, docs carry ≲1e4 features → ≲2e14 per doc, far inside int64).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from bella_domify_spark.ops.hashfamily import md5_int60_col
from bella_domify_spark.ops.pins import Pins

__all__ = ["dsir_weights", "DSIR_BUCKETS", "dsir_lambda_sql"]

DSIR_BUCKETS = 1024


def dsir_weights(docs: DataFrame,
                 n_buckets: int = DSIR_BUCKETS) -> DataFrame:
    """Per-document DSIR importance log-weights against the lang='en'
    target slice. Returns (doc_id, is_target, n_feats, logw_e9) for every
    document; logw_e9 = floor-e9-quantized sum of per-feature
    ln p̂/q̂ contributions (0 for feature-less documents)."""
    from bella_domify_spark.ops.classifier import quality_classifier  # noqa: F401  (same feature def)

    toks = docs.select(
        "doc_id",
        (F.col("lang") == "en").alias("is_target"),
        F.expr(r"filter(split(lower(coalesce(text, '')), '\\s+'),"
               r" x -> x != '')").alias("ws"),
    )
    feats = toks.select(
        "doc_id", "is_target",
        F.expr("""
            concat(ws,
                   CASE WHEN size(ws) >= 2
                        THEN zip_with(slice(ws, 1, size(ws) - 1),
                                      slice(ws, 2, size(ws) - 1),
                                      (a, b) -> concat(a, '_', b))
                        ELSE array() END)
        """).alias("fs"),
    )
    inst = feats.select(
        "doc_id", "is_target",
        F.explode_outer(  # outer: feature-less docs still get a row
            F.expr("CASE WHEN size(fs) > 0 THEN fs ELSE array(NULL) END"))
         .alias("f"),
    ).select(
        "doc_id", "is_target",
        F.when(F.col("f").isNotNull(),
               F.pmod(md5_int60_col(F.col("f")), F.lit(n_buckets)))
         .alias("b"),
    )
    # reduce to per-(doc, bucket) counts FIRST and persist: both the
    # corpus bucket table and the per-doc reduction consume this frame,
    # and without pinning it each would re-run the feature explode + one
    # md5 per instance (the expensive part). Unlike the shingle streams
    # (deliberately uncached — dedup.py:106), this aggregate is bounded
    # by docs × min(feats, n_buckets) short rows, the scale-right cache.
    with Pins() as p:
        db = p.pin(inst.groupBy("doc_id", "is_target", "b")
                   .agg(F.count(F.lit(1)).alias("cnt")))
        counts = db.filter(F.col("b").isNotNull()).groupBy("b").agg(
            F.sum(F.when(F.col("is_target"), F.col("cnt")).otherwise(0))
             .alias("t_cnt"),
            F.sum("cnt").alias("r_cnt"),
        )
        totals = counts.agg(F.sum("t_cnt").alias("n_t"),
                            F.sum("r_cnt").alias("n_r"))
        lam = counts.crossJoin(F.broadcast(totals)).select(
            "b",
            F.floor((F.log((F.col("t_cnt") + 1).cast("double")
                           / (F.col("n_t") + n_buckets))
                     - F.log((F.col("r_cnt") + 1).cast("double")
                             / (F.col("n_r") + n_buckets))) * 1e9)
             .cast("long").alias("lam_e9"),
        )
        per_doc = (db.join(F.broadcast(lam), "b", "left")
                     .groupBy("doc_id", "is_target")
                     .agg(F.sum(F.when(F.col("b").isNotNull(), F.col("cnt"))
                                .otherwise(0))
                           .cast("long").alias("n_feats"),
                          F.coalesce(F.sum(F.col("cnt") * F.col("lam_e9")),
                                     F.lit(0)).cast("long")
                           .alias("logw_e9")))
        return p.result(per_doc.select("doc_id", "is_target", "n_feats",
                                       "logw_e9"))


def dsir_lambda_sql(n_buckets: int = DSIR_BUCKETS) -> str:
    """DuckDB CTEs: instance stream ``inst``(doc_id, is_target, b) with a
    NULL-bucket row per feature-less doc, bucket table ``lam``(b, lam_e9).
    The caller aggregates per doc. Composes after classifier_feats_sql()
    (which defines ``feats``); callers must add ``is_target`` themselves
    via a join with documents (kept out of here so the feature CTE stays
    shared with quality_classifier verbatim)."""
    return f"""
        inst AS (
            SELECT f.doc_id, d.lang = 'en' AS is_target,
                   CASE WHEN u.f IS NOT NULL THEN
                       ('0x' || substr(md5(u.f), 1, 15))::BIGINT
                           % {n_buckets}
                   END AS b
            FROM feats f
            JOIN documents d USING (doc_id),
            UNNEST(CASE WHEN len(f.fs) > 0 THEN f.fs
                        ELSE [NULL::VARCHAR] END) AS u(f)
        ), counts AS (
            SELECT b, sum(CASE WHEN is_target THEN 1 ELSE 0 END)::BIGINT
                       AS t_cnt,
                   count(*) AS r_cnt
            FROM inst WHERE b IS NOT NULL GROUP BY b
        ), totals AS (
            SELECT sum(t_cnt)::BIGINT AS n_t, sum(r_cnt)::BIGINT AS n_r
            FROM counts
        ), lam AS (
            SELECT b,
                   floor((ln((t_cnt + 1)::DOUBLE / (n_t + {n_buckets}))
                          - ln((r_cnt + 1)::DOUBLE / (n_r + {n_buckets})))
                         * 1e9)::BIGINT AS lam_e9
            FROM counts CROSS JOIN totals
        )
    """
