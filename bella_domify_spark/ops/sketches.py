"""Deterministic sketches (HyperLogLog distinct-count, count-min
frequency) with exact DuckDB twins.

Spark's built-in ``approx_count_distinct`` (HLL++) and DuckDB's
``approx_count_distinct`` use different hash functions and register
layouts, so their estimates never hash-compare. This operator instead
builds the classic Flajolet HLL from the repo's md5-hash idiom
(ops/hashfamily.py) with *integer-exact* register arithmetic, so Spark and
any ANSI-SQL engine produce bit-identical estimates:

- 60-bit hash ``h`` = first 15 hex chars of md5(value) (the minhash x
  mapping) — bucket ``j = h % m``, payload ``w = h div m`` (54 bits at
  m=64).
- register rho = 54 - bit_length(w) + 1 (w=0 → 55): pure integer string
  length of the binary form — no float log.
- The harmonic sum uses ``1 << (55 - M_j)`` summed as BIGINT (empty
  registers contribute ``1 << 55`` each): exact, order-free, no float
  summation drift. Only the final estimate division and the
  linear-counting branch (``m * ln(m/V)``) are doubles, computed from
  identical integer inputs by the same IEEE expression on both sides.

Scale: one md5 per row map-side, one (group, bucket) partial-combining
aggregate (m rows per group), one tiny per-group reduce — the same shape
as the minhash pipeline, mergeable across partitions by construction
(max of registers). This is the sketch path for distinct counts too large
to count exactly; the gate query carries the exact distinct alongside so
the oracle also pins the estimate's accuracy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from bella_domify_spark.ops.pins import Pins

M = 64          # registers (p = 6)
W_BITS = 54     # 60-bit hash minus 6 bucket bits
RHO_MAX = W_BITS + 1

#: alpha_m * m^2 * 2^RHO_MAX, computed ONCE driver-side; its repr() is
#: embedded verbatim in the oracle SQL (the hyperplane-VALUES idiom) so
#: neither engine's expression-evaluation order can perturb the constant
HLL_NUMERATOR = 0.7213 / (1 + 1.079 / M) * M * M * float(1 << RHO_MAX)


def _h60(col):
    """The repo's md5 -> 60-bit int idiom (hashfamily.md5_int60_col)."""
    from bella_domify_spark.ops.hashfamily import md5_int60_col

    return md5_int60_col(col.cast("string"))


def hll_distinct(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Per-group HLL distinct estimate of ``value_col`` with the standard
    small-range (linear counting) correction, plus the exact distinct for
    accuracy pinning. Output: (group, n_exact, est_hll_e4, rel_err_e4) —
    the estimate and relative error floor-quantized at 1e-4 as BIGINT."""
    # NULL values carry no identity: count_distinct ignores them, so the
    # register side must too (md5(NULL) would otherwise thread NULL
    # buckets through the aggregate)
    df = df.filter(F.col(value_col).isNotNull())
    h = _h60(F.col(value_col))
    # bucket/payload split via bit ops — h/M float division would lose
    # exactness above 2^53
    j = h.bitwiseAND(F.lit(M - 1)).alias("j")
    w = F.shiftright(h, 6)
    rho = (F.when(w > 0, F.lit(RHO_MAX) - F.length(F.bin(w)))
           .otherwise(F.lit(RHO_MAX)).cast("int"))

    regs = (df.select(F.col(group_col), j, rho.alias("rho"))
            .groupBy(group_col, "j").agg(F.max("rho").alias("mj")))

    # integer-exact harmonic sum: present buckets 1<<(55-mj); the
    # (M - count) empty buckets contribute 1<<55 each
    # SQL-expr shiftleft: the python F.shiftleft only takes a literal
    # shift amount, not a per-row column
    per_group = (regs.groupBy(group_col).agg(
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {RHO_MAX} - mj)"))
        .alias("s_present"),
        F.count("*").alias("n_buckets")))
    s_total = (F.col("s_present")
               + (F.lit(M) - F.col("n_buckets"))
               * F.lit(1 << RHO_MAX).cast("long"))
    v = (F.lit(M) - F.col("n_buckets")).cast("double")   # empty registers
    raw = F.lit(HLL_NUMERATOR) / s_total.cast("double")
    est = F.when((raw <= 2.5 * M) & (v > 0),
                 F.lit(float(M)) * F.log(F.lit(float(M)) / v)).otherwise(raw)

    exact = (df.groupBy(group_col)
             .agg(F.count_distinct(F.col(value_col)).alias("n_exact")))
    # outputs quantized with floor(x*1e4) -> BIGINT, not round(x, 4):
    # round() is NOT cross-engine deterministic (Spark shortest-repr
    # HALF_UP vs DuckDB binary scaling), floor of an IEEE multiply is
    # bit-identical on identical inputs
    return (exact.join(per_group, group_col)
            .select(group_col, "n_exact",
                    F.floor(est * F.lit(1e4)).cast("long")
                    .alias("est_hll_e4"),
                    F.floor((est - F.col("n_exact"))
                            / F.col("n_exact") * F.lit(1e4)).cast("long")
                    .alias("rel_err_e4")))


CMS_D = 4       # count-min depth (hash rows, from the minhash family)
CMS_W = 512     # count-min width (buckets per row)


def cms_heavy_hitters(df: DataFrame, text_col: str = "text",
                      k: int = 20) -> DataFrame:
    """Count-min-sketch word-frequency estimation, validated against the
    exact heavy hitters: build a d×w CMS over the corpus's words (the
    md5-seeded (a_i, b_i) universal hashes of ops/hashfamily — the same
    family the DuckDB twin regenerates), then estimate the exact top-k
    words' counts as min_i cms[i][h_i(word)]. ALL-integer: counts,
    buckets, minimum — nothing floats, so the sketch is exact-hash-safe
    by construction.

    Output (word, n_exact, est_cms, overestimate): CMS guarantees
    est >= exact; the overestimate column makes collision inflation
    visible (and pins it in the oracle).

    Scale: ONE word aggregate feeds both sides — the sketch hashes the
    DISTINCT words and sums their counts per cell (identical cells to
    hashing every token instance, at O(distinct) md5 cost instead of
    O(tokens)), collapsing into at most d*w = 2048 partial-combined rows.
    The sketch itself is tiny and mergeable, which is the point of CMS at
    100 TB (union = cell-wise sum). Top-k ordering ties break on the word
    for determinism."""
    from bella_domify_spark.ops.hashfamily import (
        MERSENNE_P,
        md5_int60_col,
        minhash_params,
    )

    words = (df.select(F.explode(F.split(F.lower(F.col(text_col)),
                                         r"\s+")).alias("word"))
             .filter(F.col("word") != ""))
    counts = words.groupBy("word").agg(F.count(F.lit(1)).alias("n_exact"))
    params = minhash_params(CMS_D)
    a = F.element_at(F.array(*[F.lit(p[0]) for p in params]),
                     F.col("i") + 1)
    b = F.element_at(F.array(*[F.lit(p[1]) for p in params]),
                     F.col("i") + 1)
    bucket = ((a * F.col("x") + b) % F.lit(MERSENNE_P)) % F.lit(CMS_W)

    hashed = (counts.select(
        "word", "n_exact",
        (md5_int60_col(F.col("word")) % F.lit(MERSENNE_P)).alias("x"))
        .withColumn("i", F.explode(F.array(
            *[F.lit(i) for i in range(CMS_D)])))
        .withColumn("bucket", bucket))
    cms = hashed.groupBy("i", "bucket").agg(F.sum("n_exact").alias("c"))

    top = counts.orderBy(F.desc("n_exact"), "word").limit(k)
    top_h = hashed.join(top.select("word"), "word")
    return (top_h.join(cms, ["i", "bucket"])
            .groupBy("word", "n_exact")
            .agg(F.min("c").alias("est_cms"))
            .select("word", "n_exact", "est_cms",
                    (F.col("est_cms") - F.col("n_exact"))
                    .alias("overestimate")))


HIST_BINS = 256  # histogram-quantile resolution (error <= range/bins)


def hist_quantiles(df: DataFrame, group_col: str = "event_type",
                   value_col: str = "value",
                   ps=(0.5, 0.95, 0.99), n_bins: int = HIST_BINS) -> DataFrame:
    """Mergeable fixed-width-histogram quantiles — THE web-scale variant
    the exact ``event_value_quantiles`` docstring promises: per group,
    bucket values into ``n_bins`` equal-width bins over the group's own
    [min, max] range, then read each quantile's bin by cumulative count
    and estimate it as the bin midpoint.

    Exactness discipline: the bin index is ``floor((v - lo) / (hi - lo)
    * n_bins)`` — floor of identical IEEE ops on identical doubles, so
    both engines agree bit-for-bit; the cumulative pick is pure integer
    logic (target row = smallest bin whose running count reaches
    ``ceil(p * n)``); midpoints quantize via floor×1e6 BIGINT. NULL
    values carry no position (filtered on both sides).

    Scale: min/max and the bin histogram are both partial-combining
    aggregates — the corpus shuffles ≤ groups×n_bins rows TOTAL, and
    histograms merge by cell-wise sum across partitions/days/shards
    (unlike the exact variant's full per-group sort). Accuracy is
    bounded by range/n_bins per group."""
    vals = df.filter(F.col(value_col).isNotNull()) \
             .select(F.col(group_col).alias("g"),
                     F.col(value_col).cast("double").alias("v"))
    rng = vals.groupBy("g").agg(F.min("v").alias("lo"),
                                F.max("v").alias("hi"),
                                F.count(F.lit(1)).alias("n"))
    # no forced broadcast: rng is one row PER GROUP — tiny for enum-like
    # groups but potentially huge for high-cardinality group columns
    # (user_id), where a forced broadcast would OOM the driver; AQE
    # broadcasts it automatically when it is actually small
    binned = (vals.join(rng, "g")
              .select("g", "n", F.when(
                  F.col("hi") == F.col("lo"), F.lit(0)).otherwise(
                  F.least(F.floor((F.col("v") - F.col("lo"))
                                  / (F.col("hi") - F.col("lo"))
                                  * F.lit(n_bins)).cast("int"),
                          F.lit(n_bins - 1))).alias("b")))
    hist = binned.groupBy("g", "n", "b").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("g").orderBy("b") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = hist.withColumn("cum", F.sum("c").over(w))

    def pick(p, name):
        # smallest bin whose cumulative count reaches ceil(p*n)
        target = F.ceil(F.lit(p) * F.col("n"))
        return F.min(F.when(F.col("cum") >= target, F.col("b"))).alias(name)

    bins = cum.groupBy("g", "n").agg(
        *[pick(p, f"b{int(p * 100)}") for p in ps])
    out = bins.join(rng.select("g", "lo", "hi"), "g")
    width = (F.col("hi") - F.col("lo")) / F.lit(n_bins)

    def mid(bcol, name):
        est = F.when(F.col("hi") == F.col("lo"), F.col("lo")).otherwise(
            F.col("lo") + (F.col(bcol) + F.lit(0.5)) * width)
        return F.floor(est * F.lit(1e6)).cast("long").alias(name)

    return out.select(
        F.col("g").alias(group_col), "n",
        *[mid(f"b{int(p * 100)}", f"p{int(p * 100)}_est_e6") for p in ps])


def hll_sliding_distinct(events: DataFrame, window_days: int = 7,
                         day_us: int = 86_400 * 10 ** 6) -> DataFrame:
    """Sliding ``window_days``-day distinct users per day via MERGEABLE
    daily HLL sketches — the production pattern the plain per-group HLL
    only implies: materialize one register table per day, then answer ANY
    window by register max-merge, never rescanning the raw corpus. A year
    of daily sketches is 365×64 rows; every window query is
    aggregate-sized arithmetic.

    Plan: one scan → map-side-combined (day, j) register table → a
    window_days-way explode of the REGISTER table (sketch-sized, not
    data-sized) → max-merge per (target_day, j) → the same integer-exact
    harmonic sum + linear-counting correction as hll_distinct. The exact
    count (for accuracy pinning) expands raw (day, user) pairs instead —
    the cost the sketch path avoids, kept only because the oracle gate
    wants both columns. Output: (day, n_exact, est_hll_e4); only days
    present in the data are emitted (a window ending on day d merges the
    registers of days d-6..d that exist).
    """
    df = (events.filter(F.col("user_id").isNotNull()
                        & F.col("ts").isNotNull())
          .select(F.expr(f"unix_micros(cast(ts as timestamp)) div {day_us}")
                  .alias("day"), "user_id"))
    h = _h60(F.col("user_id"))
    j = h.bitwiseAND(F.lit(M - 1)).alias("j")
    w = F.shiftright(h, 6)
    rho = (F.when(w > 0, F.lit(RHO_MAX) - F.length(F.bin(w)))
           .otherwise(F.lit(RHO_MAX)).cast("int"))
    daily = (df.select("day", j, rho.alias("rho"))
             .groupBy("day", "j").agg(F.max("rho").alias("mj")))
    days = daily.select("day").distinct()
    offs = F.explode(F.array(*[F.lit(k) for k in range(window_days)]))
    expanded = (daily.select("day", "j", "mj", offs.alias("k"))
                .select((F.col("day") + F.col("k")).alias("t_day"),
                        "j", "mj"))
    merged = (expanded.join(days.select(F.col("day").alias("t_day")),
                            "t_day")
              .groupBy("t_day", "j").agg(F.max("mj").alias("mj")))
    per_day = (merged.groupBy("t_day").agg(
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {RHO_MAX} - mj)"))
        .alias("s_present"),
        F.count("*").alias("n_buckets")))
    s_total = (F.col("s_present")
               + (F.lit(M) - F.col("n_buckets"))
               * F.lit(1 << RHO_MAX).cast("long"))
    v = (F.lit(M) - F.col("n_buckets")).cast("double")
    raw = F.lit(HLL_NUMERATOR) / s_total.cast("double")
    est = F.when((raw <= 2.5 * M) & (v > 0),
                 F.lit(float(M)) * F.log(F.lit(float(M)) / v)).otherwise(raw)
    ex_expanded = (df.select("day", "user_id", offs.alias("k"))
                   .select((F.col("day") + F.col("k")).alias("t_day"),
                           "user_id"))
    exact = (ex_expanded.join(days.select(F.col("day").alias("t_day")),
                              "t_day")
             .groupBy("t_day")
             .agg(F.count_distinct("user_id").alias("n_exact")))
    return (exact.join(per_day, "t_day")
            .select(F.col("t_day").alias("day"), "n_exact",
                    F.floor(est * F.lit(1e4)).cast("long")
                    .alias("est_hll_e4")))


BK_K = 32


def bottomk_estimate(docs: DataFrame, k: int = BK_K,
                     threshold: float = 0.2) -> DataFrame:
    """Bottom-k (single-permutation KMV) Jaccard estimation, calibrated
    against exact truth — the sketch production dedup actually ships
    when 64 independent minhashes are too expensive: ONE hash per
    shingle, keep each document's k smallest values, and estimate
    J(A,B) = |B_k(A∪B) ∩ B_k(A) ∩ B_k(B)| / |B_k(A∪B)| (Bar-Yossef et
    al.'s KMV estimator — B_k of the union is computable from the two
    sketches alone). This query scores the estimator per true near-dup
    pair, the calibration table that picks k.

    Everything is relational and exact-deterministic: md5-int60 hashes,
    per-document bottom-k by rank, the pair-level union re-ranked by a
    (pair)-partitioned window over ≤ 2k rows, and
    est_e6 = hits·1e6 div k_eff. true_e6 = floor(jaccard·1e6) floors
    the same IEEE division both engines compute.

    Scale: the truth side is brute force (this is an audit — sample in
    production, exactly like blocking_quality); the sketch side is one
    scan + a per-document rank. Per-pair work is O(k).

    Output: (id_a, id_b, true_e6, est_e6, err_e6).
    """
    from bella_domify_spark.ops.dedup import jaccard_pairs, shingle_arrays
    from bella_domify_spark.ops.hashfamily import md5_int60_col
    # per-doc bottom-k straight off the in-row shingle array:
    # sort_array + slice replaces the former per-doc ordered window over
    # the whole exploded hash stream (guide §2.4 — the k smallest VALUES
    # are the same either way; ties held duplicates in both shapes)
    bk = (shingle_arrays(docs)
          .select("id", F.explode(F.slice(F.array_sort(
              F.transform("sharr", md5_int60_col)), 1, k))
              .alias("hv")))
    with Pins() as p:
        tp = p.pin(jaccard_pairs(docs, threshold=threshold)
                   .select("id_a", "id_b",
                           F.floor(F.col("jaccard") * 1e6).cast("long")
                            .alias("true_e6")))
        ea = (tp.join(bk.withColumnRenamed("id", "id_a"), "id_a")
              .select("id_a", "id_b", "hv", F.lit(1).alias("ia"),
                      F.lit(0).alias("ib")))
        eb = (tp.join(bk.withColumnRenamed("id", "id_b"), "id_b")
              .select("id_a", "id_b", "hv", F.lit(0).alias("ia"),
                      F.lit(1).alias("ib")))
        g = (ea.unionByName(eb)
             .groupBy("id_a", "id_b", "hv")
             .agg(F.max("ia").alias("ia"), F.max("ib").alias("ib")))
        wp = Window.partitionBy("id_a", "id_b").orderBy("hv")
        r = g.withColumn("rn", F.row_number().over(wp))
        s = (r.groupBy("id_a", "id_b")
             .agg(F.sum(F.when((F.col("rn") <= k) & (F.col("ia") == 1)
                               & (F.col("ib") == 1), 1).otherwise(0))
                   .cast("long").alias("num"),
                  F.sum(F.when(F.col("rn") <= k, 1).otherwise(0))
                   .cast("long").alias("keff")))
        out = (s.join(tp, ["id_a", "id_b"])
               .select("id_a", "id_b", "true_e6",
                       F.expr("cast(num as decimal(38,0)) * 1000000"
                              " div keff").alias("est_e6"))
               .withColumn("err_e6", F.abs(F.col("est_e6")
                                           - F.col("true_e6"))))
        return p.result(out)


def bottomk_oracle_sql(k: int = BK_K, threshold: float = 0.2) -> str:
    """DuckDB twin of bottomk_estimate (same md5-int60 bottom-k, same
    KMV union estimator, // exact division). Assembled on the shared
    shingle/jaccard CTEs by the caller (needs `sh`, `sizes`, `freq`,
    `shf`, `common` in scope)."""
    return f"""
            bktp AS (
                SELECT id_a, id_b,
                       floor(n_common::DOUBLE
                             / (sa.n_sh + sb.n_sh - n_common)
                             * 1e6)::BIGINT AS true_e6
                FROM common
                JOIN sizes sa ON sa.id = id_a
                JOIN sizes sb ON sb.id = id_b
                WHERE n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common)
                      >= {threshold}
            ),
            bkh AS (
                SELECT id, hv FROM (
                    SELECT id,
                           ('0x' || substr(md5(shingle), 1, 15))::BIGINT
                               AS hv,
                           row_number() OVER (
                               PARTITION BY id
                               ORDER BY ('0x' || substr(md5(shingle),
                                                        1, 15))::BIGINT)
                               AS rn
                    FROM sh
                ) WHERE rn <= {k}
            ),
            bke AS (
                SELECT p.id_a, p.id_b, b.hv, 1 AS ia, 0 AS ib
                FROM bktp p JOIN bkh b ON b.id = p.id_a
                UNION ALL
                SELECT p.id_a, p.id_b, b.hv, 0, 1
                FROM bktp p JOIN bkh b ON b.id = p.id_b
            ),
            bkg AS (
                SELECT id_a, id_b, hv, max(ia) AS ia, max(ib) AS ib
                FROM bke GROUP BY id_a, id_b, hv
            ),
            bkr AS (
                SELECT *, row_number() OVER (PARTITION BY id_a, id_b
                                             ORDER BY hv) AS rn
                FROM bkg
            ),
            bks AS (
                SELECT id_a, id_b,
                       sum(CASE WHEN rn <= {k} AND ia = 1 AND ib = 1
                                THEN 1 ELSE 0 END)::BIGINT AS num,
                       sum(CASE WHEN rn <= {k} THEN 1 ELSE 0 END)::BIGINT
                           AS keff
                FROM bkr GROUP BY id_a, id_b
            )
            SELECT s.id_a, s.id_b, true_e6,
                   (num::HUGEINT * 1000000 // keff)::BIGINT AS est_e6,
                   abs((num::HUGEINT * 1000000 // keff)::BIGINT
                       - true_e6) AS err_e6
            FROM bks s JOIN bktp USING (id_a, id_b)
    """
