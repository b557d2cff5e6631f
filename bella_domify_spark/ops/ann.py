"""Similarity search over embedding columns (array<float>).

- ``cosine_topk`` — exact brute-force top-k: broadcast the (small) query set,
  dot products via ``F.zip_with`` + ``F.aggregate`` (JVM, no Python), rank
  with a window. The baseline path; exact, SQL-mirrorable.
Precondition (all operators): embedding vectors are non-zero — cosine
normalization divides by the norm, which under Spark's ANSI mode raises
DIVIDE_BY_ZERO for an all-zero vector (the same row would poison any
cosine index); filter degenerate vectors upstream (`aggregate(v,0,(a,x)->
a+x*x) > 0`) if the corpus can contain them.

- ``lsh_topk`` — the scale path: random-hyperplane LSH. Hyperplanes are
  generated deterministically (numpy seed) on the driver and broadcast as a
  literal; bucket assignment is an Arrow-vectorized pandas UDF (one matmul
  per batch); candidates are scored only within matching buckets, with
  multi-probe via several independent tables. At 10^9+ vectors the
  bucket join replaces the O(n·q) crossJoin.
"""

from __future__ import annotations

from typing import List, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F, types as T

from bella_domify_spark.ops.dedup import _widen
from bella_domify_spark.ops.pins import Pins, materialize


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def _norm(a):
    return F.sqrt(_dot(a, a))


def cosine_topk(vectors: DataFrame, queries: DataFrame, k: int = 5,
                id_col: str = "vec_id", vec_col: str = "embedding",
                q_id_col: str = "q_id", q_vec_col: str = "q_vec") -> DataFrame:
    """Exact top-k by cosine for each query vector (queries must be small —
    they are broadcast). Ties broken by vec_id for determinism."""
    j = _widen(vectors).crossJoin(F.broadcast(queries))
    scored = j.select(
        F.col(q_id_col),
        F.col(id_col),
        (_dot(F.col(vec_col), F.col(q_vec_col)) /
         (_norm(F.col(vec_col)) * _norm(F.col(q_vec_col)))).alias("cosine"),
    )
    w = Window.partitionBy(q_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(q_id_col, id_col, F.round("cosine", 6).alias("cosine"), "rank"))


def train_centroids(vectors: DataFrame, n_centroids: int = 8, iters: int = 4,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    sample_fraction: Optional[float] = None) -> DataFrame:
    """Lloyd's k-means producing an IVF centroid table (c_id, c_vec).

    Seeds with the ``n_centroids`` lowest-id vectors (deterministic), then
    iterates broadcast-assign → per-list mean. Each iteration costs one
    broadcast join (map-side, no shuffle of the big table) plus one
    aggregation shuffle keyed by list id; the centroid set itself stays
    driver-resident-tiny. At 100 TB you'd train on a sample — pass
    ``sample_fraction`` to push a deterministic-seed ``sample()`` into the
    scan — and the full-corpus assignment still happens once, inside
    ``ivf_topk``. Empty lists keep their previous centroid (standard Lloyd
    degenerate-cluster handling)."""
    src = vectors.select(F.col(id_col).alias("_id"),
                         F.col(vec_col).cast("array<double>").alias("_v"))
    if sample_fraction is not None:
        src = src.sample(fraction=sample_fraction, seed=7)
    with Pins() as p:
        src = p.pin(_widen(src))
        seed_pd = src.orderBy(F.asc("_id")).limit(n_centroids).select("_v").toPandas()
        mat = np.array(seed_pd["_v"].tolist(), dtype="float64")
        spark = vectors.sparkSession
        for _ in range(iters):
            bc = spark.createDataFrame(
                [(int(i), [float(x) for x in mat[i]]) for i in range(len(mat))],
                "c_id int, c_vec array<double>")
            j = src.crossJoin(F.broadcast(bc))
            scored = j.select(
                "_id", "_v", "c_id",
                (_dot(F.col("_v"), F.col("c_vec")) /
                 (_norm(F.col("_v")) * _norm(F.col("c_vec")))).alias("s"))
            w = Window.partitionBy("_id").orderBy(F.desc("s"), F.asc("c_id"))
            assigned = (scored.withColumn("r", F.row_number().over(w))
                        .filter(F.col("r") == 1).select("c_id", "_v"))
            # per-list elementwise mean: posexplode → (c_id, pos) avg → re-pack.
            # Rows fan out ×dim but each is (int,int,double) — the narrow shape
            # shuffles far less than the fat vectors would.
            means = (assigned.select("c_id", F.posexplode("_v").alias("pos", "x"))
                     .groupBy("c_id", "pos").agg(F.avg("x").alias("m"))
                     .groupBy("c_id")
                     .agg(F.array_sort(F.collect_list(F.struct("pos", "m")))
                          .alias("pm"))
                     .select("c_id", F.transform("pm", lambda s: s["m"])
                             .alias("c_vec")))
            for row in means.collect():  # n_centroids rows — driver-tiny
                mat[row["c_id"]] = np.array(row["c_vec"], dtype="float64")
    return spark.createDataFrame(
        [(int(i), [float(x) for x in mat[i]]) for i in range(len(mat))],
        "c_id int, c_vec array<double>")


def kmeans_assign(vectors: DataFrame, n_clusters: int = 8, iters: int = 2,
                  id_col: str = "vec_id", vec_col: str = "embedding",
                  scale: int = 1_000_000) -> DataFrame:
    """Distributed Lloyd's k-means with INTEGER-EXACT arithmetic — the
    oracle-twinnable sibling of ``train_centroids`` (which stays in float
    space and is documented as unoracled): embeddings quantize to
    floor(x·scale) BIGINT once, distances are integer squared-euclidean,
    and centroid updates are elementwise truncating integer means
    (``div`` ≡ DuckDB ``//``, both toward zero), so every iteration is
    bit-reproducible across engines, partitionings and scale factors —
    an iterative algorithm under the same exact-hash gate as the
    relational queries. Seeds = the ``n_clusters`` lowest-id vectors
    (c_id in id order); ties to the smallest c_id; empty clusters keep
    their previous centroid. Output: (vec_id, cluster_id, dist2) under
    the final centroids.

    Scale: the centroid table is aggregate-sized and BROADCAST every
    iteration — assignment is a map-side zip_with/aggregate over the
    big side (no shuffle, no Python); the update is one narrow
    (c_id, pos) aggregation with map-side combine (rows fan ×dim but
    carry 3 ints). The whole loop never collects vectors to the driver;
    plan depth grows linearly in ``iters`` (fixed and small — a
    production run at higher iters would localCheckpoint between
    rounds, the connected_components discipline)."""
    # NULL vectors are dropped (the SQL twin's positional explode drops
    # them implicitly; without this filter Spark would emit a NULL-dist2
    # row and diverge)
    q = vectors.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col).cast("array<double>"),
                    lambda x: F.floor(x * F.lit(float(scale))).cast("long"))
        .alias("v"))
    # centroids live as driver-side LITERALS (k·dim ints — the same k rows
    # train_centroids already collects): assignment is then a pure
    # map-side projection instead of the former k× crossJoin fan-out +
    # per-id window, which shuffled k·n fat vector rows EVERY iteration
    # (guide §2.4: remove the shuffle outright; §3.1 taken to its limit —
    # the small side rides the plan). Every downstream consumer
    # (semdedup, ivf_balance, cluster_label_mi) inherits the flat
    # assignment plan; measured at sf0.1: ivf_balance 3.0 → 2.3 s,
    # cluster_label_mi 7.6 → 3.0 s. Arithmetic is unchanged (same
    # zip_with integer squared-L2, same tie-break), so the output is
    # bit-identical to the former plan and the oracle.
    def assigned():
        """(id, v, mn=(d: dist2, c: c_id)) under the current literal
        centroids. The whole argmin is ONE fixed-shape expression:
        ``array_min(transform(<2-D centroid literal>, (c, i) ->
        (d2(v, c), i)))`` — struct ordering compares d first then the
        index, exactly the former (dist2 ASC, c_id ASC) window tie rule.
        Two deliberate shapes here, both measured at sf0.1:
        - the centroids ride as a SINGLE complex-typed literal (a codegen
          reference object), so the generated source is identical across
          iterations and invocations — per-element primitive literals
          re-janino-compile every centroid update (6-13 s/pass vs 0.4 s);
        - the d2 aggregates live inside one expression, so CollapseProject
          cannot multiply their evaluation across consumer references
          (per-centroid columns + least()/CASE re-evaluated them ~6×)."""
        cl = F.lit([[int(x) for x in c] for c in cents]) \
            .cast("array<array<bigint>>")
        mn = F.array_min(F.transform(cl, lambda c, i: F.struct(
            F.aggregate(F.zip_with(F.col("v"), c,
                                   lambda a, b: (a - b) * (a - b)),
                        F.lit(0).cast("long"),
                        lambda acc, x: acc + x).alias("d"),
            i.alias("c"))))
        return q.select("id", "v", mn.alias("mn"))

    # pin the quantized vectors for the loop's iters+1 passes (seed +
    # one means job per iteration); released before returning, so the
    # consumer's final plan recomputes the narrow scan+quantize once
    with Pins() as p:
        q = p.pin(q)
        seed_rows = sorted(q.orderBy("id").limit(n_clusters).collect(),
                           key=lambda r: r["id"])
        cents = [list(r["v"]) for r in seed_rows]
        for _ in range(iters):
            means = (assigned()
                     .select(F.col("mn.c").alias("c_id"),
                             F.posexplode("v").alias("pos", "x"))
                     .groupBy("c_id", "pos")
                     .agg(F.expr("sum(x) div count(1)").alias("m"))
                     .groupBy("c_id")
                     .agg(F.array_sort(F.collect_list(F.struct("pos", "m")))
                          .alias("pm"))
                     .select("c_id",
                             F.transform("pm", lambda s: s["m"]).alias("cnew"))
                     .collect())  # k rows of k·dim ints — driver-tiny
            new = {r["c_id"]: list(r["cnew"]) for r in means}
            # empty clusters keep their previous centroid (standard Lloyd)
            cents = [new.get(i, cents[i]) for i in range(len(cents))]
    return (assigned()
            .select(F.col("id").alias(id_col),
                    F.col("mn.c").cast("long").alias("cluster_id"),
                    F.col("mn.d").alias("dist2")))


def ivf_topk(vectors: DataFrame, queries: DataFrame, k: int = 5,
             id_col: str = "vec_id", vec_col: str = "embedding",
             q_id_col: str = "q_id", q_vec_col: str = "q_vec",
             n_centroids: int = 8, n_probe: int = 2,
             centroids: Optional[DataFrame] = None) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) index: every vector is
    assigned to its nearest centroid's list; a query scores only the lists
    of its ``n_probe`` nearest centroids.

    ``centroids`` (a (c_id, c_vec array<double>) DataFrame, e.g. from
    ``train_centroids``) controls recall; when omitted, the ``n_centroids``
    lowest-id vectors seed the lists — a one-pass deterministic choice (no
    k-means iterations) that keeps the default operator SQL-twinnable. The
    plan shape is identical either way. At scale: the centroid set is tiny
    and broadcast, assignment is a map-side broadcast join (no shuffle of
    the big side beyond the final list-id co-location), and query-time work
    is an equality join on list_id — candidates shrink by ~n_probe/
    n_centroids versus brute force."""
    if centroids is not None:
        cents = centroids.select(F.col("c_id"),
                                 F.col("c_vec").cast("array<double>")
                                 .alias("c_vec"))
    else:
        cents = (vectors.orderBy(F.asc(id_col)).limit(n_centroids)
                 .select(F.col(id_col).alias("c_id"),
                         F.col(vec_col).cast("array<double>").alias("c_vec")))

    def nearest(df, in_id, in_vec, out_id, n_keep):
        j = df.crossJoin(F.broadcast(cents))
        scored = j.select(
            F.col(in_id), F.col(in_vec), F.col("c_id"),
            (_dot(F.col(in_vec), F.col("c_vec")) /
             (_norm(F.col(in_vec)) * _norm(F.col("c_vec")))).alias("c_score"))
        w = Window.partitionBy(in_id).orderBy(F.desc("c_score"), F.asc("c_id"))
        return (scored.withColumn("c_rank", F.row_number().over(w))
                .filter(F.col("c_rank") <= n_keep)
                .select(in_id, in_vec, F.col("c_id").alias(out_id)))

    v_lists = nearest(_widen(vectors).select(id_col, F.col(vec_col)
                                             .cast("array<double>").alias(vec_col)),
                      id_col, vec_col, "list_id", 1)
    q_lists = nearest(queries.select(q_id_col, F.col(q_vec_col)
                                     .cast("array<double>").alias(q_vec_col)),
                      q_id_col, q_vec_col, "list_id", n_probe)

    cand = v_lists.join(F.broadcast(q_lists), "list_id").select(
        q_id_col, q_vec_col, id_col, vec_col).distinct()
    scored = cand.select(
        F.col(q_id_col), F.col(id_col),
        (_dot(F.col(vec_col), F.col(q_vec_col)) /
         (_norm(F.col(vec_col)) * _norm(F.col(q_vec_col)))).alias("cosine"))
    w = Window.partitionBy(q_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(q_id_col, id_col, F.round("cosine", 6).alias("cosine"), "rank"))


def make_planes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    return np.random.RandomState(seed).normal(size=(n_planes, dim)).astype("float64")


def embedding_near_dups(vectors: DataFrame, threshold: float = 0.95,
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        n_planes: int = 12, n_tables: int = 4, dim: int = 64,
                        seed: int = 42) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: candidates from hyperplane-LSH
    bucket collisions (any table), verified by exact cosine ≥ threshold.

    The scale path for semantic dedup over billions of embeddings: the
    bucket join is an equality shuffle (no crossJoin anywhere); recall
    grows with n_tables, and near-identical vectors collide in every
    table. Same seeded hyperplanes as ``lsh_topk`` so the DuckDB oracle
    reproduces the candidate set exactly."""
    planes = [make_planes(dim, n_planes, seed + t) for t in range(n_tables)]

    def bucketize(vec_series: pd.Series) -> pd.DataFrame:
        mat = np.stack(vec_series.to_numpy())
        out = {}
        for t, pl in enumerate(planes):
            signs = (mat @ pl.T) > 0
            out[f"b{t}"] = signs.dot(1 << np.arange(n_planes)).astype("int64")
        return pd.DataFrame(out)

    bucket_type = T.StructType([T.StructField(f"b{t}", T.LongType())
                                for t in range(n_tables)])
    bucket_udf = F.pandas_udf(bucketize, bucket_type)

    v = (_widen(vectors)
         .select(id_col, F.col(vec_col).cast("array<double>").alias("e"))
         .withColumn("_b", bucket_udf(F.col("e"))))
    tables = F.explode(F.array(*[
        F.struct(F.lit(t).alias("t"), F.col(f"_b.b{t}").alias("bucket"))
        for t in range(n_tables)])).alias("tb")
    banded = v.select(id_col, "e", tables).select(id_col, "e", "tb.t", "tb.bucket")

    a = banded.select(F.col(id_col).alias("id_a"), F.col("e").alias("e_a"),
                      "t", "bucket")
    b = banded.select(F.col(id_col).alias("id_b"), F.col("e").alias("e_b"),
                      "t", "bucket")
    cand = (a.join(b, ["t", "bucket"])
             .filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b", "e_a", "e_b").distinct())
    return (cand
            .withColumn("cosine",
                        _dot(F.col("e_a"), F.col("e_b")) /
                        (_norm(F.col("e_a")) * _norm(F.col("e_b"))))
            .filter(F.col("cosine") >= threshold)
            .select("id_a", "id_b", F.round("cosine", 6).alias("cosine")))


def planes_values_sql(dim: int = 64, n_planes: int = 12, n_tables: int = 4,
                      seed: int = 42) -> str:
    """The SAME hyperplane coefficients as ``lsh_topk`` uses, rendered as a
    DuckDB VALUES table ``coefs(t, p, d, c)`` so the oracle can reproduce
    bucket assignment exactly (sign mismatch would need |dot| ≲ 1e-13)."""
    rows = []
    for t in range(n_tables):
        pl = make_planes(dim, n_planes, seed + t)
        for p in range(n_planes):
            for d in range(dim):
                rows.append(f"({t},{p},{d},{float(pl[p, d])!r})")
    return "(VALUES " + ",".join(rows) + ") AS coefs(t, p, d, c)"


def lsh_topk(vectors: DataFrame, queries: DataFrame, k: int = 5,
             id_col: str = "vec_id", vec_col: str = "embedding",
             q_id_col: str = "q_id", q_vec_col: str = "q_vec",
             n_planes: int = 12, n_tables: int = 4, dim: int = 64,
             seed: int = 42) -> DataFrame:
    """Approximate top-k: sign-of-dot-product bucket per hash table; score
    only bucket-collision candidates. Recall grows with n_tables."""
    planes = [make_planes(dim, n_planes, seed + t) for t in range(n_tables)]

    def bucketize(vec_series: pd.Series) -> pd.DataFrame:
        mat = np.stack(vec_series.to_numpy())  # (batch, dim)
        out = {}
        for t, pl in enumerate(planes):
            signs = (mat @ pl.T) > 0  # (batch, n_planes)
            out[f"b{t}"] = signs.dot(1 << np.arange(n_planes)).astype("int64")
        return pd.DataFrame(out)

    bucket_type = T.StructType([T.StructField(f"b{t}", T.LongType())
                                for t in range(n_tables)])
    bucket_udf = F.pandas_udf(bucketize, bucket_type)

    v = _widen(vectors).withColumn(
        "_b", bucket_udf(F.col(vec_col).cast("array<double>")))
    q = queries.withColumn("_qb", bucket_udf(F.col(q_vec_col).cast("array<double>")))

    tables = F.explode(F.array(*[
        F.struct(F.lit(t).alias("t"), F.col(f"_b.b{t}").alias("bucket"))
        for t in range(n_tables)])).alias("tb")
    v_b = v.select(id_col, vec_col, tables).select(
        id_col, vec_col, "tb.t", "tb.bucket")
    q_tables = F.explode(F.array(*[
        F.struct(F.lit(t).alias("t"), F.col(f"_qb.b{t}").alias("bucket"))
        for t in range(n_tables)])).alias("tb")
    q_b = q.select(q_id_col, q_vec_col, q_tables).select(
        q_id_col, q_vec_col, "tb.t", "tb.bucket")

    cand = (v_b.join(F.broadcast(q_b), ["t", "bucket"])
            .select(q_id_col, q_vec_col, id_col, vec_col).distinct())
    scored = cand.select(
        F.col(q_id_col), F.col(id_col),
        (_dot(F.col(vec_col), F.col(q_vec_col)) /
         (_norm(F.col(vec_col)) * _norm(F.col(q_vec_col)))).alias("cosine"))
    w = Window.partitionBy(q_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(q_id_col, id_col, F.round("cosine", 6).alias("cosine"), "rank"))


def dim_ablation_recall(vectors: DataFrame, queries: DataFrame,
                        k: int = 5, keep_dims: int = 32,
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        q_id_col: str = "q_id",
                        q_vec_col: str = "q_vec") -> DataFrame:
    """Matryoshka-style dimension ablation: per query, how many of the
    exact full-dimension cosine top-``k`` survive when BOTH sides are
    truncated to their first ``keep_dims`` components — the sizing
    readout for "can we store/search half the vector?" (Kusupati et al.
    2022 MRL). hits ≈ k means the truncated index is safe; a big drop
    means the tail dims carry real signal for this corpus.

    Scale notes: two :func:`cosine_topk` passes (queries broadcast; the
    corpus is scanned, never shuffled) — the truncation is a per-row
    ``slice``, free inside the same scan — and an integer join/aggregate
    over (queries × k)-sized frames.

    Output: (q_id, k, hits_trunc) — all-integer, exact-hash-safe.
    """
    full = cosine_topk(vectors, queries, k=k, id_col=id_col,
                       vec_col=vec_col, q_id_col=q_id_col,
                       q_vec_col=q_vec_col).select(q_id_col, id_col)
    tv = vectors.select(F.col(id_col),
                        F.slice(F.col(vec_col), 1, keep_dims)
                         .alias(vec_col))
    tq = queries.select(F.col(q_id_col),
                        F.slice(F.col(q_vec_col), 1, keep_dims)
                         .alias(q_vec_col))
    trunc = (cosine_topk(tv, tq, k=k, id_col=id_col, vec_col=vec_col,
                         q_id_col=q_id_col, q_vec_col=q_vec_col)
             .select(q_id_col, id_col).withColumn("in_t", F.lit(1)))
    return (full.join(trunc, [q_id_col, id_col], "left")
            .groupBy(q_id_col)
            .agg(F.count(F.lit(1)).alias("k"),
                 F.sum(F.coalesce(F.col("in_t"), F.lit(0))).cast("long")
                  .alias("hits_trunc")))


def embedding_outliers(vectors: DataFrame, k: int = 5,
                       id_col: str = "vec_id", vec_col: str = "embedding",
                       label_col: str = "label",
                       scale: int = 1_000_000) -> DataFrame:
    """Mislabel/drift screening for an embedding table: the ``k`` vectors
    FARTHEST from their own label's centroid, per label — the vectors a
    curation pass sends for re-annotation. Integer-exact like
    kmeans_assign: floor-e6 quantization, truncating integer centroid
    means, BIGINT squared distances; ties broken by smallest id.

    Scale notes: the per-label centroid table is aggregate-sized
    (labels × dim from ONE map-side-combined (label, pos) aggregation)
    and broadcasts onto the corpus; distance is a zip_with/aggregate fold
    inside codegen (no shuffle of the vectors); the final top-k ranks
    inside label partitions bounded by label cardinality's skew — at
    100 TB a hot label's window sort is the floor, and the rank-k filter
    pushes as TakeOrdered-per-label work, never a global sort.

    Ragged guard: zip_with pads length-mismatched arrays with NULL (a
    zero-length embedding would yield NULL dist2) while the UNNEST-join
    oracle simply drops such vectors — size(v) > 0 keeps both engines on
    the same vector set.
    """
    q = (vectors.filter(F.col(vec_col).isNotNull()
                        & (F.size(F.col(vec_col)) > 0)
                        & F.col(label_col).isNotNull())
         .select(F.col(id_col).alias("id"),
                 F.col(label_col).cast("long").alias("lbl"),
                 F.transform(F.col(vec_col).cast("array<double>"),
                             lambda x: F.floor(x * F.lit(float(scale)))
                             .cast("long")).alias("v")))
    cents = (q.select("lbl", F.posexplode("v").alias("pos", "x"))
             .groupBy("lbl", "pos")
             .agg(F.expr("sum(x) div count(1)").alias("m"))
             .groupBy("lbl")
             .agg(F.array_sort(F.collect_list(F.struct("pos", "m")))
                  .alias("pm"))
             .select("lbl", F.transform("pm", lambda s: s["m"]).alias("c")))
    d2 = F.aggregate(
        F.zip_with("v", "c", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    w = Window.partitionBy("lbl").orderBy(F.desc("dist2"), F.asc("id"))
    return (q.join(F.broadcast(cents), "lbl")
            .select("id", "lbl", d2.alias("dist2"))
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k)
            .select(F.col("id").alias(id_col), F.col("lbl").alias("label"),
                    "dist2", "rnk"))


def hard_negatives(vectors: DataFrame, n_queries: int = 8,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   label_col: str = "label",
                   scale: int = 1_000_000) -> DataFrame:
    """Contrastive hard-negative mining: for each of the ``n_queries``
    lowest-id vectors, the nearest vector with a DIFFERENT label — the
    negatives that actually move an embedding model. Exact brute force
    over a broadcast query set (the documented baseline; the LSH/IVF
    bucketed paths in this module are the 100 TB candidate generators,
    after which this same exact scoring verifies candidates). Integer
    floor-e6 distances; ties broken by smallest candidate id. Zero-length
    embeddings are dropped (zip_with NULL-padding guard, see
    embedding_outliers).
    """
    q = (vectors.filter(F.col(vec_col).isNotNull()
                        & (F.size(F.col(vec_col)) > 0)
                        & F.col(label_col).isNotNull())
         .select(F.col(id_col).alias("id"),
                 F.col(label_col).cast("long").alias("lbl"),
                 F.transform(F.col(vec_col).cast("array<double>"),
                             lambda x: F.floor(x * F.lit(float(scale)))
                             .cast("long")).alias("v")))
    qs = (q.orderBy("id").limit(n_queries)
          .select(F.col("id").alias("q_id"), F.col("lbl").alias("q_lbl"),
                  F.col("v").alias("qv")))
    d2 = F.aggregate(
        F.zip_with("v", "qv", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    w = Window.partitionBy("q_id").orderBy(F.asc("dist2"), F.asc("id"))
    return (q.crossJoin(F.broadcast(qs))
            .filter(F.col("lbl") != F.col("q_lbl"))
            .select("q_id", "id", d2.alias("dist2"))
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") == 1)
            .select("q_id", F.col("id").alias("neg_id"), "dist2"))


def semdedup_prune(vectors: DataFrame, n_clusters: int = 8, iters: int = 2,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   scale: int = 1_000_000) -> DataFrame:
    """SemDeDup (Abbas et al., 2023): semantic deduplication by k-means
    bucketing + within-cluster exact cosine pruning — the third member of
    the embedding-dedup family (hyperplane-LSH `embedding_near_dups`
    buckets by random projection; this buckets by learned cluster
    structure, the shape the paper showed removes 2-4× more semantic
    duplicates at equal recall).

    Rule: a vector is PRUNED when some SAME-CLUSTER mate with a smaller
    id has cosine similarity ≥ 0.95 (one deterministic pass; the paper's
    keep-policy choice is orthogonal and min-id is this repo's dedup
    convention). Cosine is integer-exact: quantized BIGINT vectors, and
    ``cos ≥ 0.95 ⇔ dot > 0 ∧ 400·dot² ≥ 361·|a|²·|b|²`` — the squared
    comparison runs in DECIMAL(38,0) (HUGEINT oracle-side), no float.

    Scale notes (100 TB): the pair generator is a CLUSTER-equality
    self-join — quadratic only in cluster size, which production bounds
    by scaling n_clusters with the corpus (SemDeDup uses 50k clusters
    for LAION; cluster size ≈ n/k stays ~constant). The k-means loop is
    kmeans_assign (broadcast centroids, no vector shuffle); norms reduce
    once per vector. Nothing collects.

    Output: (vec_id, cluster_id, keep) for every non-NULL vector.
    """
    # eager checkpoint: the assignment feeds FOUR consumers (both pair
    # sides, the norms join, the final keep join) — without truncation
    # each re-runs the k-means loop (measured at sf0.1: 8.9 -> 7.6 s;
    # the remaining floor IS one kmeans_assign at ~4-5 s plus the pair
    # stage). Same discipline as pagerank's materialized ranks; the
    # table is (id, cluster) — row-count-sized, never the vectors.
    assign = (kmeans_assign(vectors, n_clusters=n_clusters, iters=iters,
                            id_col=id_col, vec_col=vec_col, scale=scale)
              .select(F.col(id_col).alias("id"), "cluster_id")
              .transform(materialize))
    q = vectors.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col).cast("array<double>"),
                    lambda x: F.floor(x * F.lit(float(scale))).cast("long"))
        .alias("v"))
    # n2 rides the same projection as v (one HOF per row) instead of a
    # separate norms table joined back by id — that join re-shuffled the
    # quantized vectors a second time for a value computable in place
    # (guide §2.4); same expression, bit-identical output
    qn = q.select(
        "id", "v",
        F.aggregate(F.transform("v", lambda x: x * x),
                    F.lit(0).cast("long"), lambda acc, x: acc + x)
         .alias("n2"))
    x = assign.join(qn, "id")
    a = x.select(F.col("id").alias("id_a"), F.col("cluster_id").alias("c"),
                 F.col("v").alias("va"), F.col("n2").alias("n2a"))
    b = x.select(F.col("id").alias("id_b"), F.col("cluster_id").alias("c"),
                 F.col("v").alias("vb"), F.col("n2").alias("n2b"))
    dot = F.aggregate(F.zip_with("va", "vb", lambda p, r: p * r),
                      F.lit(0).cast("long"), lambda acc, p: acc + p)
    pairs = (a.join(b, "c")
             .filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b", "n2a", "n2b", dot.alias("dot")))
    # 0.95^2 = 361/400 exact; dot^2 and n2a*n2b overflow int64 at 64-dim
    # e6-quantized vectors (~4e27) -> DECIMAL(38,0)
    dup = (pairs.filter(
               (F.col("dot") > 0)
               & (F.lit(400) * F.col("dot").cast("decimal(19,0)")
                  * F.col("dot").cast("decimal(19,0)")
                  >= F.lit(361) * F.col("n2a").cast("decimal(19,0)")
                  * F.col("n2b").cast("decimal(19,0)")))
           .select(F.col("id_b").alias("id")).distinct())
    return (assign.join(dup.withColumn("is_dup", F.lit(1)), "id", "left")
            .select(F.col("id").alias(id_col), "cluster_id",
                    F.when(F.col("is_dup").isNull(), 1).otherwise(0)
                     .cast("int").alias("keep")))


def pq_codes(vectors: DataFrame, m: int = 4, k_sub: int = 16,
             dim: int = 64, id_col: str = "vec_id",
             vec_col: str = "embedding",
             scale: int = 1_000_000) -> DataFrame:
    """Product quantization (Jégou et al., PAMI'11) — the compression
    half of the billion-scale ANN stack (ivf_topk routes, PQ codes shrink
    the residency ~dim·4B → m bytes): split each embedding into ``m``
    sub-blocks and code each block as its nearest of ``k_sub``
    sub-centroids, integer-exact like kmeans_assign (floor-e6
    quantization, integer squared-L2, (d2, c_id) tie-break).

    Codebook = the sub-blocks of the ``k_sub`` lowest-id vectors (the
    kmeans_assign seeding rule, iterated zero times): the oracle equality
    proves the ASSIGNMENT algebra — codebook refinement is orthogonal
    (production trains each block's codebook with kmeans_assign on the
    block slice and feeds it in unchanged).

    Plan: the codebook is m·k_sub rows — broadcast; assignment is one
    map-side join + a (d2, c_id) struct-min aggregate that partial-
    combines per (vector, block) — no window, no shuffle of the vectors
    beyond the final per-id pivot. Vectors failing the ``dim`` guard are
    excluded (ragged/empty embeddings would zip_with-pad to NULL and
    silently diverge from the oracle's positional join — the
    embedding_outliers lesson).

    Output: (vec_id, code0..code{m-1}, dist2) with dist2 the total
    squared reconstruction error in the e6-quantized grid.
    """
    sub = dim // m
    q = (vectors.filter(F.col(vec_col).isNotNull()
                        & (F.size(vec_col) == dim))
         .select(F.col(id_col).alias("id"),
                 F.transform(F.col(vec_col).cast("array<double>"),
                             lambda x: F.floor(x * F.lit(float(scale)))
                                        .cast("long")).alias("v")))
    seeds = (q.orderBy("id").limit(k_sub)
             .withColumn("c_id",
                         (F.row_number().over(Window.orderBy("id")) - 1)
                         .cast("long")))
    slicer = (f"transform(sequence(0, {m - 1}),"
              f" b -> struct(b AS block,"
              f" slice(v, b * {sub} + 1, {sub}) AS bv))")
    cb = (seeds.select("c_id", F.explode(F.expr(slicer)).alias("s"))
               .select(F.col("s.block").alias("block"), "c_id",
                       F.col("s.bv").alias("cv")))
    blocks = (q.select("id", F.explode(F.expr(slicer)).alias("s"))
               .select("id", F.col("s.block").alias("block"),
                       F.col("s.bv").alias("bv")))
    d2 = F.aggregate(
        F.zip_with("bv", "cv", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    scored = (blocks.join(F.broadcast(cb), "block")
                    .select("id", "block", "c_id", d2.alias("d2")))
    best = (scored.groupBy("id", "block")
                  .agg(F.min(F.struct("d2", "c_id")).alias("w")))
    pivots = [F.max(F.when(F.col("block") == i, F.col("w.c_id")))
               .alias(f"code{i}") for i in range(m)]
    return (best.groupBy("id")
                .agg(*pivots, F.sum("w.d2").alias("dist2"))
                .select(F.col("id").alias(id_col),
                        *[f"code{i}" for i in range(m)], "dist2"))


def pq_oracle_sql(m: int = 4, k_sub: int = 16, dim: int = 64,
                  scale: int = 1_000_000) -> str:
    """DuckDB twin of pq_codes (kept beside the Spark code so the
    codebook seeding and assignment rules cannot drift)."""
    sub = dim // m
    code_cols = ",\n               ".join(
        f"max(CASE WHEN block = {i} THEN code END)::BIGINT AS code{i}"
        for i in range(m))
    return f"""
        WITH q AS (
            SELECT vec_id AS id,
                   list_transform(embedding,
                       x -> floor(x::DOUBLE * {float(scale)})::BIGINT) AS v
            FROM embeddings
            WHERE embedding IS NOT NULL AND len(embedding) = {dim}
        ), seeds AS (
            SELECT id, v, row_number() OVER (ORDER BY id) - 1 AS c_id
            FROM (SELECT id, v FROM q ORDER BY id LIMIT {k_sub})
        ), cb AS (
            SELECT b.bk AS block, c_id,
                   list_slice(v, b.bk * {sub} + 1, (b.bk + 1) * {sub}) AS cv
            FROM seeds, UNNEST(range(0, {m})) AS b(bk)
        ), blocks AS (
            SELECT id, b.bk AS block,
                   list_slice(v, b.bk * {sub} + 1, (b.bk + 1) * {sub}) AS bv
            FROM q, UNNEST(range(0, {m})) AS b(bk)
        ), scored AS (
            SELECT id, block, c_id,
                   list_sum(list_transform(range(1, {sub} + 1),
                       i -> (bv[i] - cv[i]) * (bv[i] - cv[i])))::BIGINT
                       AS d2
            FROM blocks JOIN cb USING (block)
        ), best AS (
            SELECT id, block, c_id AS code, d2,
                   row_number() OVER (PARTITION BY id, block
                                      ORDER BY d2, c_id) AS rn
            FROM scored
        )
        SELECT id AS vec_id,
               {code_cols},
               sum(d2)::BIGINT AS dist2
        FROM best WHERE rn = 1
        GROUP BY id
    """


def ivfpq_topk(vectors: DataFrame, queries: DataFrame, k: int = 5,
               n_lists: int = 8, n_probe: int = 2, m: int = 4,
               k_sub: int = 16, dim: int = 64,
               id_col: str = "vec_id", vec_col: str = "embedding",
               q_id_col: str = "q_id", q_vec_col: str = "q_vec",
               scale: int = 1_000_000) -> DataFrame:
    """IVF+PQ search — the two scale halves composed the way a
    billion-vector index actually runs (FAISS IVFPQ): IVF routing prunes
    the candidate set to ``n_probe`` of ``n_lists`` inverted lists, and
    the scan inside a list never touches the raw vectors — it sums
    per-block ASYMMETRIC distances (query sub-block vs the candidate's
    PQ code) from a query-local lookup table of m·k_sub entries.

    Integer-exact throughout (floor-e6 grid, squared L2, (d2, id)
    tie-breaks), so the whole composite sits under the exact-hash oracle
    gate. Centroids and codebooks are the deterministic lowest-id seeds
    (kmeans_assign's rule, zero iterations): the equality proves the
    ROUTING + ADC algebra; production feeds trained centroids in
    unchanged.

    Plan: centroids, codebooks, query probe lists and ADC tables are all
    aggregate-sized broadcasts; the vector table is touched exactly
    twice map-side (list assignment, PQ coding — both broadcast joins +
    partial-combining struct-min aggregates); candidate generation is an
    equality join on list_id; the ADC scan joins (query, candidate,
    block) rows that carry three ints each. At 100 TB the codes table
    would be written bucketed BY list_id so the probe join prunes
    partitions instead of shuffling — noted here because this operator
    is exactly what that layout decision is for.

    Output: (q_id, rank, vec_id, adc2) — top-``k`` per query by ADC
    distance, ties to the smaller vec_id.
    """
    sub = dim // m

    def _q(df, in_id, in_vec, out_id, out_vec):
        return (df.filter(F.col(in_vec).isNotNull()
                          & (F.size(in_vec) == dim))
                  .select(F.col(in_id).alias(out_id),
                          F.transform(F.col(in_vec).cast("array<double>"),
                                      lambda x: F.floor(
                                          x * F.lit(float(scale)))
                                      .cast("long")).alias(out_vec)))

    v = _q(vectors, id_col, vec_col, "id", "v")
    qs = _q(queries, q_id_col, q_vec_col, "qid", "qv")

    d2_full = F.aggregate(
        F.zip_with("v", "lv", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    ivf = (v.orderBy("id").limit(n_lists)
            .withColumn("l_id",
                        (F.row_number().over(Window.orderBy("id")) - 1)
                        .cast("long"))
            .select("l_id", F.col("v").alias("lv")))

    # vector -> its single nearest list (map-side: broadcast + struct-min)
    vlist = (v.crossJoin(F.broadcast(ivf))
              .select("id", "v", "l_id", d2_full.alias("d2"))
              .groupBy("id")
              .agg(F.min(F.struct("d2", "l_id")).alias("w"),
                   F.first("v").alias("v"))
              .select("id", "v", F.col("w.l_id").alias("list_id")))

    # PQ codebook (k_sub lowest-id vectors, per block) and vector codes
    seeds = (v.orderBy("id").limit(k_sub)
              .withColumn("c_id",
                          (F.row_number().over(Window.orderBy("id")) - 1)
                          .cast("long")))
    slicer = (f"transform(sequence(0, {m - 1}),"
              f" b -> struct(b AS block,"
              f" slice(v, b * {sub} + 1, {sub}) AS bv))")
    cb = (seeds.select("c_id", F.explode(F.expr(slicer)).alias("s"))
               .select(F.col("s.block").alias("block"), "c_id",
                       F.col("s.bv").alias("cv")))
    d2_sub = F.aggregate(
        F.zip_with("bv", "cv", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    codes = (vlist.select("id", "list_id",
                          F.explode(F.expr(slicer)).alias("s"))
                  .select("id", "list_id", F.col("s.block").alias("block"),
                          F.col("s.bv").alias("bv"))
                  .join(F.broadcast(cb), "block")
                  .select("id", "list_id", "block", "c_id",
                          d2_sub.alias("d2"))
                  .groupBy("id", "list_id", "block")
                  .agg(F.min(F.struct("d2", "c_id")).alias("w"))
                  .select("id", "list_id", "block",
                          F.col("w.c_id").alias("code")))

    # query probe lists (n_probe nearest IVF centroids) + ADC tables
    qd2_full = F.aggregate(
        F.zip_with("qv", "lv", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    wq = Window.partitionBy("qid").orderBy("d2", "l_id")
    probes = (qs.crossJoin(F.broadcast(ivf))
                .select("qid", "l_id", qd2_full.alias("d2"))
                .withColumn("r", F.row_number().over(wq))
                .filter(F.col("r") <= n_probe)
                .select("qid", F.col("l_id").alias("list_id")))
    qslicer = slicer.replace("slice(v,", "slice(qv,")
    qd2_sub = F.aggregate(
        F.zip_with("qbv", "cv", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    adc = (qs.select("qid", F.explode(F.expr(qslicer)).alias("s"))
             .select("qid", F.col("s.block").alias("block"),
                     F.col("s.bv").alias("qbv"))
             .join(F.broadcast(cb), "block")
             .select("qid", "block", F.col("c_id").alias("code"),
                     qd2_sub.alias("qd2")))

    # candidate scan: route by list, sum per-block table lookups
    cand = codes.join(F.broadcast(probes), "list_id")
    scored = (cand.join(F.broadcast(adc), ["qid", "block", "code"])
                  .groupBy("qid", "id")
                  .agg(F.sum("qd2").alias("adc2")))
    wk = Window.partitionBy("qid").orderBy("adc2", "id")
    return (scored.withColumn("rank",
                              F.row_number().over(wk).cast("long"))
                  .filter(F.col("rank") <= k)
                  .select(F.col("qid").alias(q_id_col), "rank",
                          F.col("id").alias(id_col), "adc2"))


def ivfpq_oracle_sql(k: int = 5, n_lists: int = 8, n_probe: int = 2,
                     m: int = 4, k_sub: int = 16, dim: int = 64,
                     scale: int = 1_000_000,
                     query_pred: str = "id < 8") -> str:
    """DuckDB twin of ivfpq_topk over the embeddings table (queries =
    rows matching ``query_pred``; kept beside the Spark code so the
    routing/ADC rules cannot drift)."""
    sub = dim // m
    d2 = (lambda a, b, n: f"list_sum(list_transform(range(1, {n} + 1), "
          f"j -> ({a}[j] - {b}[j]) * ({a}[j] - {b}[j])))::BIGINT")
    return f"""
        WITH q AS (
            SELECT vec_id AS id,
                   list_transform(embedding,
                       x -> floor(x::DOUBLE * {float(scale)})::BIGINT) AS v
            FROM embeddings
            WHERE embedding IS NOT NULL AND len(embedding) = {dim}
        ), qs AS (
            SELECT id AS qid, v AS qv FROM q WHERE {query_pred}
        ), ivf AS (
            SELECT row_number() OVER (ORDER BY id) - 1 AS l_id, v AS lv
            FROM (SELECT id, v FROM q ORDER BY id LIMIT {n_lists})
        ), va0 AS (
            SELECT q.id, q.v, i.l_id, {d2('v', 'lv', dim)} AS d2
            FROM q CROSS JOIN ivf i
        ), vlist AS (
            SELECT id, v, l_id AS list_id FROM (
                SELECT *, row_number() OVER (PARTITION BY id
                                             ORDER BY d2, l_id) AS rn
                FROM va0) WHERE rn = 1
        ), seeds AS (
            SELECT row_number() OVER (ORDER BY id) - 1 AS c_id, v
            FROM (SELECT id, v FROM q ORDER BY id LIMIT {k_sub})
        ), cb AS (
            SELECT b.bk AS block, c_id,
                   list_slice(v, b.bk * {sub} + 1, (b.bk + 1) * {sub}) AS cv
            FROM seeds, UNNEST(range(0, {m})) AS b(bk)
        ), vblocks AS (
            SELECT id, list_id, b.bk AS block,
                   list_slice(v, b.bk * {sub} + 1, (b.bk + 1) * {sub}) AS bv
            FROM vlist, UNNEST(range(0, {m})) AS b(bk)
        ), vcode0 AS (
            SELECT id, list_id, block, c_id, {d2('bv', 'cv', sub)} AS d2
            FROM vblocks JOIN cb USING (block)
        ), codes AS (
            SELECT id, list_id, block, c_id AS code FROM (
                SELECT *, row_number() OVER (PARTITION BY id, block
                                             ORDER BY d2, c_id) AS rn
                FROM vcode0) WHERE rn = 1
        ), qa0 AS (
            SELECT qid, l_id, {d2('qv', 'lv', dim)} AS d2
            FROM qs CROSS JOIN ivf
        ), probes AS (
            SELECT qid, l_id AS list_id FROM (
                SELECT *, row_number() OVER (PARTITION BY qid
                                             ORDER BY d2, l_id) AS rn
                FROM qa0) WHERE rn <= {n_probe}
        ), qblocks AS (
            SELECT qid, b.bk AS block,
                   list_slice(qv, b.bk * {sub} + 1, (b.bk + 1) * {sub})
                       AS qbv
            FROM qs, UNNEST(range(0, {m})) AS b(bk)
        ), adc AS (
            SELECT qid, block, c_id AS code, {d2('qbv', 'cv', sub)} AS qd2
            FROM qblocks JOIN cb USING (block)
        ), cand AS (
            SELECT p.qid, c.id, c.block, c.code
            FROM codes c JOIN probes p ON p.list_id = c.list_id
        ), sc AS (
            SELECT qid, id, sum(qd2)::BIGINT AS adc2
            FROM cand JOIN adc USING (qid, block, code)
            GROUP BY qid, id
        )
        SELECT q_id, rank, vec_id, adc2 FROM (
            SELECT qid AS q_id, id AS vec_id, adc2,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY adc2, id) AS rank
            FROM sc)
        WHERE rank <= {k}
    """


def sq_error(vectors: DataFrame, id_col: str = "vec_id",
             vec_col: str = "embedding",
             scale: int = 1_000_000) -> DataFrame:
    """Int8 scalar-quantization (SQ8) error report — the other half of
    embedding compression next to pq_codes: per dimension, learn the
    global [min, max] range, code each component to 0..255, and report
    each vector's exact reconstruction error. The readout that decides
    whether an index can store SQ8 (4× smaller than float32) without
    hurting recall; vectors with outsized sse are the ones SQ clips.

    Integer-exact end to end: components floor-e6 quantize to BIGINT
    first (the kmeans_assign discipline); the code is
    ``(x−mn)·255 div (mx−mn)``; the per-dim residual is computed at
    255× scale, ``e = 255·(x−mn) − code·(mx−mn)`` (0 ≤ e < mx−mn), so
    sse = Σe² is a BIGINT both engines agree on bit-for-bit.

    Scale notes: the per-dim range table is ONE map-side-combined
    (pos) aggregation of dim-count rows; it re-joins the corpus as a
    single-row broadcast of two arrays, and the error fold runs inside
    codegen — no shuffle of the vectors themselves. Ragged vectors
    (size ≠ the corpus-wide dim count) are excluded by the same rule on
    both engines.

    Output: (vec_id, n_dims, sse, max_err) at the scales above.
    """
    q = (vectors.filter(F.col(vec_col).isNotNull()
                        & (F.size(F.col(vec_col)) > 0))
         .select(F.col(id_col).alias("id"),
                 F.transform(F.col(vec_col).cast("array<double>"),
                             lambda x: F.floor(x * F.lit(float(scale)))
                             .cast("long")).alias("v")))
    dims = (q.select(F.posexplode("v").alias("pos", "x"))
            .groupBy("pos")
            .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
            .agg(F.count(F.lit(1)).cast("int").alias("n_dims"),
                 F.transform(
                     F.array_sort(F.collect_list(
                         F.struct("pos", "mn", "mx"))),
                     lambda s: s["mn"]).alias("mns"),
                 F.transform(
                     F.array_sort(F.collect_list(
                         F.struct("pos", "mn", "mx"))),
                     lambda s: s["mx"]).alias("mxs")))
    j = q.crossJoin(F.broadcast(dims)).filter(
        F.size("v") == F.col("n_dims"))
    err = F.expr("""
        transform(arrays_zip(v, mns, mxs),
                  s -> CASE WHEN s.mxs > s.mns
                            THEN 255L * (s.v - s.mns)
                                 - ((s.v - s.mns) * 255L div (s.mxs - s.mns))
                                   * (s.mxs - s.mns)
                            ELSE 0L END)
    """)
    return (j.select(F.col("id").alias("vec_id"), "n_dims",
                     err.alias("_e"))
            .select("vec_id", "n_dims",
                    F.aggregate("_e", F.lit(0).cast("long"),
                                lambda acc, x: acc + x * x).alias("sse"),
                    F.array_max("_e").cast("long").alias("max_err")))


def sq_error_oracle_sql(scale: int = 1_000_000) -> str:
    """DuckDB twin of sq_error (UNNEST-join physical strategy for the
    same integer algebra; `//` is div on BIGINTs)."""
    return f"""
        WITH q AS (
            SELECT vec_id AS id,
                   list_transform(embedding,
                       x -> floor(x::DOUBLE * {float(scale)!r})::BIGINT)
                       AS v
            FROM embeddings
            WHERE embedding IS NOT NULL AND len(embedding) > 0
        ), comp AS (
            SELECT id, u.i AS pos, v[u.i] AS x
            FROM q, UNNEST(range(1, len(v) + 1)) AS u(i)
        ), dims AS (
            SELECT pos, min(x) AS mn, max(x) AS mx
            FROM comp GROUP BY pos
        ), nd AS (SELECT count(*)::INT AS n_dims FROM dims
        ), e AS (
            SELECT comp.id, nd.n_dims,
                   CASE WHEN d.mx > d.mn
                        THEN 255 * (comp.x - d.mn)
                             - ((comp.x - d.mn) * 255 // (d.mx - d.mn))
                               * (d.mx - d.mn)
                        ELSE 0 END AS err
            FROM comp JOIN dims d USING (pos) CROSS JOIN nd
        ), sized AS (
            SELECT id FROM q CROSS JOIN nd WHERE len(v) = nd.n_dims
        )
        SELECT e.id AS vec_id, e.n_dims,
               sum(e.err * e.err)::BIGINT AS sse,
               max(e.err)::BIGINT AS max_err
        FROM e JOIN sized USING (id)
        GROUP BY e.id, e.n_dims
    """


KCENTER_K = 4


def kcenter_coreset(vectors: DataFrame, k: int = KCENTER_K,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    scale: int = 1_000_000) -> DataFrame:
    """Greedy k-center coreset selection (Gonzalez's 2-approximation —
    the farthest-point traversal every diversity-sampling / active-
    learning pipeline reaches for): pick the max-norm vector, then
    repeatedly pick the point FARTHEST from everything picked so far.
    The selected rows are the most mutually-distant exemplars, and the
    last pick's distance is (within 2×) the corpus's covering radius —
    the "how spread out is this embedding space?" number.

    Integer-exact under the kmeans_assign discipline: coordinates
    quantize ONCE to floor(x·scale) BIGINT, every distance is integer
    squared-euclidean, argmax ties break to the smallest id (and the
    seed is max integer norm², same tie rule) — bit-reproducible across
    engines and partitionings, no float anywhere after quantization.

    Scale: each of the k−1 rounds is ONE map-side pass over the vector
    table against a BROADCAST ≤k-row center table (no shuffle of the
    big side) followed by a distributed top-1 (TakeOrderedAndProject).
    k is small and fixed; plan depth grows linearly (a production run
    at large k would localCheckpoint between rounds — the
    connected_components discipline).

    Output: (sel_idx, vec_id, d2_pick) — d2_pick is the greedy
    objective at pick time (norm² for the seed, min-dist² to the
    already-picked set for the rest).
    """
    q = vectors.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col).cast("array<double>"),
                    lambda x: F.floor(x * F.lit(float(scale)))
                    .cast("long")).alias("v"))
    norm2 = F.aggregate("v", F.lit(0).cast("long"),
                        lambda acc, x: acc + x * x)
    seed = (q.select("id", "v", norm2.alias("d2"))
            .orderBy(F.desc("d2"), F.asc("id")).limit(1)
            .select(F.lit(0).alias("sel_idx"), "id", "v", "d2"))
    centers = seed
    for r in range(1, k):
        c = centers.select(F.col("id").alias("cid"),
                           F.col("v").alias("cv"))
        d2 = F.aggregate(
            F.zip_with("v", "cv", lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"), lambda acc, x: acc + x)
        top = (q.crossJoin(F.broadcast(c))
               .select("id", d2.alias("dc"))
               .groupBy("id").agg(F.min("dc").alias("d2"))
               .orderBy(F.desc("d2"), F.asc("id")).limit(1))
        pick = (top.join(q, "id")
                .select(F.lit(r).alias("sel_idx"), "id", "v", "d2"))
        centers = centers.unionByName(pick)
    return centers.select("sel_idx", F.col("id").alias("vec_id"),
                          F.col("d2").alias("d2_pick"))


def kcenter_oracle_sql(k: int = KCENTER_K,
                       scale: int = 1_000_000) -> str:
    """DuckDB twin of kcenter_coreset: quantized positional explode
    (the kmeans_ctes pattern), then k−1 unrolled greedy rounds — each a
    distance CTE against the accumulated center set, a DESC/id-asc
    top-1, and a center-set union. ``//`` unused: distances stay sums
    of products, BIGINT-cast like every iterative twin."""
    parts = [f"""kqe AS (
            SELECT vec_id AS id, i AS pos,
                   floor(embedding[i]::DOUBLE * {scale}.0)::BIGINT AS x
            FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
        ),
        kp0 AS (
            SELECT id, sum(x * x)::BIGINT AS d2 FROM kqe GROUP BY id
            ORDER BY d2 DESC, id LIMIT 1
        ),
        kcs0 AS (SELECT id FROM kp0)"""]
    for r in range(1, k):
        parts.append(f"""kdd{r} AS (
            SELECT a.id, b.cid,
                   sum((a.x - b.x) * (a.x - b.x))::BIGINT AS d2
            FROM kqe a
            JOIN (SELECT cs.id AS cid, q.pos, q.x
                  FROM kcs{r - 1} cs JOIN kqe q ON q.id = cs.id) b
                 USING (pos)
            GROUP BY a.id, b.cid
        ),
        kp{r} AS (
            SELECT id, min(d2)::BIGINT AS d2 FROM kdd{r} GROUP BY id
            ORDER BY d2 DESC, id LIMIT 1
        ),
        kcs{r} AS (SELECT id FROM kcs{r - 1}
                   UNION ALL SELECT id FROM kp{r})""")
    sel = "\n        UNION ALL\n".join(
        f"        SELECT {r} AS sel_idx, id AS vec_id, d2 AS d2_pick"
        f" FROM kp{r}" for r in range(k))
    return "WITH " + ",\n        ".join(parts) + "\n" + sel


def ivf_balance(vectors: DataFrame, n_clusters: int = 8,
                iters: int = 2) -> DataFrame:
    """IVF index health readout: the size of every inverted list under
    the kmeans_assign centroids, plus the imbalance factor
    (list size over the perfectly-even share). IVF probe latency is
    gated by the largest lists an nprobe touches — imb_e6 ≫ 1e6 on a
    few lists means the quantizer collapsed (duplicate-heavy corpora
    do this) and the index needs re-training or list splitting before
    it ships.

    All-integer: shares and imbalance quantize as n·k·1e6 div N /
    n·1e6 div N (DECIMAL(38,0) products); the assignment itself is
    kmeans_assign's bit-reproducible integer pipeline.

    Scale: kmeans_assign's broadcast rounds + ONE map-side-combined
    k-row aggregate.

    Output: (cluster_id, n_vecs, share_e6, imb_e6).
    """
    a = kmeans_assign(vectors, n_clusters=n_clusters, iters=iters)
    per = a.groupBy("cluster_id").agg(F.count(F.lit(1)).cast("long")
                                      .alias("n_vecs"))
    tot = per.agg(F.sum("n_vecs").cast("long").alias("nn"),
                  F.count(F.lit(1)).cast("long").alias("k"))
    return (per.crossJoin(F.broadcast(tot))
            .select("cluster_id", "n_vecs",
                    F.expr("cast(n_vecs as decimal(38,0)) * 1000000"
                           " div nn").alias("share_e6"),
                    F.expr("cast(n_vecs as decimal(38,0)) * k * 1000000"
                           " div nn").alias("imb_e6")))


def cluster_label_mi(vectors: DataFrame, n_clusters: int = 8,
                     iters: int = 2, id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     label_col: str = "label") -> DataFrame:
    """External clustering-quality evaluation: mutual information
    between the integer k-means assignment and the ground-truth label —
    MI ≈ H(label) means the unsupervised clusters recovered the classes
    (semdedup's cluster granularity is trustworthy); MI ≈ 0 means the
    embedding space doesn't separate them and every downstream
    cluster-based decision (splits, dedup tiers) inherits that.

    Reuses meta_mi's exact integer recipe verbatim (per-cell floor-e9
    two-ln PMI on exact-double count ratios, DECIMAL(38,0) weighted
    total repeated per row) over the (label, cluster_id) contingency
    table of kmeans_assign's bit-reproducible assignment.

    Scale: kmeans_assign's broadcast rounds + one map-side-combined
    |labels|·k cell aggregate.

    Output: (source, lang, c_xy, pmi_e9, mi_e9) — meta_mi's column
    names, where source = label (string-cast) and lang = cluster_id.
    """
    from bella_domify_spark.ops.analyze import meta_mi
    a = kmeans_assign(vectors, n_clusters=n_clusters, iters=iters,
                      id_col=id_col, vec_col=vec_col)
    lab = vectors.select(F.col(id_col).alias("vec_id"),
                         F.col(label_col).cast("string").alias("lbl"))
    joined = (a.join(lab, "vec_id")
              .select("lbl", F.col("cluster_id").cast("string")
                      .alias("cl")))
    return meta_mi(joined, x_col="lbl", y_col="cl")
