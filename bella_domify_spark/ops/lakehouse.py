"""Lakehouse table-maintenance operators: CDC MERGE (last-writer-wins
upsert with delete tombstones) and Z-order data layout with min/max
pruning evidence.

The reference engine is a per-file parser with no table-maintenance story;
these are the operations the surrounding 100 TB lakehouse needs to keep the
transcript corpus queryable: apply a CDC changelog to the current snapshot
(Iceberg/Delta MERGE INTO semantics) and cluster the files so range
predicates prune. Both are pure DataFrame algebra — no UDFs, whole-stage
codegen end to end, one data-sized shuffle each.

Scale notes (100 TB):

* ``merge_upsert`` resolves last-writer-wins with ``max_by`` AGGREGATION,
  not a row_number window: the partial aggregate combines map-side, so a
  hot key (one doc updated a billion times) costs one combiner cell per
  task instead of one sorted window partition. One shuffle on the merge
  key; AQE skew-join splitting applies to the exchange. This is the
  copy-on-write MERGE plan Delta/Iceberg execute after their touched-file
  join — here the snapshot IS the touched set, which is the worst case.
* ``zorder_layout`` is the kernel of OPTIMIZE ZORDER BY(ts, value): a
  4-scalar min/max aggregate (broadcast back as a single-row cross join),
  a map-side bit-interleave into a 32-bit Morton code, and one
  map-side-combined aggregate per target file bucket. Production would
  follow with ``repartitionByRange(z).sortWithinPartitions(z)`` and a
  parquet write; the emitted per-bucket min/max table is exactly the
  footer-stats index a scan planner prunes with, and the ``pruned`` column
  evidences the win for a fixed centre-quarter box query.

Determinism: all arithmetic is integer (epoch microseconds; value via the
floor-e6 idiom; integer division with nonnegative operands), so the
exact-hash oracle gate holds at every scale factor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = ["merge_upsert", "incremental_view_update", "scd2_history",
           "zorder_layout", "compact_files", "vacuum_candidates",
           "time_travel_read", "prune_stats", "position_deletes",
           "Z_BITS", "Z_BUCKET_SHIFT"]

# 16 bits per dimension -> 32-bit Morton code -> 2^10 buckets of 2^22 codes.
Z_BITS = 16
Z_BUCKET_SHIFT = 22

# Fixed evidence query box: the centre quarter of each quantized dimension.
_BOX_LO = 1 << (Z_BITS - 2)          # 16384
_BOX_HI = (3 << (Z_BITS - 2)) - 1    # 49151


def merge_upsert(base: DataFrame, changes: DataFrame,
                 key: str = "doc_id") -> DataFrame:
    """Apply a CDC changelog to a snapshot: MERGE INTO with
    last-writer-wins per key and 'D' tombstones dropping the key.

    ``base``:    (key, text) — the current snapshot (version -1).
    ``changes``: (key, version BIGINT >= 0 unique per key, op 'U'|'D',
                 text) — the changelog; the largest version wins.

    Returns the merged snapshot: (key, final_version, n_ops, text) where
    n_ops counts every row that contended for the key (snapshot + changes)
    and deleted keys are absent. Fresh inserts (change keys missing from
    the snapshot) survive with their winning change text.

    Plan: union -> ONE hash aggregate on the key. ``max_by`` keeps the
    winner without sorting and partial-combines map-side — a deliberately
    different physical strategy from the DuckDB oracle's arg_max (same
    semantics, independent implementations).
    """
    b = base.select(
        F.col(key),
        F.lit(-1).cast("long").alias("version"),
        F.lit("U").alias("op"),
        F.col("text"),
    )
    u = b.unionByName(changes.select(key, "version", "op", "text"))
    merged = u.groupBy(key).agg(
        F.max("version").alias("final_version"),
        F.count(F.lit(1)).alias("n_ops"),
        F.max_by("op", "version").alias("_op"),
        F.max_by("text", "version").alias("text"),
    )
    return (merged.filter(F.col("_op") == "U")
                  .select(key, "final_version", "n_ops", "text"))


def incremental_view_update(base: DataFrame, changes: DataFrame,
                            key: str = "doc_id",
                            n_groups: int = 16) -> DataFrame:
    """Incremental maintenance of the materialized view
    ``SELECT key % n_groups AS g, count(*) AS n_docs,
    sum(length(text)) AS n_chars`` under the same CDC changelog
    merge_upsert applies — WITHOUT recomputing the view from the merged
    table.

    The delta path: (1) reduce the changelog to one winner per touched
    key (same max_by aggregate as merge_upsert — changelog-sized);
    (2) point-look-up the pre-images of touched keys with a key-equality
    join against the snapshot (the state-store lookup of a streaming IVM;
    at 100 TB this join is changelog-sized on one side and prunable by
    key on the other, vs a full-view recompute scanning everything);
    (3) per-key delta = post-image contribution minus pre-image
    contribution; (4) fold the group-sized delta table into the old view
    with a full-outer join on g. Groups whose count reaches zero drop out.

    The DuckDB oracle recomputes the view FROM the merged table — a
    completely different evaluation strategy, so the exact-hash equality
    is a correctness proof of the incremental algebra, not an echo.
    """
    # view definition treats NULL text as length 0 (so a NULL post-image
    # still contributes its count delta; mirrored in the oracle recompute)
    _len = F.coalesce(F.length("text"), F.lit(0))
    v0 = base.groupBy(F.expr(f"{key} % {n_groups}").alias("g")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_len).alias("ch"),
    )
    winners = changes.groupBy(key).agg(
        F.max_by("op", "version").alias("op"),
        F.max_by("text", "version").alias("text"),
    )
    pre = base.select(F.col(key), _len.alias("pre_len"))
    touched = winners.join(pre, key, "left")
    deltas = touched.select(
        F.expr(f"{key} % {n_groups}").alias("g"),
        (F.when(F.col("op") == "U", 1).otherwise(0)
         - F.when(F.col("pre_len").isNotNull(), 1).otherwise(0))
        .cast("long").alias("dn"),
        (F.when(F.col("op") == "U",
                F.coalesce(F.length("text"), F.lit(0))).otherwise(0)
         - F.coalesce(F.col("pre_len"), F.lit(0)))
        .cast("long").alias("dch"),
    ).groupBy("g").agg(F.sum("dn").alias("dn"), F.sum("dch").alias("dch"))
    v1 = v0.join(deltas, "g", "full_outer").select(
        "g",
        (F.coalesce("n", F.lit(0)) + F.coalesce("dn", F.lit(0)))
        .alias("n_docs"),
        (F.coalesce("ch", F.lit(0)) + F.coalesce("dch", F.lit(0)))
        .alias("n_chars"),
    )
    return v1.filter(F.col("n_docs") > 0)


def _interleave_expr(q1: str, q2: str, engine: str) -> str:
    """Morton-interleave two Z_BITS-bit nonnegative ints: bit i of q1 goes
    to position 2i+1, bit i of q2 to 2i. Generated as a flat OR-chain so
    Spark keeps it inside whole-stage codegen; the DuckDB twin uses the
    same formula with native shift operators."""
    terms = []
    for i in range(Z_BITS):
        if engine == "spark":
            terms.append(
                f"shiftleft(shiftright({q1}, {i}) & 1, {2 * i + 1})")
            terms.append(f"shiftleft(shiftright({q2}, {i}) & 1, {2 * i})")
        else:
            terms.append(f"((({q1} >> {i}) & 1) << {2 * i + 1})")
            terms.append(f"((({q2} >> {i}) & 1) << {2 * i})")
    return " | ".join(terms)


def zorder_layout(events: DataFrame) -> DataFrame:
    """Z-order layout stats for events clustered by (ts, value): per
    target-file bucket of the 32-bit Morton code, the row count and the
    min/max footer stats of both quantized dimensions, plus ``pruned`` —
    1 if a scan for the fixed centre-quarter box on BOTH dimensions skips
    the bucket entirely on those stats.

    Quantization is integer-exact: ts -> epoch microseconds, value ->
    floor(value*1e6), each scaled to [0, 2^16) against the corpus min/max
    with 64-bit integer multiply-then-divide (max span ~3e13 us * 65535
    ~ 2e18 < 2^63).
    """
    e = events.filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
    dims = e.select(
        # cast: the parquet column is TIMESTAMP_NTZ; the session-tz
        # default is UTC so the epoch agrees with DuckDB's epoch_us
        # (same idiom as ops/temporal.py:_us)
        F.unix_micros(F.col("ts").cast("timestamp")).alias("e_us"),
        F.floor(F.col("value") * 1e6).cast("long").alias("v_e6"),
    )
    mm = dims.agg(
        F.min("e_us").alias("emin"), F.max("e_us").alias("emax"),
        F.min("v_e6").alias("vmin"), F.max("v_e6").alias("vmax"),
    )
    top = (1 << Z_BITS) - 1
    q = dims.crossJoin(F.broadcast(mm)).select(
        F.expr(f"(e_us - emin) * {top} div greatest(1L, emax - emin)")
         .alias("q1"),
        F.expr(f"(v_e6 - vmin) * {top} div greatest(1L, vmax - vmin)")
         .alias("q2"),
    )
    z = q.select(
        F.expr(_interleave_expr("q1", "q2", "spark")).alias("z"),
        "q1", "q2",
    )
    buckets = (z.groupBy(F.expr(f"z div {1 << Z_BUCKET_SHIFT}")
                          .alias("bucket_id"))
                .agg(F.count(F.lit(1)).alias("n_rows"),
                     F.min("q1").alias("min_q1"), F.max("q1").alias("max_q1"),
                     F.min("q2").alias("min_q2"), F.max("q2").alias("max_q2")))
    overlaps = ((F.col("max_q1") >= _BOX_LO) & (F.col("min_q1") <= _BOX_HI)
                & (F.col("max_q2") >= _BOX_LO) & (F.col("min_q2") <= _BOX_HI))
    return buckets.select(
        "bucket_id", "n_rows", "min_q1", "max_q1", "min_q2", "max_q2",
        F.when(overlaps, F.lit(0)).otherwise(F.lit(1)).alias("pruned"),
    )


def zorder_oracle_ctes() -> str:
    """DuckDB CTEs computing the same bucket table from the events view;
    the caller SELECTs from ``zb``. Kept beside the Spark code so the two
    bit-interleave formulas cannot drift."""
    top = (1 << Z_BITS) - 1
    inter = _interleave_expr("q1", "q2", "duckdb")
    return f"""
        dims AS (
            SELECT epoch_us(ts) AS e_us,
                   floor(value * 1e6)::BIGINT AS v_e6
            FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        ), mm AS (
            SELECT min(e_us) AS emin, max(e_us) AS emax,
                   min(v_e6) AS vmin, max(v_e6) AS vmax
            FROM dims
        ), q AS (
            SELECT (e_us - emin) * {top} // greatest(1, emax - emin) AS q1,
                   (v_e6 - vmin) * {top} // greatest(1, vmax - vmin) AS q2
            FROM dims CROSS JOIN mm
        ), zz AS (
            SELECT ({inter}) AS z, q1, q2 FROM q
        ), zb AS (
            SELECT z // {1 << Z_BUCKET_SHIFT} AS bucket_id,
                   count(*) AS n_rows,
                   min(q1) AS min_q1, max(q1) AS max_q1,
                   min(q2) AS min_q2, max(q2) AS max_q2,
                   CASE WHEN max(q1) >= {_BOX_LO} AND min(q1) <= {_BOX_HI}
                         AND max(q2) >= {_BOX_LO} AND min(q2) <= {_BOX_HI}
                        THEN 0 ELSE 1 END AS pruned
            FROM zz GROUP BY 1
        )
    """


def compact_files(manifest: DataFrame, target_bytes: int,
                  part_col: str = "part", file_col: str = "file_id",
                  size_col: str = "size_bytes") -> DataFrame:
    """OPTIMIZE's other half (zorder_layout is the clustering half):
    small-file bin-packing — assign every file in a table manifest to an
    output bucket of roughly ``target_bytes``, per table partition, so a
    rewrite job turns thousands of small files into target-size ones.

    Packing rule: within each partition, files sort by (size DESC,
    file_id ASC) and pack by cumulative sum — ``out_bucket =
    sum(size of strictly earlier files) div target_bytes``. This is
    next-fit-decreasing expressed as ONE window: deterministic, a single
    hash shuffle on the partition key, and every bucket's total lands in
    [target, target + max_file) except the last per partition.
    First-fit-decreasing packs marginally tighter but needs residual
    bin-capacity state (Delta's OPTIMIZE runs it sequentially on the
    driver over the file list); the cumulative form keeps the whole
    manifest distributed and the two engines bit-identical.

    Scale notes: a manifest is metadata-sized (one row per FILE — ~10^6
    rows for 100 TB of 128 MB files), so the window partition is bounded
    by files-per-table-partition; no data rows move. Oversized files
    (> target) occupy their bucket alone and push the next file over the
    boundary — exactly Delta/Iceberg behavior (never split a file).

    Output: (part, file_id, size_bytes, out_bucket). The assignment is
    fully deterministic — (part, out_bucket, size DESC, file_id) is the
    rewrite order a compaction job would replay.
    """
    from pyspark.sql import Window

    w = (Window.partitionBy(part_col)
         .orderBy(F.desc(size_col), F.asc(file_col)))
    cum_before = F.coalesce(
        F.sum(size_col).over(
            w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0).cast("long"))
    return (manifest.select(
                F.col(part_col).alias("part"),
                F.col(file_col).alias("file_id"),
                F.col(size_col).cast("long").alias("size_bytes"),
                cum_before.alias("_cum_before"))
            .select("part", "file_id", "size_bytes",
                    F.expr(f"_cum_before div {int(target_bytes)}")
                     .cast("long").alias("out_bucket")))


def compact_oracle_ctes(target_bytes: int) -> str:
    """DuckDB twin of compact_files over a caller-supplied manifest CTE
    ``mf(part, file_id, size_bytes)``; the caller SELECTs from
    ``assigned``. Kept beside the Spark code so the packing rule cannot
    drift."""
    return f"""
        assigned AS (
            SELECT part, file_id, size_bytes,
                   -- ::BIGINT: DuckDB's windowed sum(BIGINT) is HUGEINT
                   (COALESCE(sum(size_bytes) OVER (
                       PARTITION BY part
                       ORDER BY size_bytes DESC, file_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING),
                     0) // {int(target_bytes)})::BIGINT AS out_bucket
            FROM mf
        )
    """


def time_travel_read(base: DataFrame, changes: DataFrame,
                     key: str = "doc_id") -> DataFrame:
    """Snapshot-as-of read — Iceberg/Delta time travel (``VERSION AS OF``)
    expressed over the same CDC changelog ``merge_upsert`` consumes:
    reconstruct the table state at a historical snapshot version by
    replaying only the changes with ``version <= as_of`` and resolving
    last-writer-wins per key.

    The cutoff is computed FROM the log — the integer midpoint of its
    version range (the vacuum_candidates watermark idiom; production
    passes the snapshot id a catalog lookup resolves). It rides every
    output row so the oracle pins the cutoff algebra too.

    Plan: 1-row version-range aggregate broadcast onto the changelog
    (map-side filter — at 100 TB an Iceberg reader does this with
    manifest-level pruning, never scanning post-snapshot files at all),
    then the identical one-shuffle ``max_by`` merge as ``merge_upsert``.
    Equality against the DuckDB twin proves the replay-to-version
    algebra, not the merge (already proven) alone.

    Output: (key, final_version, n_ops, text, as_of); deleted-at-as_of
    keys absent, post-as_of inserts absent.
    """
    vr = changes.agg(
        F.expr("(min(version) + max(version)) div 2").alias("as_of"))
    past = (changes.crossJoin(F.broadcast(vr))
                   .filter(F.col("version") <= F.col("as_of"))
                   .select(key, "version", "op", "text"))
    return (merge_upsert(base, past, key=key)
            .crossJoin(F.broadcast(vr))
            .select(key, "final_version", "n_ops", "text", "as_of"))


def position_deletes(data: DataFrame, deletes: DataFrame) -> DataFrame:
    """Merge-on-read position-delete apply — Iceberg v2 delete files /
    Delta deletion vectors: a DELETE writes (file_id, pos) tombstones
    instead of rewriting data files, and every subsequent read subtracts
    them. This is the read side: per-file accounting of rows, deleted
    rows, survivors, and an exact survivor checksum, i.e. what an MoR
    scan task reports after applying its delete vector.

    ``data``:    (file_id, pos, value_e3) — pos unique within file_id,
                 value_e3 an exact BIGINT payload checksum column.
    ``deletes``: (file_id, pos) — the accumulated position deletes
                 (duplicates tolerated, as rewritten delete files stack).

    Plan shape (100 TB): deletes dedupe with a map-side-combinable
    distinct, then ONE left join keyed (file_id, pos) — both sides hash
    on the same key, and because file_id leads the key, AQE coalesces
    the survivor aggregate onto the same partitioning (a real Iceberg
    reader does this join scan-side per file, never shuffling data at
    all; expressing it relationally keeps the oracle exact). No window,
    no skew risk beyond file-size skew the writer already bounds.

    Output: (file_id, n_rows, n_deleted, n_live, live_value_sum).
    """
    d = deletes.select("file_id", "pos").distinct() \
               .withColumn("_del", F.lit(1))
    j = data.join(d, ["file_id", "pos"], "left")
    return (j.groupBy("file_id")
             .agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
                  F.sum(F.when(F.col("_del").isNotNull(), 1)
                         .otherwise(0)).cast("long").alias("n_deleted"),
                  F.sum(F.when(F.col("_del").isNull(), 1)
                         .otherwise(0)).cast("long").alias("n_live"),
                  F.sum(F.when(F.col("_del").isNull(), F.col("value_e3"))
                         .otherwise(F.lit(0)))
                   .cast("long").alias("live_value_sum")))


def scd2_history(base: DataFrame, changes: DataFrame,
                 key: str = "doc_id") -> DataFrame:
    """Slowly-Changing-Dimension Type-2 history from the same CDC
    changelog merge_upsert consumes: every 'U' version of a key becomes a
    validity interval [valid_from, valid_to), closed by the NEXT change
    of that key (update or delete); the open interval (valid_to NULL) is
    the current state — absent when the key's last change is a delete.

    One window over (key, version) — a single hash-partitioned shuffle;
    interval closing is a ``lead``, never a self-join. At 100 TB the
    window partition is bounded by a key's change count (the same skew
    profile as asof_join, salted the same way if a key runs hot).
    Output: (key, valid_from, valid_to, text, is_current).
    """
    from pyspark.sql import Window

    b = base.select(
        F.col(key),
        F.lit(-1).cast("long").alias("version"),
        F.lit("U").alias("op"),
        F.col("text"),
    )
    u = b.unionByName(changes.select(key, "version", "op", "text"))
    w = Window.partitionBy(key).orderBy("version")
    hist = u.select(
        F.col(key),
        F.col("version").alias("valid_from"),
        F.lead("version").over(w).alias("valid_to"),
        "op", "text",
    )
    return (hist.filter(F.col("op") == "U")
                .select(key, "valid_from", "valid_to", "text",
                        F.when(F.col("valid_to").isNull(), 1).otherwise(0)
                         .alias("is_current")))


def prune_stats(events: DataFrame, rows_per_file: int = 64) -> DataFrame:
    """Zone-map data-skipping effectiveness over the ARRIVAL-ORDER layout
    — the planner readout that decides whether a table is worth an
    OPTIMIZE ZORDER pass (``zorder_layout`` evidences the after; this is
    the before): synthesize parquet footers for an ingest-ordered file
    layout (file = ``event_id div rows_per_file``), then evaluate a fixed
    4-predicate workload against the min/max stats exactly the way an
    Iceberg/Delta scan planner does.

    Per predicate: files_scanned (footer range overlaps the predicate),
    rows_scanned (rows inside scanned files — the I/O actually paid) and
    rows_matching (true predicate hits) — the scanned/matching gap IS the
    zone-map false-positive cost that clustering removes.

    Predicates derive from the corpus min/max (1-row broadcast; integer
    arithmetic end to end): top-decile value, centre-half value,
    bottom-centile value, second-half time range.

    Scale notes (100 TB): footers are metadata-sized (one row per file);
    the stats aggregate combines map-side into rows_per_file-bounded
    cells; the 4-row predicate table broadcasts onto footers and rows
    alike — no shuffle grows with the predicate count. All min/max/count.

    Output: (pred_id, files_total, files_scanned, rows_scanned,
    rows_matching), 4 rows.
    """
    e = (events.filter(F.col("ts").isNotNull() & F.col("value").isNotNull()
                       & F.col("event_id").isNotNull())
               .select(F.expr(f"event_id div {int(rows_per_file)}")
                        .alias("file_id"),
                       F.unix_micros(F.col("ts").cast("timestamp"))
                        .alias("e_us"),
                       F.floor(F.col("value") * 1e6).cast("long")
                        .alias("v_e6")))
    footers = e.groupBy("file_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("e_us").alias("min_e"), F.max("e_us").alias("max_e"),
        F.min("v_e6").alias("min_v"), F.max("v_e6").alias("max_v"))
    mm = e.agg(F.min("e_us").alias("emin"), F.max("e_us").alias("emax"),
               F.min("v_e6").alias("vmin"), F.max("v_e6").alias("vmax"))
    # 4 predicates as a tiny table: (pred_id, on_ts, p_lo, p_hi)
    preds = mm.selectExpr(
        "stack(4, "
        " 1L, 0L, vmax - (vmax - vmin) div 10, vmax,"
        " 2L, 0L, vmin + (vmax - vmin) div 4, vmax - (vmax - vmin) div 4,"
        " 3L, 0L, vmin, vmin + (vmax - vmin) div 100,"
        " 4L, 1L, (emin + emax) div 2, emax"
        ") AS (pred_id, on_ts, p_lo, p_hi)")
    lo = F.when(F.col("on_ts") == 1, F.col("min_e")).otherwise(F.col("min_v"))
    hi = F.when(F.col("on_ts") == 1, F.col("max_e")).otherwise(F.col("max_v"))
    scan = (footers.crossJoin(F.broadcast(preds))
            .groupBy("pred_id")
            .agg(F.count(F.lit(1)).alias("files_total"),
                 F.sum(F.when((hi >= F.col("p_lo")) & (lo <= F.col("p_hi")),
                              F.lit(1)).otherwise(F.lit(0)))
                  .alias("files_scanned"),
                 F.sum(F.when((hi >= F.col("p_lo")) & (lo <= F.col("p_hi")),
                              F.col("n_rows")).otherwise(F.lit(0)))
                  .alias("rows_scanned")))
    x = F.when(F.col("on_ts") == 1, F.col("e_us")).otherwise(F.col("v_e6"))
    hits = (e.crossJoin(F.broadcast(preds))
            .groupBy("pred_id")
            .agg(F.sum(F.when((x >= F.col("p_lo")) & (x <= F.col("p_hi")),
                              F.lit(1)).otherwise(F.lit(0)))
                  .alias("rows_matching")))
    return (scan.join(hits, "pred_id")
                .select("pred_id", "files_total", "files_scanned",
                        "rows_scanned", "rows_matching"))


def prune_oracle_sql(rows_per_file: int = 64) -> str:
    """DuckDB twin of prune_stats (kept beside the Spark code so the
    predicate derivations cannot drift)."""
    return f"""
        WITH e AS (
            SELECT event_id // {int(rows_per_file)} AS file_id,
                   epoch_us(ts) AS e_us,
                   floor(value * 1e6)::BIGINT AS v_e6
            FROM events
            WHERE ts IS NOT NULL AND value IS NOT NULL
              AND event_id IS NOT NULL
        ), footers AS (
            SELECT file_id, count(*) AS n_rows,
                   min(e_us) AS min_e, max(e_us) AS max_e,
                   min(v_e6) AS min_v, max(v_e6) AS max_v
            FROM e GROUP BY file_id
        ), mm AS (
            SELECT min(e_us) AS emin, max(e_us) AS emax,
                   min(v_e6) AS vmin, max(v_e6) AS vmax
            FROM e
        ), preds AS (
            SELECT 1::BIGINT AS pred_id, 0::BIGINT AS on_ts,
                   vmax - (vmax - vmin) // 10 AS p_lo, vmax AS p_hi FROM mm
            UNION ALL
            SELECT 2, 0, vmin + (vmax - vmin) // 4,
                   vmax - (vmax - vmin) // 4 FROM mm
            UNION ALL
            SELECT 3, 0, vmin, vmin + (vmax - vmin) // 100 FROM mm
            UNION ALL
            SELECT 4, 1, (emin + emax) // 2, emax FROM mm
        ), scan AS (
            SELECT pred_id, count(*) AS files_total,
                   sum(CASE WHEN (CASE WHEN on_ts = 1 THEN max_e
                                       ELSE max_v END) >= p_lo
                             AND (CASE WHEN on_ts = 1 THEN min_e
                                       ELSE min_v END) <= p_hi
                            THEN 1 ELSE 0 END)::BIGINT AS files_scanned,
                   sum(CASE WHEN (CASE WHEN on_ts = 1 THEN max_e
                                       ELSE max_v END) >= p_lo
                             AND (CASE WHEN on_ts = 1 THEN min_e
                                       ELSE min_v END) <= p_hi
                            THEN n_rows ELSE 0 END)::BIGINT AS rows_scanned
            FROM footers CROSS JOIN preds
            GROUP BY pred_id
        ), hits AS (
            SELECT pred_id,
                   sum(CASE WHEN (CASE WHEN on_ts = 1 THEN e_us
                                       ELSE v_e6 END) BETWEEN p_lo AND p_hi
                            THEN 1 ELSE 0 END)::BIGINT AS rows_matching
            FROM e CROSS JOIN preds
            GROUP BY pred_id
        )
        SELECT pred_id, files_total, files_scanned, rows_scanned,
               rows_matching
        FROM scan JOIN hits USING (pred_id)
    """


def vacuum_candidates(writes: DataFrame,
                      part_col: str = "part", slot_col: str = "slot",
                      file_col: str = "file_id", ver_col: str = "version",
                      ts_col: str = "ts") -> DataFrame:
    """VACUUM's kernel — the third OPTIMIZE sibling (zorder_layout
    clusters, compact_files bin-packs, this lists what is safe to
    delete): given a write log where every row is a file that REWROTE a
    (partition, slot) — the copy-on-write shape merge_upsert and
    compact_files produce — return the files that are (a) superseded by
    a newer version of their slot AND (b) older than the retention
    watermark, so deleting them cannot break readers of the current
    snapshot or time-travelers inside the retention window.

    Watermark: the integer midpoint of the log's epoch-µs range (the
    psi_drift idiom — a deterministic stand-in for "now - retention");
    production passes its own cutoff the same way Delta's
    ``VACUUM ... RETAIN n HOURS`` does.

    Scale notes (100 TB): the write log is metadata-sized (a row per
    FILE); one hash shuffle on (part, slot) feeds a max-version window —
    the live file per slot is a running aggregate, never a self-join —
    and the watermark broadcasts as a 1-row aggregate. All integer.

    Output: (file_id, part, slot, version, live_version, ts_us) for
    every deletable file.
    """
    from pyspark.sql import Window

    t = writes.filter(F.col(ts_col).isNotNull()).select(
        F.col(file_col).alias("file_id"),
        F.col(part_col).alias("part"),
        F.col(slot_col).alias("slot"),
        F.col(ver_col).cast("long").alias("version"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("ts_us"))
    mm = t.agg(F.min("ts_us").alias("lo"), F.max("ts_us").alias("hi"))
    w = Window.partitionBy("part", "slot")
    return (t.withColumn("live_version", F.max("version").over(w))
            .crossJoin(F.broadcast(mm))
            .filter((F.col("version") < F.col("live_version"))
                    & (F.col("ts_us") <= F.expr("(lo + hi) div 2")))
            .select("file_id", "part", "slot", "version",
                    "live_version", "ts_us"))


def snapshot_diff(before: DataFrame, after: DataFrame,
                  key: str = "doc_id") -> DataFrame:
    """Change Data Feed: diff two table snapshots into the minimal
    changelog that replays one into the other — the INVERSE of
    merge_upsert (which applies a changelog). Emits I (key only in
    ``after``), D (key only in ``before``) and U (both, text differs);
    unchanged keys emit nothing. Feeding the output to a downstream
    MERGE reproduces ``after`` exactly — this is how a lakehouse ships
    incremental updates to consumers that only ever saw ``before``.

    Plan: ONE full-outer hash join on the key (both sides shuffle once;
    AQE skew-handles a hot key), all else map-side. NULL text is
    handled set-wise: null-to-value and value-to-null are updates,
    null-to-null is unchanged (null-safe equality, both engines).

    Output: (key, op, text_before, text_after).
    """
    b = before.select(F.col(key).alias("k"),
                      F.lit(1).alias("_inb"),
                      F.col("text").alias("text_before"))
    a = after.select(F.col(key).alias("k"),
                     F.lit(1).alias("_ina"),
                     F.col("text").alias("text_after"))
    j = b.join(a, "k", "full_outer")
    op = (F.when(F.col("_inb").isNull(), F.lit("I"))
           .when(F.col("_ina").isNull(), F.lit("D"))
           .when(~F.col("text_before").eqNullSafe(F.col("text_after")),
                 F.lit("U")))
    return (j.select(F.col("k").alias(key), op.alias("op"),
                     "text_before", "text_after")
             .filter(F.col("op").isNotNull()))


RESHARD_FROM = 16


def reshard_stats(docs: DataFrame, id_col: str = "doc_id",
                  n_from: int = RESHARD_FROM) -> DataFrame:
    """Reshard-cost comparison: how many documents MOVE when the shard
    count grows n → n+1, under naive modulo placement vs rendezvous
    (highest-random-weight) hashing. Modulo reshuffles ~n/(n+1) of the
    corpus (every bucket boundary shifts); HRW moves only the docs the
    NEW shard wins, ~1/(n+1) — the reason every storage layer that
    expects growth places by consistent/rendezvous hashing. This query
    is the migration-cost estimate a 100 TB table wants BEFORE an
    OPTIMIZE-style re-bucketing is scheduled.

    Determinism: all hashes are the md5-int60 family (bit-identical on
    both engines). HRW movement needs no argmax: with shards 0..n, a
    doc moves iff h(n, id) > max_{s<n} h(s, id) — a greatest() over
    n+1 inline md5 expressions, fully codegen'd, no explode, no
    shuffle until the single global aggregate.

    Output: one row (n_docs, moved_mod, moved_hrw, frac_mod_e6,
    frac_hrw_e6), fractions as x·1e6 div n_docs.
    """
    from bella_domify_spark.ops.hashfamily import md5_int60_col
    sid = F.col(id_col).cast("string")
    hid = md5_int60_col(sid)
    hs = [md5_int60_col(F.concat(sid, F.lit(f":{s}")))
          for s in range(n_from + 1)]
    per = docs.select(
        (F.pmod(hid, F.lit(n_from))
         != F.pmod(hid, F.lit(n_from + 1))).cast("int").alias("mv_mod"),
        (hs[n_from] > F.greatest(*hs[:n_from])).cast("int")
         .alias("mv_hrw"))
    agg = per.agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                  F.sum("mv_mod").cast("long").alias("moved_mod"),
                  F.sum("mv_hrw").cast("long").alias("moved_hrw"))
    return agg.select(
        "n_docs", "moved_mod", "moved_hrw",
        F.expr("cast(moved_mod as decimal(38,0)) * 1000000 div n_docs")
         .alias("frac_mod_e6"),
        F.expr("cast(moved_hrw as decimal(38,0)) * 1000000 div n_docs")
         .alias("frac_hrw_e6"))


SHARD_N = 32


def shard_balance(docs: DataFrame, id_col: str = "doc_id",
                  weight_col: str = "n_chars",
                  n_shards: int = SHARD_N) -> DataFrame:
    """Hash-shard balance audit: place every document on one of
    ``n_shards`` shards by md5 and report each shard's document count
    and byte mass plus the corpus-wide skew factor (max shard over the
    even share). This is the pre-flight check for any bucketed write:
    skew_e6 ≈ 1e6 means hash partitioning will saturate all executors;
    a fat shard predicts the straggler BEFORE the 100 TB job runs.

    All-integer: md5-int60 placement (bit-identical cross-engine),
    BIGINT byte sums, skew_e6 = max_bytes·n_shards·1e6 div total_bytes
    repeated on every row (the gini_e9 convention).

    Scale: one map-side-combined n_shards-row aggregate; the skew
    scalar is a broadcast of that aggregate's max/sum.

    Output: (shard, n_docs, n_bytes, skew_e6).
    """
    from bella_domify_spark.ops.hashfamily import md5_int60_col
    per = (docs.filter(F.col(weight_col).isNotNull())
           .groupBy(F.pmod(md5_int60_col(F.col(id_col).cast("string")),
                           F.lit(n_shards)).alias("shard"))
           .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum(weight_col).cast("long").alias("n_bytes")))
    tot = per.agg(F.max("n_bytes").alias("mx"),
                  F.sum("n_bytes").cast("long").alias("tot"),
                  F.count(F.lit(1)).cast("long").alias("k"))
    return (per.crossJoin(F.broadcast(tot))
            .select("shard", "n_docs", "n_bytes",
                    F.expr("cast(mx as decimal(38,0)) * k * 1000000"
                           " div tot").alias("skew_e6")))
