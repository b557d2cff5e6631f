"""Deduplication operators for large-scale corpus curation.

All of these are pure DataFrame algebra (JVM-side, whole-stage-codegen'd) —
no Python UDFs — so Catalyst handles pushdown and AQE handles skew:

- exact_dedup        — hash-groupBy on md5(text)
- shingles / jaccard — n-gram explode + self-join on shared shingles
- minhash signatures + LSH banding — md5-seeded universal hash family
                       (hashfamily.py), min-aggregated per (doc, hash_idx)
- simhash            — 60-bit sign-vote over md5 token hashes, exploded per
                       bit and folded by two hash aggregates

Shingle substrate — the shape contract. The word and n-gram operators read
four relations, each built by exactly one function here
(tests/test_shingle_guard.py keeps it that way):

- ``_words`` → ``(id, w)``, ``w = split(lower(text), '\\s+')``, ``[]`` for
  a null text: the only word split and the only place ``_widen``
  applies. A small single-file table scans as ONE split, which would
  serialize the CPU-heavy chain that follows on one core; at real scale
  (splits ≥ cores) the widen is a no-op. ``w`` stays behind its own
  projection so CollapseProject cannot inline the split into a
  multi-reference consumer (a ``transform`` lambda capturing ``split``
  re-evaluates it per element: O(words²), ~23 s for one 10k-word
  document). simhash explodes ``w`` (dropping ``""``); remove_dup_spans
  posexplodes it.
- ``shingle_arrays`` → ``(id, sharr)``: each document's word ``n``-grams as
  one in-row array, ``arrays_zip`` of ``n`` shifted slices of ``w``
  (O(words) per row); a document under ``n`` words gets ``[]``.
  ``dedupe=True`` is a per-document ``array_distinct`` before any explode
  (no corpus-wide ``distinct`` shuffle); ``dedupe=False`` keeps every
  instance in position order (minhash_signatures, dup_span_stats,
  remove_dup_spans). ``word_shingles`` is its explode, ``(id, shingle)``.
  Per-document scalars (set sizes, bottom-k, has-any flags) are map-side
  projections of the array, never an explode plus re-aggregate.
- ``_capped_pair_counts`` → ``(id_a, id_b, [n_a, n_b,] n_common)``: the
  distinct shingles two documents share, counted after the stop-shingle
  cap (shingles in more than ``max_shingle_freq`` documents produce
  quadratic candidates without adding signal). ``n_a``/``n_b`` are the
  uncapped set sizes, carried through the pair join as grouping keys.
  jaccard_pairs, containment_pairs and cooccurrence_pairs differ only in
  the pair predicate, threshold and projection.
- No inferred filter may copy the construction. Catalyst pushes a
  filter on ``w``/``sharr`` through the projections by inlining their
  expressions, so it would run the split (or the whole n-gram
  construction) once more, serially, in the scan task below ``_widen``.
  Two rules keep inferred filters out: ``w`` is never null, so nothing
  built from it is nullable and no ``isnotnull`` is inferred; and every
  explode of ``w`` or ``sharr`` goes through ``_elements``
  (``array_compact``, a no-op: the arrays hold no nulls), because a
  generator over a bare column gets an inferred ``size(col) > 0``
  (InferFiltersFromGenerate). remove_dup_spans at sf0.1 on 4 cores:
  6.4 s with the inferred filter, 3.9 s without.
- ``_band_candidates`` → distinct ``(id_a, id_b)``, ``id_a < id_b``: pairs
  that share a ``minhash_band_buckets`` bucket in any band
  (minhash_lsh_pairs, blocking_quality).

The exploded shingle stream is never cached: it is ~n× the input, and
recomputing it (scan + split, narrow and codegen'd) is cheaper than
pinning or spilling it.

Scale notes: the shingle self-join shuffles on the shingle value and the
frequency cap bounds its fan-out — standard MinHash-LSH practice.
MinHash/LSH reduces the candidate space from O(n²) to near-linear: pairs
are generated only within LSH band buckets. MinHash memory is
O(num_hashes) per document group (one wide min-aggregate with map-side
partial combine), never O(shingles) — a multi-MB document costs the same
aggregation buffer as a tweet. Every hash derives from md5
(hashfamily.md5_int60_col), so each operator has an exact DuckDB oracle
twin (__spark_entry__.oracle_sql).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from bella_domify_spark.ops.hashfamily import (MERSENNE_P, md5_int60_col,
                                               minhash_params)
from bella_domify_spark.ops.pins import Pins


def _widen(df: DataFrame) -> DataFrame:
    """Round-robin repartition when the input has fewer partitions than
    cores, so map-side hashing is not serialized on one task; a no-op at
    real scale (no extra shuffle)."""
    p = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(p) if df.rdd.getNumPartitions() < p else df


def _words(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, w) — the substrate's word array (module docstring)."""
    return _widen(df).select(
        F.col(id_col).alias("id"),
        F.coalesce(F.split(F.lower(F.col(text_col)), r"\s+"),
                   F.array().cast("array<string>")).alias("w"))


def _elements(arr: str) -> Column:
    """A substrate array column as a generator input:
    ``F.explode(_elements("sharr"))`` (module docstring)."""
    return F.array_compact(arr)


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of byte-identical texts: (text_md5, n_dups, keeper_id)."""
    return (df
            .groupBy(F.md5(F.col(text_col)).alias("text_md5"))
            .agg(F.count(F.lit(1)).alias("n_dups"),
                 F.min(id_col).alias("keeper_id"))
            )


def word_shingles(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                  n: int = 3, dedupe: bool = True) -> DataFrame:
    """Word n-gram shingles per document: (id, shingle), distinct per
    document unless ``dedupe=False``. Documents with fewer than ``n``
    words yield no shingles."""
    return (shingle_arrays(df, id_col, text_col, n, dedupe)
            .select("id", F.explode(_elements("sharr")).alias("shingle")))


def shingle_arrays(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", n: int = 3,
                   dedupe: bool = True) -> DataFrame:
    """(id, sharr: array<string>) — each document's word ``n``-gram
    shingles as one in-row array (module docstring)."""
    m = F.size("w") - n + 1  # number of shingles when >= 1
    zipped = F.arrays_zip(*[F.slice("w", i + 1, m) for i in range(n)])
    shingle = F.when(
        F.size("w") >= n,
        F.transform(zipped,
                    lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(n)]))
    ).otherwise(F.array().cast("array<string>"))
    if dedupe:
        shingle = F.array_distinct(shingle)
    return _words(df, id_col, text_col).select("id", shingle.alias("sharr"))


def _capped_pair_counts(df: DataFrame, id_col: str, text_col: str, n: int,
                        max_shingle_freq: int, pair: Column,
                        sizes: bool = True) -> DataFrame:
    """(id_a, id_b, [n_a, n_b,] n_common) for the document pairs that
    satisfy ``pair`` and share at least one distinct shingle in at most
    ``max_shingle_freq`` documents (module docstring)."""
    sh = shingle_arrays(df, id_col, text_col, n).select(
        "id", F.size("sharr").cast("long").alias("n_sh"),
        F.explode(_elements("sharr")).alias("shingle"))
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("f"))
    sh_f = sh.join(freq.filter(F.col("f") <= max_shingle_freq), "shingle")

    def side(s):
        n_sh = [F.col("n_sh").alias(f"n_{s}")] if sizes else []
        return sh_f.select(F.col("id").alias(f"id_{s}"), *n_sh, "shingle")

    keys = ["id_a", "id_b"] + (["n_a", "n_b"] if sizes else [])
    return (side("a").join(side("b"), "shingle")
            .filter(pair)
            .groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("n_common")))


def jaccard_pairs(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                  n: int = 3, threshold: float = 0.8,
                  max_shingle_freq: int = 1000) -> DataFrame:
    """All document pairs with word-``n``-gram Jaccard ≥ threshold:
    common / (|A| + |B| - common), common counted without stop-shingles."""
    common = _capped_pair_counts(df, id_col, text_col, n, max_shingle_freq,
                                 F.col("id_a") < F.col("id_b"))
    return (common
            .withColumn("jaccard",
                        F.col("n_common") /
                        (F.col("n_a") + F.col("n_b") - F.col("n_common")))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


def cooccurrence_pairs(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", n: int = 3,
                       min_common: int = 2,
                       max_shingle_freq: int = 20) -> DataFrame:
    """Candidate-pair graph by shared RARE shingles: (id_a, id_b,
    n_common) for document pairs sharing >= ``min_common`` distinct word
    ``n``-grams whose corpus frequency is <= ``max_shingle_freq``. This
    is the recall-oriented cousin of :func:`jaccard_pairs` — no ratio
    threshold, so weakly-overlapping pairs survive as a GRAPH whose
    structure downstream ops mine (link_prediction ranks its open
    wedges; kcore/triangles score its density). The tight frequency cap
    is what keeps it scale-safe: only rare shingles generate join rows,
    so the candidate count is Σ f² over f <= cap, linear in corpus size
    for fixed cap.
    """
    return (_capped_pair_counts(df, id_col, text_col, n, max_shingle_freq,
                                F.col("id_a") < F.col("id_b"), sizes=False)
            .filter(F.col("n_common") >= min_common))


def containment_pairs(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", n: int = 3,
                      threshold: float = 0.5,
                      max_shingle_freq: int = 1000,
                      min_shingles: int = 5) -> DataFrame:
    """DIRECTED near-dup containment: fraction of A's distinct word
    ``n``-gram shingles that also occur in B. Catches quotation and
    subsumption (a short doc embedded verbatim in a much longer one)
    that symmetric Jaccard structurally misses — |A∩B|/|A∪B| stays tiny
    when |A| << |B| even at 100% containment (Broder's resemblance vs
    containment distinction, the same split the reference draws between
    per-page and per-document header votes).

    Same candidate generation as :func:`jaccard_pairs` (shingle equality
    join under a stop-shingle cap — never all-pairs), so the shuffle
    profile is identical and scale-safe; the only new knob is
    ``min_shingles``, which drops trivially small documents on BOTH
    sides (every 4-shingle doc would otherwise "contain-match" half the
    corpus). Output: directed (id_a, id_b, n_common, n_a, containment)
    with id_a != id_b and containment(A→B) >= threshold.
    """
    common = _capped_pair_counts(df, id_col, text_col, n, max_shingle_freq,
                                 F.col("id_a") != F.col("id_b"))
    return (common
            .filter((F.col("n_a") >= min_shingles)
                    & (F.col("n_b") >= min_shingles))
            .withColumn("containment", F.col("n_common") / F.col("n_a"))
            .filter(F.col("containment") >= threshold)
            .select("id_a", "id_b", "n_common", "n_a", "containment"))


def minhash_signatures(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                       n: int = 3, num_hashes: int = 64) -> DataFrame:
    """(id, sig: array<bigint>) — sig[i] = min over shingles of h_i(shingle),
    where h_i is the md5-seeded universal family (hashfamily.py).

    Plan shape for 100 TB: one md5 per distinct shingle, then ONE hash
    aggregate with ``num_hashes`` conditional ``min`` buffers — fixed
    O(num_hashes) memory per document group (map-side partial combine), so
    a multi-MB document costs the same buffer as a tweet. This replaces the
    r1 ``collect_list`` fold (O(shingles) group memory — the cliff) and
    beats the posexplode-per-hash-index alternative ~4× (that one pushes
    shingles×num_hashes rows through the aggregate: 6.7 s vs 1.7 s at
    sf0.1). The wide aggregate stays inside whole-stage codegen — each
    buffer's update is a single multiply-add-mod on the shared base hash.

    Shingles are NOT deduplicated (min over duplicates is identical), so
    hash+min runs map-side on the scan partitions with no intermediate
    exchange — a ``distinct`` first puts the hashing after a shuffle that
    AQE coalesces to ONE partition on small inputs (7-16 s single-task vs
    ~1 s wide, measured at sf0.1)."""
    sh = word_shingles(df, id_col, text_col, n, dedupe=False)
    x = md5_int60_col(F.col("shingle")) % F.lit(MERSENNE_P)
    mins = [F.min((F.lit(a) * F.col("x") + F.lit(b)) % F.lit(MERSENNE_P))
             .alias(f"m{i}")
            for i, (a, b) in enumerate(minhash_params(num_hashes))]
    agg = sh.withColumn("x", x).groupBy("id").agg(*mins)
    return agg.select(
        "id", F.array(*[F.col(f"m{i}") for i in range(num_hashes)]).alias("sig"))


def minhash_band_buckets(sig: DataFrame, bands: int = 16,
                         rows_per_band: int = 4) -> DataFrame:
    """(id, band, bucket) LSH band buckets from a signature table — the
    shared banding of minhash_lsh_pairs, exposed so an incremental
    pipeline can MATERIALIZE the corpus's bucket index once and join each
    day's new batch against it (incremental_dedup)."""
    band_idx = F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band")
    return sig.select("id", "sig", band_idx).select(
        "id", "band",
        F.md5(F.concat_ws(",", F.transform(
            F.slice("sig", F.col("band") * rows_per_band + 1, rows_per_band),
            lambda x: x.cast("string")))).alias("bucket"))


def _band_candidates(sig: DataFrame, bands: int,
                     rows_per_band: int) -> DataFrame:
    """Distinct (id_a, id_b), id_a < id_b: the signature pairs that share
    a band bucket in at least one band — an equality shuffle on
    (band, bucket), never a crossJoin."""
    banded = minhash_band_buckets(sig, bands, rows_per_band)
    a = banded.select(F.col("id").alias("id_a"), "band", "bucket")
    b = banded.select(F.col("id").alias("id_b"), "band", "bucket")
    return (a.join(b, ["band", "bucket"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").distinct())


def incremental_dedup(new_docs: DataFrame, corpus_docs: DataFrame,
                      id_col: str = "doc_id", text_col: str = "text",
                      n: int = 3, num_hashes: int = 64,
                      bands: int = 16) -> DataFrame:
    """Screen an incoming batch against an EXISTING corpus: a new doc is
    flagged when any of its MinHash LSH bands collides with a corpus
    bucket. Returns every new doc as ``(id, is_dup)``.

    This is the incremental form of minhash_lsh_pairs: instead of an
    all-pairs band self-join over old∪new, the corpus side is a bucket
    index — (id, band, bucket), O(corpus × bands) rows — that a
    production pipeline materializes ONCE and appends to as batches
    commit, so each day's screen joins batch-sized bands against the
    index (shuffle ∝ batch + matched buckets, never corpus rescans; the
    same asymmetry decontaminate_bloom exploits with its broadcast
    bitmap). Band collisions admit LSH false positives by design — the
    batch-level screen errs toward flagging; the exact est-jaccard
    verification runs downstream on the flagged subset only."""
    rows_per_band = num_hashes // bands
    b_new = minhash_band_buckets(
        minhash_signatures(new_docs, id_col, text_col, n, num_hashes),
        bands, rows_per_band)
    b_old = minhash_band_buckets(
        minhash_signatures(corpus_docs, id_col, text_col, n, num_hashes),
        bands, rows_per_band)
    hits = (b_new.join(b_old.select("band", "bucket").distinct(),
                       ["band", "bucket"], "left_semi")
            .select("id").distinct())
    return (new_docs.select(F.col(id_col).alias("id"))
            .join(hits.withColumn("_hit", F.lit(1)), "id", "left")
            .select("id", F.col("_hit").isNotNull().alias("is_dup")))


def minhash_lsh_pairs(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                      n: int = 3, num_hashes: int = 64, bands: int = 16,
                      threshold: float = 0.7) -> DataFrame:
    """Near-duplicate pairs via MinHash + LSH banding, verified by estimated
    Jaccard (fraction of matching minhashes ≥ threshold).

    bands × rows-per-band = num_hashes; a pair becomes a candidate if any
    band's sub-signature hashes identically.
    """
    # signatures are compact (num_hashes longs/doc) but expensive to build
    # (wide min-agg over exploded shingles) and reused three times —
    # persist for the single materializing pass, release before returning
    with Pins() as p:
        sig = p.pin(minhash_signatures(df, id_col, text_col, n, num_hashes))
        cand = _band_candidates(sig, bands, num_hashes // bands)
        sa = sig.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
        sb = sig.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
        return p.result(
            cand.join(sa, "id_a").join(sb, "id_b")
            .withColumn("est_jaccard",
                        F.size(F.filter(F.zip_with("sig_a", "sig_b",
                                                   lambda x, y: x == y),
                                        lambda m: m)) / F.lit(num_hashes))
            .filter(F.col("est_jaccard") >= threshold)
            .select("id_a", "id_b", "est_jaccard"))


SIMHASH_BITS = 60  # md5-60bit token hash domain (hashfamily.md5_int60_col)


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
            bits: int = SIMHASH_BITS) -> DataFrame:
    """60-bit SimHash: per token occurrence, md5-60bit(token); each bit
    votes ±1; the sign of the vote sum forms the fingerprint bit.

    Plan shape: one md5 per token, then ONE hash aggregate with ``bits``
    conditional sum buffers (a bit test + ±1 each) — O(bits) group memory
    with map-side partial combine. ~2.6× faster than exploding per-bit
    rows through the aggregate (token_count×bits rows), and md5 keeps an
    exact DuckDB oracle twin."""
    tok = (_words(df, id_col, text_col)
           .select("id", F.explode(_elements("w")).alias("tok"))
           .filter(F.col("tok") != "")
           .withColumn("x", md5_int60_col(F.col("tok"))))
    votes = [F.sum(F.when(F.shiftright(F.col("x"), b).bitwiseAND(F.lit(1)) == 1,
                          F.lit(1)).otherwise(F.lit(-1))).alias(f"b{b}")
             for b in range(bits)]
    agg = tok.groupBy("id").agg(*votes)
    fp = agg.select(
        "id",
        sum((F.when(F.col(f"b{b}") > 0, F.lit(1 << b).cast("long"))
              .otherwise(F.lit(0).cast("long")) for b in range(bits)),
            start=F.lit(0).cast("long")).alias("simhash"))
    return fp


def simhash_near_dups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                      max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, blocked on bit chunks.

    Pigeonhole: distance ≤ k ⇒ at least one of k+1 chunks is equal, so the
    candidate join is an equality shuffle, not a crossJoin. Larger
    max_hamming ⇒ narrower chunks ⇒ more candidates (the standard recall/
    cost trade-off)."""
    n_chunks = max_hamming + 1
    width = max(SIMHASH_BITS // n_chunks, 1)
    mask = (1 << width) - 1
    # fingerprints: one long/doc, two consumers (chunk sides a and b) of an
    # expensive bit-vote aggregate — persist, release before returning
    with Pins() as p:
        fp = p.pin(simhash(df, id_col, text_col))
        chunks = fp.select(
            "id", "simhash",
            F.explode(F.array(*[
                F.struct(F.lit(i).alias("chunk"),
                         F.shiftright("simhash", i * width)
                          .bitwiseAND(F.lit(mask)).alias("key"))
                for i in range(n_chunks)])).alias("c")
        ).select("id", "simhash", "c.chunk", "c.key")

        a = chunks.select(F.col("id").alias("id_a"),
                          F.col("simhash").alias("s_a"), "chunk", "key")
        b = chunks.select(F.col("id").alias("id_b"),
                          F.col("simhash").alias("s_b"), "chunk", "key")
        return p.result(
            a.join(b, ["chunk", "key"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "s_a", "s_b").distinct()
            .withColumn("hamming",
                        F.bit_count(F.col("s_a").bitwiseXOR(F.col("s_b"))))
            .filter(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming"))


def duplicate_clusters(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", threshold: float = 0.2,
                       max_iter: int = 25,
                       algorithm: str = "label_prop") -> DataFrame:
    """Connected components over the n-gram-Jaccard near-dup graph →
    ``(doc_id, canonical_id, cluster_size)`` for every document that has at
    least one near-duplicate; canonical = min id per component (the keeper).

    Thin wrapper: candidate pairs from ``jaccard_pairs``, clustering from
    ``ops.graph.connected_components`` — which also accepts simhash /
    embedding / minhash pair sources directly, and offers the O(log n)-round
    ``two_star`` variant. See that module for the algorithm trade-off and
    the 100 TB shuffle analysis."""
    from bella_domify_spark.ops.graph import connected_components

    pairs = jaccard_pairs(df, id_col, text_col, threshold=threshold)
    return connected_components(pairs, node_out=id_col,
                                algorithm=algorithm, max_iter=max_iter)


def contamination_flags(corpus: DataFrame, benchmark: DataFrame,
                        id_col: str = "doc_id", text_col: str = "text",
                        bench_id_col: str = "bench_id", n: int = 8) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing at least
    one word ``n``-gram with any benchmark document — the GPT-3/Pile-style
    n-gram overlap check a training pipeline runs before a data release.

    Returns ``(doc_id, bench_id, n_collisions)`` per contaminated
    (document, benchmark-item) pair. Plan shape: both sides shingle
    map-side, the join is an equality shuffle on the shingle (benchmark
    shingle sets are small → AQE broadcasts them), and the aggregate has
    map-side partial combine. Documents shorter than ``n`` words produce
    no shingles and therefore cannot be flagged — choose ``n`` at or
    below the corpus' minimum retained document length (the classic 13
    is for web-page-sized documents)."""
    c = word_shingles(corpus, id_col, text_col, n=n)
    b = (word_shingles(benchmark, bench_id_col, text_col, n=n)
         .select(F.col("id").alias("bid"), "shingle"))
    return (c.join(b, "shingle")
            .groupBy(F.col("id").alias(id_col), F.col("bid").alias(bench_id_col))
            .agg(F.count(F.lit(1)).alias("n_collisions")))


def bloom_contamination_flags(corpus: DataFrame, benchmark: DataFrame,
                              id_col: str = "doc_id",
                              text_col: str = "text",
                              bench_id_col: str = "bench_id", n: int = 8,
                              bits_log2: int = 20,
                              k_hashes: int = 5) -> DataFrame:
    """``contamination_flags`` with a broadcast-Bloom prefilter — the
    100 TB shape of the n-gram decontamination check. The plain operator
    shuffles the corpus' FULL shingle stream (O(total words) rows) on the
    shingle key; at web scale that shuffle dwarfs everything else even
    though almost no shingle collides. Here the benchmark side's shingles
    (small by definition) aggregate into a Bloom bitmap that ships to
    every task as a single array<bigint> literal — the PySpark-reachable
    equivalent of Spark's own runtime row-level filtering — and corpus
    shingles that miss the filter die map-side, before the exchange. The
    exact join then removes Bloom false positives, so the output is
    row-identical to ``contamination_flags`` (Bloom filters have no false
    negatives): one oracle, two engine plans.

    ``bits_log2`` sizes the bitmap (2^20 bits = 16 Ki longs ≈ 128 KB of
    plan by default); with k=5 hashes the false-positive rate stays under
    ~1% while the benchmark holds up to ~10^5 distinct shingles — size up
    for larger suites (fpr ≈ (1 - e^(-k·n/m))^k). The bitmap rides the
    plan as ONE literal: the membership test is a ``forall`` lambda, so
    the array appears once regardless of k.

    Hashing is engine-side only (xxhash64 over (shingle, probe index)) —
    the oracle never needs to model the Bloom because the final rows
    don't depend on it."""
    m_bits = 1 << bits_log2
    b_sh = word_shingles(benchmark, bench_id_col, text_col, n=n)

    def positions(shingle):
        return F.array(*[
            F.pmod(F.xxhash64(shingle, F.lit(j)), F.lit(m_bits))
            for j in range(k_hashes)])

    # benchmark bitmap: positions -> per-word bit_or of the set bits, then
    # a dense driver-side array (the collect IS the broadcast — the
    # benchmark side is the small side of this join by contract)
    words = (b_sh.select(F.explode(positions(F.col("shingle")))
                         .alias("pos"))
             .select(F.shiftright("pos", 6).cast("int").alias("w"),
                     F.col("pos").bitwiseAND(F.lit(63)).alias("bit"))
             .groupBy("w")
             .agg(F.bit_or(F.expr("shiftleft(1L, cast(bit AS int))"))
                  .alias("mask"))
             .collect())
    bitmap = [0] * (m_bits >> 6)
    for r in words:
        bitmap[r["w"]] = r["mask"]
    bitmap_lit = F.lit(bitmap)

    def member(pos):
        word = F.get(bitmap_lit, F.shiftright(pos, 6).cast("int"))
        return F.call_function(
            "getbit", word, pos.bitwiseAND(F.lit(63))) == 1

    c = (word_shingles(corpus, id_col, text_col, n=n)
         .filter(F.forall(positions(F.col("shingle")), member)))
    b = b_sh.select(F.col("id").alias("bid"), "shingle")
    return (c.join(b, "shingle")
            .groupBy(F.col("id").alias(id_col),
                     F.col("bid").alias(bench_id_col))
            .agg(F.count(F.lit(1)).alias("n_collisions")))


def fuzzy_contamination_flags(corpus: DataFrame, benchmark: DataFrame,
                              id_col: str = "doc_id",
                              bench_id_col: str = "bench_id",
                              text_col: str = "text", n: int = 3,
                              num_hashes: int = 64, bands: int = 16,
                              min_match: int = 32) -> DataFrame:
    """NEAR-duplicate decontamination — the recall tier above
    :func:`contamination_flags` (exact n-gram collision) and
    :func:`incremental_dedup` (unverified band collision): corpus docs
    whose MinHash signature AGREES with a benchmark doc's on at least
    ``min_match`` of ``num_hashes`` components (est. Jaccard ≥
    min_match/num_hashes), found via LSH band-bucket candidates and then
    VERIFIED against the full signatures, so a lone band collision can't
    flag a clean document. Paraphrased or lightly-edited benchmark leaks
    — the ones exact-substring decontamination misses — survive this
    screen. Exact self-copies are excluded by the id inequality: those
    are contamination_flags' job; this op reports the near-misses.

    Scale notes (100 TB): corpus-side cost is the one minhash aggregate
    (the 64-buffer map-side combine documented at minhash_signatures);
    the band join hits only colliding buckets, and the verify step joins
    candidate-pair-sized frames against the two signature tables (the
    benchmark side broadcast — benchmark ≪ corpus by contract). The
    match count is an integer zip_with/aggregate over two in-row arrays —
    no explode, exact-hash-safe.

    Output: (doc_id, bench_id, n_match), n_match ≥ ``min_match``.
    """
    rows_per_band = num_hashes // bands
    sig_c = minhash_signatures(corpus, id_col, text_col, n, num_hashes)
    sig_b = minhash_signatures(benchmark, bench_id_col, text_col, n,
                               num_hashes)
    bc = minhash_band_buckets(sig_c, bands, rows_per_band)
    bb = (minhash_band_buckets(sig_b, bands, rows_per_band)
          .select(F.col("id").alias("bid"), "band", "bucket"))
    cand = (bc.join(F.broadcast(bb), ["band", "bucket"])
            .filter(F.col("id") != F.col("bid"))
            .select("id", "bid").distinct())
    j = (cand.join(sig_c, "id")
         .join(F.broadcast(sig_b.select(F.col("id").alias("bid"),
                                        F.col("sig").alias("sig_b"))),
               "bid"))
    n_match = F.aggregate(
        F.zip_with("sig", "sig_b",
                   lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0), lambda acc, v: acc + v)
    return (j.select(F.col("id").alias(id_col),
                     F.col("bid").alias(bench_id_col),
                     n_match.cast("long").alias("n_match"))
            .filter(F.col("n_match") >= min_match))


def dup_span_stats(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", n: int = 8,
                   min_docs: int = 2) -> DataFrame:
    """Substring-duplication measurement (the Lee et al. 2021 "deduplicate
    training data" family, at word-``n``-gram granularity): for each
    document, how many of its n-gram span INSTANCES also occur in at least
    ``min_docs`` documents corpus-wide, and the duplicated fraction.
    Feeds span-level filtering/trimming decisions the way exact/minhash
    feed document-level ones. Documents under ``n`` words have no spans
    and drop out (both engines agree).

    Output: (doc_id, n_spans, n_dup_spans, dup_ratio_e6) — the ratio
    floor-quantized at 1e-6 (BIGINT), exact-hash-safe.

    Scale: one instance stream (O(words) construction per row), one
    vocabulary-sized doc-frequency aggregate, one shuffle join keyed by
    shingle with partial-combining per-doc aggregation after — no
    all-pairs anywhere; hot shingles spread by key like any skewed join
    (AQE skew split applies)."""
    # ONE shingle_arrays subtree feeds both streams. Document frequency
    # comes from the per-row dedup (array_distinct before explode) — the
    # former inst.distinct() shuffled the whole instance stream a second
    # time. (Column pruning keeps the two branches' scans distinct —
    # docfreq drops id — so the construction is still evaluated per
    # branch; a count_distinct(id) variant that makes the exchange
    # reusable measured SLOWER, its extra aggregate level outweighing
    # the shared scan.)
    arrs = shingle_arrays(df, id_col, text_col, n, dedupe=False)
    inst = arrs.select("id", F.explode(_elements("sharr")).alias("shingle"))
    docfreq = (arrs.select(F.explode(F.array_distinct("sharr"))
                           .alias("shingle"))
               .groupBy("shingle").agg(F.count(F.lit(1)).alias("docs")))
    per = (inst.join(docfreq, "shingle")
           .groupBy("id")
           .agg(F.count(F.lit(1)).alias("n_spans"),
                F.sum(F.when(F.col("docs") >= min_docs, 1).otherwise(0))
                .alias("n_dup_spans")))
    return per.select(
        F.col("id").alias(id_col), "n_spans", "n_dup_spans",
        F.floor(F.col("n_dup_spans") / F.col("n_spans") * F.lit(1e6))
        .cast("long").alias("dup_ratio_e6"))


def remove_dup_spans(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", n: int = 8) -> DataFrame:
    """Exact-substring deduplication as a TRANSFORM (the rewrite companion
    of dup_span_stats, after Lee et al. 2021 at word-``n``-gram
    granularity): every word covered by a corpus-duplicated span instance
    that is NOT the span's global first occurrence (smallest (doc, pos))
    is dropped, and the surviving words are reassembled in order. The
    first occurrence of boilerplate survives once corpus-wide; every
    repeat is excised in place rather than the whole document dying.

    Tokenization is the substrate's word array; output text is the
    normalized words joined by single spaces. Output:
    (doc_id, text, n_words, n_words_dropped) — one row per input doc,
    empty text when everything was covered.

    Scale: the winner/occurrence table is ONE map-side-combined
    aggregation keyed by shingle (min(struct(id,pos)) — no window over
    hot shingles, so a billion-occurrence boilerplate span costs a
    combiner cell, not a partition); the instance↔winner join shuffles
    by shingle (AQE skew split applies); span coverage is an interval
    diff (+1/-1 deltas, per-doc prefix sum) so a removable instance
    costs 2 rows, not ``n``; the prefix-sum window and the reassembly
    aggregate are both per-doc (bounded by document length) and share
    one hash partitioning on id."""
    inst = (shingle_arrays(df, id_col, text_col, n, dedupe=False)
            .select("id", F.posexplode(_elements("sharr"))
                    .alias("pos0", "shingle"))
            .select("id", (F.col("pos0") + 1).alias("pos"), "shingle"))

    agg = inst.groupBy("shingle").agg(
        F.min(F.struct("id", "pos")).alias("first"),
        F.count(F.lit(1)).alias("occ"))
    removable = (inst.join(agg, "shingle")
                 .filter((F.col("occ") >= 2)
                         & ~((F.col("id") == F.col("first.id"))
                             & (F.col("pos") == F.col("first.pos"))))
                 .select("id", "pos"))

    deltas = (removable.select("id", F.col("pos").alias("p"),
                               F.lit(1).alias("d"))
              .unionAll(removable.select("id", (F.col("pos") + n).alias("p"),
                                         F.lit(-1).alias("d")))
              .groupBy("id", "p").agg(F.sum("d").alias("d")))

    wpos = (_words(df, id_col, text_col)
            .select("id", F.posexplode(_elements("w")).alias("p0", "word"))
            .select("id", (F.col("p0") + 1).alias("p"), "word"))
    cov_w = Window.partitionBy("id").orderBy("p")
    covered = (wpos.join(deltas, ["id", "p"], "left")
               .withColumn("cov",
                           F.sum(F.coalesce("d", F.lit(0))).over(cov_w)))
    return (covered.groupBy("id")
            .agg(F.concat_ws(" ", F.transform(
                     F.array_sort(F.collect_list(
                         F.when(F.col("cov") <= 0, F.struct("p", "word")))),
                     lambda s: s["word"])).alias("text"),
                 F.count(F.lit(1)).alias("n_words"),
                 F.sum(F.when(F.col("cov") > 0, 1).otherwise(0))
                 .alias("n_words_dropped"))
            .select(F.col("id").alias(id_col), "text", "n_words",
                    "n_words_dropped"))


LEV_PREFIX = 256


def lev_verify_pairs(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", threshold: float = 0.2,
                     prefix: int = LEV_PREFIX) -> DataFrame:
    """Edit-distance verification of the MinHash-LSH candidate pairs —
    the gold-standard second stage of the dedup funnel: LSH recalls
    candidates cheaply, exact Levenshtein on a bounded prefix confirms
    them (MinHash measures set overlap and misses small in-place edits;
    edit distance is the character-level truth). ``sim_e6`` is the
    normalized similarity (maxlen − lev)·1e6 div maxlen — pure integer.

    Distance runs on the first ``prefix`` chars with non-ASCII folded
    to '?' on BOTH engines: Spark's levenshtein counts characters while
    DuckDB's counts bytes, so the fold pins one semantics (and bounds
    the O(prefix²) DP cost per pair regardless of document length).

    Scale: candidate generation is minhash_lsh_pairs' banded equality
    join (never all-pairs); this stage adds two hash joins to fetch
    the prefix texts and a codegen'd DP per candidate — cost is
    pairs × prefix², independent of corpus doc length.

    Output: (id_a, id_b, lev, max_len, sim_e6), one row per verified
    candidate (empty-prefix pairs score 1e6 by convention).
    """
    pairs = minhash_lsh_pairs(df, id_col, text_col,
                              threshold=threshold).select("id_a", "id_b")
    txt = df.select(
        F.col(id_col).alias("id"),
        F.regexp_replace(F.substring(F.col(text_col), 1, prefix),
                         "[^\\x00-\\x7f]", "?").alias("t"))
    ta = txt.select(F.col("id").alias("id_a"), F.col("t").alias("ta"))
    tb = txt.select(F.col("id").alias("id_b"), F.col("t").alias("tb"))
    ml = F.greatest(F.length("ta"), F.length("tb")).cast("long")
    return (pairs.join(ta, "id_a").join(tb, "id_b")
            .select("id_a", "id_b",
                    F.levenshtein("ta", "tb").cast("long").alias("lev"),
                    ml.alias("max_len"))
            .select("id_a", "id_b", "lev", "max_len",
                    F.when(F.col("max_len") > 0,
                           F.expr("(max_len - lev) * 1000000L"
                                  " div max_len"))
                     .otherwise(F.lit(1_000_000).cast("long"))
                     .alias("sim_e6")))


WINNOW_K = 5   # char-gram size
WINNOW_W = 4   # winnowing window (guarantee threshold t = K + W - 1 = 8)


def winnow_fingerprints(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", k: int = WINNOW_K,
                        w: int = WINNOW_W) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the
    MOSS algorithm): hash every lowercased char k-gram, slide a
    w-position window, keep each window's minimum — any shared
    substring of length ≥ k+w−1 is GUARANTEED to contribute a shared
    fingerprint, the local-copy detector that doc_fingerprint's single
    rolling hash and MinHash's global set view both miss.

    The (hash, position) pair packs into ONE BIGINT — key = h₃₁·2³¹ +
    (2³¹−1−pos), h₃₁ = md5-60bit(gram) mod 2³¹ — so the window min
    implements the rightmost-smallest-hash tie rule with plain integer
    min on both engines (injective while docs stay under 2³¹ chars —
    the triangle_stats packing convention). Selected keys decode back
    to (pos, fp).

    Scale: ZERO shuffles before the final thinning — winnowing is
    per-document over positions, so the k-gram keys, the w-window
    minima and the per-doc dedup all run as in-row array expressions
    (transform/slice/array_min/array_distinct), replacing the former
    one-row-per-character explode + per-doc ordered window, which
    shuffled and sorted the ENTIRE character stream by doc id (guide
    §2.4; row-identical output, oracle-verified. Local sf0.1 wall is
    unchanged ~3.7 s — the operator is md5-bound, one hash per
    character — but the per-character shuffle+sort it drops is the part
    that grows with corpus size). The
    keys array stays behind its own projection so CollapseProject
    cannot inline the md5 chain into the per-window slice lambda (the
    word-array discipline in the module docstring).

    Output: (doc_id, pos, fp), one row per selected fingerprint; docs
    shorter than k+w−1 chars emit nothing (no full window).
    """
    base = (df.filter(F.col(id_col).isNotNull()
                      & F.col(text_col).isNotNull()
                      & (F.length(text_col) >= k))
            .select(F.col(id_col).alias("id"),
                    F.lower(F.col(text_col)).alias("t")))
    # keys[i] = h31(gram at pos i)·2³¹ + (2³¹−1−i), 1-indexed by position
    keyed = base.select("id", F.expr(
        f"transform(sequence(1, length(t) - {k} + 1),"
        f" i -> cast(conv(substring(md5(substring(t, i, {k})), 1, 15),"
        f"            16, 10) as bigint)"
        f"      % 2147483648L * 2147483648L"
        f"      + (2147483647L - cast(i as bigint)))").alias("keys"))
    # window minima exist only for pos ≥ w (full windows); sequence()
    # counts DOWN when stop < start, so the short-doc case must gate
    mins = F.when(
        F.size("keys") >= w,
        F.expr(f"transform(sequence({w}, size(keys)),"
               f" j -> array_min(slice(keys, j - {w} + 1, {w})))")
    ).otherwise(F.array().cast("array<bigint>"))
    sel = keyed.select("id", F.explode(F.array_distinct(mins)).alias("mk"))
    return sel.select(
        F.col("id").alias(id_col),
        (F.lit(2 ** 31 - 1) - F.col("mk") % F.lit(2 ** 31)).alias("pos"),
        F.expr("mk div 2147483648").alias("fp"))


PPJOIN_T_NUM = 1   # Jaccard threshold t = T_NUM / T_DEN (exact rational)
PPJOIN_T_DEN = 2


def ppjoin_pairs(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text", n: int = 3,
                 t_num: int = PPJOIN_T_NUM,
                 t_den: int = PPJOIN_T_DEN) -> DataFrame:
    """Prefix-filtered set-similarity self-join (the AllPairs/PPJoin
    principle, Bayardo et al. WWW'07 / Xiao et al. WWW'08): all document
    pairs with word-n-gram Jaccard ≥ t, WITHOUT the all-shared-shingles
    candidate join of jaccard_pairs. Each document's shingles sort by
    ascending global frequency (rarest first, ties by shingle text); two
    sets with Jaccard ≥ t MUST share a shingle inside each other's first
    p = s − ⌈t·s⌉ + 1 shingles, so candidate generation joins only those
    prefixes. A length filter (t·|a| ≤ |b| ≤ |a|/t) prunes before
    verification; verification re-joins the FULL shingle lists for the
    exact intersection, so the result is identical to brute force — the
    filter only removes pairs it can prove are below t.

    The threshold is an exact rational t_num/t_den, so every comparison
    is integer: ⌈t·s⌉ = (t_num·s + t_den − 1) div t_den, the length
    filter is t_den·small ≥ t_num·big, and the final test is
    t_den·inter ≥ t_num·(sa + sb − inter). jacc_e6 = inter·1e6 div
    union (DECIMAL(38,0) product). No float exists in the plan.

    Scale notes (100 TB): brute force generates Σ_shingle f² candidate
    rows — quadratic in the hottest shingle; the prefix join touches
    ~(1−t)·|doc| shingles per document and those are by construction
    the RAREST, so hot-shingle blowup is structurally excluded (the
    frequency-ascending order is exactly the optimization the papers
    prove minimal). The global order is (frequency, shingle) used
    DIRECTLY — no dense rank, hence no global window anywhere in the
    plan; the only window partitions by document id.

    Output: (id_a, id_b, n_a, n_b, n_common, jacc_e6), pairs id_a < id_b.
    """
    arrs = shingle_arrays(df, id_col, text_col, n)
    sh = arrs.select("id", F.explode(_elements("sharr")).alias("shingle"))
    # the vocab-sized frequency table is consumed by all the tok
    # pipelines below (prefix sides + verify sides): persist IT — one
    # corpus aggregate instead of four — released once the result is
    # materialized. The papers' global frequency order needs NO dense
    # rank (and therefore NO global window anywhere): (f, shingle) is
    # already a total order, the per-document prefix positions come from
    # an id-partitioned window over it, and both the candidate and verify
    # joins key on the shingle itself.
    with Pins() as p:
        freq = p.pin(sh.groupBy("shingle")
                     .agg(F.count(F.lit(1)).alias("f")))
        tok = (arrs.select("id", F.size("sharr").cast("long").alias("s"),
                           F.explode(_elements("sharr")).alias("shingle"))
               .join(freq, "shingle").select("id", "shingle", "f", "s"))
        wid = Window.partitionBy("id")
        tokp = tok.withColumn("pos", F.row_number().over(
            wid.orderBy("f", "shingle")))
        ceil_ts = F.expr(f"({t_num} * s + {t_den - 1}) div {t_den}")
        pref = tokp.filter(F.col("pos") <= F.col("s") - ceil_ts + 1)
        a = pref.select(F.col("id").alias("id_a"),
                        F.col("s").cast("long").alias("n_a"), "shingle")
        b = pref.select(F.col("id").alias("id_b"),
                        F.col("s").cast("long").alias("n_b"), "shingle")
        cand = (a.join(b, "shingle")
                .filter((F.col("id_a") < F.col("id_b"))
                        & (t_den * F.col("n_a") >= t_num * F.col("n_b"))
                        & (t_den * F.col("n_b") >= t_num * F.col("n_a")))
                .select("id_a", "id_b", "n_a", "n_b").distinct())
        # verification via the in-row arrays: two doc-keyed joins fetch each
        # side's distinct-shingle array and ONE map-side array_intersect
        # computes the exact intersection — replacing the former re-join of
        # the fully exploded shingle stream against the candidates (two more
        # corpus-stream shuffles + a pair aggregate; guide §2.4). Exact
        # equivalence: the arrays are per-doc distinct, so
        # size(array_intersect) IS the shared-shingle count (verified
        # exceptAll-empty both ways at sf0.1, ~1.2 s faster in-window).
        aa = arrs.select(F.col("id").alias("id_a"), F.col("sharr").alias("sa"))
        ab = arrs.select(F.col("id").alias("id_b"), F.col("sharr").alias("sb"))
        inter = (cand.join(aa, "id_a").join(ab, "id_b")
                 .select("id_a", "id_b", "n_a", "n_b",
                         F.size(F.array_intersect("sa", "sb")).cast("long")
                          .alias("n_common")))
        out = (inter.filter(t_den * F.col("n_common")
                            >= t_num * (F.col("n_a") + F.col("n_b")
                                        - F.col("n_common")))
               .select("id_a", "id_b", "n_a", "n_b", "n_common",
                       F.expr("cast(n_common as decimal(38,0)) * 1000000"
                              " div (n_a + n_b - n_common)").alias("jacc_e6")))
        return p.result(out)


def ppjoin_oracle_sql(t_num: int = PPJOIN_T_NUM,
                      t_den: int = PPJOIN_T_DEN) -> str:
    """DuckDB twin of ppjoin_pairs — deliberately BRUTE FORCE (all
    shared shingles, no prefix filter, no frequency cap): the oracle
    checks the prefix filter's exactness claim, not a mirrored plan.
    Same integer threshold algebra, same jacc_e6 quantization."""
    return rf"""
        WITH ppw AS (
            SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w
            FROM documents
        ),
        ppsh AS (
            SELECT DISTINCT doc_id AS id,
                   array_to_string(w[i:i+2], ' ') AS shingle
            FROM ppw, UNNEST(range(1, len(w) - 1)) AS t(i)
        ),
        ppsz AS (SELECT id, count(*)::BIGINT AS s FROM ppsh GROUP BY id),
        ppc AS (
            SELECT a.id AS id_a, b.id AS id_b, count(*)::BIGINT AS n_common
            FROM ppsh a JOIN ppsh b USING (shingle)
            WHERE a.id < b.id GROUP BY a.id, b.id
        )
        SELECT id_a, id_b, sa.s AS n_a, sb.s AS n_b, n_common,
               (n_common::HUGEINT * 1000000
                // (sa.s + sb.s - n_common))::BIGINT AS jacc_e6
        FROM ppc
        JOIN ppsz sa ON sa.id = id_a
        JOIN ppsz sb ON sb.id = id_b
        WHERE {t_den} * n_common >= {t_num} * (sa.s + sb.s - n_common)
    """


def cross_source_dups(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text",
                      threshold: float = 0.2) -> DataFrame:
    """Cross-source duplication matrix — WHERE the near-duplicate mass
    sits: every jaccard_pairs near-dup pair labels with its two
    sources (unordered, least/greatest normalized) and the matrix
    counts pairs per source pair. Diagonal rows = intra-crawl
    duplication (fix with per-source dedup); heavy off-diagonal rows =
    one crawl mirroring another (fix by dropping a source). The
    pair-level companion to source_modularity's single number.

    share_e6 = n_pairs·1e6 div total (DECIMAL(38,0) product) — exact.

    Scale: pair generation is jaccard_pairs (frequency-capped shingle
    join); the source labeling is two joins against the (id, source)
    projection — at 100 TB, broadcast-sized relative to pairs. The
    matrix itself is ≤ |sources|² rows.

    Output: (src_lo, src_hi, n_pairs, share_e6).
    """
    pairs = jaccard_pairs(docs, id_col, text_col, threshold=threshold)
    src = docs.select(F.col(id_col).alias("id"), "source")
    lab = (pairs
           .join(src.select(F.col("id").alias("id_a"),
                            F.col("source").alias("s_a")), "id_a")
           .join(src.select(F.col("id").alias("id_b"),
                            F.col("source").alias("s_b")), "id_b")
           .select(F.least("s_a", "s_b").alias("src_lo"),
                   F.greatest("s_a", "s_b").alias("src_hi")))
    m = lab.groupBy("src_lo", "src_hi").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"))
    tot = m.agg(F.sum("n_pairs").cast("long").alias("tot"))
    return (m.crossJoin(F.broadcast(tot))
            .select("src_lo", "src_hi", "n_pairs",
                    F.expr("cast(n_pairs as decimal(38,0)) * 1000000"
                           " div tot").alias("share_e6")))


def blocking_quality(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", n: int = 3,
                     num_hashes: int = 64, bands: int = 16,
                     threshold: float = 0.2) -> DataFrame:
    """Blocking-quality audit of the MinHash-LSH candidate generator —
    the two numbers record-linkage literature grades a blocker on:
    reduction ratio RR = 1 − |candidates| / C(n,2) (how much of the
    quadratic pair space the bands prune) and pairs completeness
    PC = |candidates ∩ true pairs| / |true pairs| (recall against the
    brute-force Jaccard truth at ``threshold``). The S-curve tuning
    loop in one query: move bands/rows, watch RR·PC.

    Exact integers: rr_e6 = (C(n,2) − n_cand)·1e6 div C(n,2) and
    pc_e6 = n_found·1e6 div n_true in DECIMAL(38,0) (C(n,2) ~ 1e24 at
    corpus scale). n_docs counts shingle-bearing documents (the pair
    universe both sides draw from).

    Scale: the truth side is the brute-force shingle join — by
    construction the expensive half (it is the thing the blocker
    replaces); run this audit on a sample in production, which is
    exactly how blocking quality is measured in practice. Both the
    truth pair set and the signature table persist for their two
    consumers and release eagerly.

    Output: one row (n_docs, n_true, n_cand, n_found, rr_e6, pc_e6).
    """
    with Pins() as p:
        truth = p.pin(jaccard_pairs(df, id_col, text_col, n, threshold)
                      .select("id_a", "id_b"))
        sig = p.pin(minhash_signatures(df, id_col, text_col, n, num_hashes))
        cand = _band_candidates(sig, bands, num_hashes // bands)
        nd = (shingle_arrays(df, id_col, text_col, n)
              .filter(F.size("sharr") > 0)
              .agg(F.count(F.lit(1)).cast("long").alias("n_docs")))
        t = truth.agg(F.count(F.lit(1)).cast("long").alias("n_true"))
        c = cand.agg(F.count(F.lit(1)).cast("long").alias("n_cand"))
        f = (cand.join(truth, ["id_a", "id_b"])
             .agg(F.count(F.lit(1)).cast("long").alias("n_found")))
        return p.result(
            nd.crossJoin(t).crossJoin(c).crossJoin(f)
            .filter(F.col("n_true") > 0)
            .select("n_docs", "n_true", "n_cand", "n_found",
                    F.expr("(cast(n_docs as decimal(38,0)) * (n_docs - 1)"
                           " div 2 - n_cand) * 1000000"
                           " div (cast(n_docs as decimal(38,0))"
                           " * (n_docs - 1) div 2)").alias("rr_e6"),
                    F.expr("cast(n_found as decimal(38,0)) * 1000000"
                           " div n_true").alias("pc_e6")))


def dedup_savings(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text",
                  threshold: float = 0.2) -> DataFrame:
    """The dedup business case in two rows: bytes saved by the EXACT
    tier (byte-identical copies collapse to one) and by the NEAR-DUP
    CLUSTER tier (keep one canonical per connected component of the
    Jaccard graph) — each as an absolute number and a share of total
    corpus bytes. The first question any 100 TB dedup project gets
    asked, answered from the same primitives the pipeline already
    runs (exact_dedup; jaccard_pairs → connected_components).

    Note the tiers are reported INDEPENDENTLY (each vs the raw
    corpus), not stacked — the cluster tier subsumes the exact tier
    (identical texts share all shingles), so cluster savings ≥ exact
    savings and the delta is the near-dup-only mass.

    All-integer: per-group byte math on n_chars, save_ratio_e6 =
    saved·1e6 div corpus_bytes in DECIMAL(38,0).

    Output: (tier, n_groups, n_docs_grouped, bytes_saved,
    save_ratio_e6); tier ∈ {'exact', 'cluster'}.
    """
    from bella_domify_spark.ops.graph import connected_components

    base = docs.select(F.col(id_col).alias("id"),
                       F.col(text_col).alias("text"),
                       F.col("n_chars").cast("long").alias("nb"))
    tot = base.agg(F.sum("nb").cast("long").alias("corpus_bytes"))
    # exact tier: identical texts have identical lengths — saved =
    # (n_dups − 1)·len per md5 group with n_dups ≥ 2
    ex = (base.groupBy(F.md5("text").alias("k"))
          .agg(F.count(F.lit(1)).cast("long").alias("n"),
               F.sum("nb").cast("long").alias("b"),
               F.min("nb").cast("long").alias("keep_b"))
          .filter(F.col("n") >= 2))
    ex_row = ex.agg(F.lit("exact").alias("tier"),
                    F.count(F.lit(1)).cast("long").alias("n_groups"),
                    F.coalesce(F.sum("n"), F.lit(0)).cast("long")
                     .alias("n_docs_grouped"),
                    F.coalesce(F.sum(F.col("b") - F.col("keep_b")),
                               F.lit(0)).cast("long")
                     .alias("bytes_saved"))
    # cluster tier: keep min-id canonical per near-dup component
    cc = connected_components(jaccard_pairs(docs, id_col, text_col,
                                            threshold=threshold),
                              node_out="id")
    cl = (cc.join(base.select("id", "nb"), "id")
          .select("id", "canonical_id", "nb"))
    cl_row = cl.agg(
        F.lit("cluster").alias("tier"),
        F.countDistinct("canonical_id").cast("long").alias("n_groups"),
        F.count(F.lit(1)).cast("long").alias("n_docs_grouped"),
        F.sum(F.when(F.col("id") != F.col("canonical_id"), F.col("nb"))
              .otherwise(0)).cast("long").alias("bytes_saved"))
    return (ex_row.unionByName(cl_row)
            .crossJoin(F.broadcast(tot))
            .select("tier", "n_groups", "n_docs_grouped", "bytes_saved",
                    F.expr("cast(bytes_saved as decimal(38,0)) * 1000000"
                           " div corpus_bytes").alias("save_ratio_e6")))
