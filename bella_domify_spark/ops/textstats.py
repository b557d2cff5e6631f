"""Text analysis operators: language ID, quality scoring, token counting,
document fingerprinting.

Everything here is built from ``pyspark.sql.functions`` expressions — JVM
side, vectorized, whole-stage-codegen'd — so each operator has an exact ANSI
SQL twin for the DuckDB oracle (same formulas, same results).
"""

from __future__ import annotations

import math as _math

from pyspark.sql import DataFrame, Column, Window, functions as F

# tiny per-language stopword marker sets for the n-gram/stopword heuristic;
# deliberately small + deterministic so the SQL oracle can mirror them
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "ist", "das"],
    "fr": ["le", "la", "et", "est", "les"],
    "es": ["el", "la", "que", "de", "es"],
}

TOKEN_REGEX = r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"


def _count_word(text: Column, w: str) -> Column:
    # count occurrences of a word with spaces as delimiters (head/tail padded)
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    return (F.length(padded)
            - F.length(F.replace(padded, F.lit(f" {w} "), F.lit("")))) / (len(w) + 2)


def quality_features(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Length / word / punctuation / uppercase features + a composite score.

    score = 1 within [20, 2000] chars scaled by word-length sanity; the
    composite is a deterministic arithmetic formula (SQL-mirrorable).
    """
    text = F.col(text_col)
    n_chars = F.length(text)
    n_words = F.size(F.split(text, r"\s+"))
    n_punct = n_chars - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    n_upper = n_chars - F.length(F.regexp_replace(text, r"[A-Z]", ""))
    avg_word_len = (n_chars - (n_words - 1)) / n_words
    score = (
        F.when(n_chars < 20, 0.0).otherwise(1.0)
        * F.when(avg_word_len > 12, 0.5).otherwise(1.0)
        * (1.0 - (n_punct / (n_chars + 1)))
    )
    return df.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_words.cast("int").alias("n_words"),
        n_punct.alias("n_punct"),
        n_upper.alias("n_upper"),
        F.round(avg_word_len, 4).alias("avg_word_len"),
        F.round(score, 4).alias("quality_score"),
    )


def lang_id(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Stopword-marker language heuristic: the language whose marker words
    occur most often wins; ties and zero evidence → 'und' (undetermined).
    Deterministic tie-break: language order as in LANG_MARKERS."""
    text = F.col(text_col)
    scores = {lang: sum((_count_word(text, w) for w in words), F.lit(0.0))
              for lang, words in LANG_MARKERS.items()}
    langs = list(LANG_MARKERS)
    best = F.lit("und")
    best_score = F.lit(0.0)
    # forward iteration with strict > ⇒ the earliest language in
    # LANG_MARKERS order wins ties
    for lang in langs:
        cond = scores[lang] > best_score
        best = F.when(cond, F.lit(lang)).otherwise(best)
        best_score = F.when(cond, scores[lang]).otherwise(best_score)
    return df.select(
        F.col(id_col),
        *[scores[lang].cast("double").alias(f"score_{lang}") for lang in langs],
        best.alias("lang_pred"),
    )


def _md5_mod(col, n) -> "Column":  # noqa: F821
    """md5(str(col)) first-15-hex-digits as a 60-bit long, mod n — THE
    content-addressed hash of this module (train_split buckets, shard
    assignment). DuckDB twin: ('0x'||substr(md5(x),1,15))::BIGINT % n.
    One definition so the oracle-pinned formula cannot drift per caller
    (the int map itself lives in hashfamily.md5_int60_col)."""
    from bella_domify_spark.ops.hashfamily import md5_int60_col

    return F.pmod(md5_int60_col(col.cast("string")), F.lit(n))


def _ws_tokens(text) -> "Column":  # noqa: F821
    """Whitespace token count; twin of the oracle's
    length(regexp_split_to_array(trim(text), '\\s+'))."""
    return F.size(F.split(F.trim(text), r"\s+"))


def token_counts(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Whitespace token count + BPE-ish regex token count (words and
    individual punctuation marks)."""
    text = F.col(text_col)
    return df.select(
        F.col(id_col),
        _ws_tokens(text).alias("ws_tokens"),
        F.size(F.regexp_extract_all(text, F.lit(TOKEN_REGEX), 0)).alias("re_tokens"),
    )


def flesch_reading(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Flesch reading-ease per document — the quality-gate staple beyond
    the Gopher ratios: ``206.835 − 1.015·(words/sentences) −
    84.6·(syllables/words)``. Syllables are the classic vowel-group
    heuristic (runs of [aeiouy] in the lowercased text), sentences count
    [.!?]+ runs (min 1 — a fragment is one sentence). All three counts
    are exact integers from regex counting; the formula is then one
    fixed-shape IEEE double expression, identical operand order on both
    engines, floor-e3 quantized. Documents with zero words drop out
    (both engines agree).

    Scale: pure per-row JVM regexp expressions inside whole-stage
    codegen — no shuffle, no Python.

    Output: (doc_id, n_words, n_sentences, n_syllables, flesch_e3).
    """
    text = F.col(text_col)
    low = F.lower(text)
    nw = _ws_tokens(text)
    ns = F.greatest(F.size(F.regexp_extract_all(text, F.lit(r"[.!?]+"), 0)),
                    F.lit(1))
    nsy = F.size(F.regexp_extract_all(low, F.lit("[aeiouy]+"), 0))
    flesch = (F.lit(206.835)
              - F.lit(1.015) * (nw.cast("double") / ns.cast("double"))
              - F.lit(84.6) * (nsy.cast("double") / nw.cast("double")))
    return (df.select(F.col(id_col), nw.alias("n_words"),
                      ns.alias("n_sentences"), nsy.alias("n_syllables"),
                      F.floor(flesch * 1e3).cast("long").alias("flesch_e3"))
            .filter(F.col("n_words") > 0))


def flesch_oracle_sql() -> str:
    """DuckDB twin of flesch_reading (vowel-group + sentence-run regexes
    and the operand order pinned beside the Spark code)."""
    return r"""
        WITH c AS (
            SELECT doc_id,
                   length(regexp_split_to_array(trim(text), '\s+'))
                       AS n_words,
                   greatest(length(regexp_extract_all(text, '[.!?]+')), 1)
                       AS n_sentences,
                   length(regexp_extract_all(lower(text), '[aeiouy]+'))
                       AS n_syllables
            FROM documents
        )
        SELECT doc_id, n_words, n_sentences, n_syllables,
               floor((206.835
                      - 1.015 * (n_words::DOUBLE / n_sentences::DOUBLE)
                      - 84.6 * (n_syllables::DOUBLE / n_words::DOUBLE))
                     * 1e3)::BIGINT AS flesch_e3
        FROM c WHERE n_words > 0
    """


def fingerprint(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Normalized-content fingerprint: lowercase, strip non-alnum, collapse
    whitespace, md5. Two docs differing only in case/punctuation/spacing
    collide — the classic near-dup canonical key."""
    norm = F.regexp_replace(
        F.regexp_replace(F.lower(F.col(text_col)), r"[^a-z0-9\s]", ""),
        r"\s+", " ")
    return df.select(F.col(id_col), F.md5(F.trim(norm)).alias("fingerprint"))


def train_split(df: DataFrame, id_col: str = "doc_id",
                val_pct: int = 5, test_pct: int = 5) -> DataFrame:
    """Deterministic train/val/test assignment: bucket = md5(id) mod 100.

    Content-addressed splits are the training-pipeline staple — stable
    across runs, cluster sizes, and row order (unlike ``df.randomSplit``,
    whose assignment depends on partitioning), and new data lands in the
    same proportions without reshuffling old rows. Pure Catalyst
    expressions; no shuffle at all — the assignment is a map-side
    projection that scans at full width on 100 TB.
    """
    bucket = _md5_mod(F.col(id_col), 100)
    split = (F.when(bucket < test_pct, F.lit("test"))
             .when(bucket < test_pct + val_pct, F.lit("val"))
             .otherwise(F.lit("train")))
    return df.select(F.col(id_col), bucket.cast("int").alias("bucket"),
                     split.alias("split"))


def pack_shards(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text",
                tokens_per_shard: int = 2000) -> DataFrame:
    """Token-budget sharding for training: ``(id, tokens, shard_id)`` with
    shard count = ceil(total_tokens / tokens_per_shard) and assignment by
    content-addressed hash (md5(id) mod n_shards).

    Deliberately NOT greedy bin packing: an exact cumulative-sum pack
    needs a total order over the corpus, i.e. a window whose orderBy spans
    one task per split — a serial stage at 100 TB. Hash assignment is
    embarrassingly parallel, stable under any partitioning, and shard
    token totals concentrate around the budget by the law of large numbers
    (spread shrinks as docs-per-shard grows; pinned by a balance test).
    Cost: one count-tokens aggregate (driver scalar) + one projection.
    """
    import math

    toks = df.select(
        F.col(id_col),
        _ws_tokens(F.col(text_col)).alias("tokens"))
    total = toks.agg(F.sum("tokens")).collect()[0][0] or 0
    n_shards = max(1, math.ceil(total / tokens_per_shard))
    shard = _md5_mod(F.col(id_col), n_shards)
    return toks.select(F.col(id_col), "tokens",
                       shard.cast("int").alias("shard_id"))


# deliberately simple, engine-portable patterns (RE2 ∩ Java regex: no
# backrefs, no lookarounds) so the DuckDB oracle matches bit-for-bit
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b(\d{1,3}\.){3}\d{1,3}\b"


def redact_pii(df: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """PII scrubbing: replace emails and IPv4 literals with typed tags and
    count what was removed — the pre-release redaction pass every
    training corpus runs. Pure Catalyst regexp expressions (whole-stage
    codegen, no shuffle, no Python)."""
    text = F.col(text_col)
    n = (F.size(F.regexp_extract_all(text, F.lit(PII_EMAIL), 0))
         + F.size(F.regexp_extract_all(text, F.lit(PII_IPV4), 0)))
    redacted = F.regexp_replace(
        F.regexp_replace(text, PII_EMAIL, "<EMAIL>"),
        PII_IPV4, "<IP>")
    return df.select(F.col(id_col), redacted.alias("redacted_text"),
                     n.cast("int").alias("n_redactions"))


def repetition_stats(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Repetition quality signals (Gopher-style): duplicate-word ratio and
    the most-frequent word's share per document. One explode + two hash
    aggregates with map-side partial combine; words hash by (doc, word)
    so a giant document spreads across the first aggregate's tasks."""
    words = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("w"))
    counts = (words.filter(F.col("w") != "")
              .groupBy("id", "w").agg(F.count(F.lit(1)).alias("c")))
    return (counts.groupBy("id")
            .agg(F.sum("c").alias("n_words"),
                 F.count(F.lit(1)).alias("n_distinct_words"),
                 F.max("c").alias("top_c"))
            .select(F.col("id").alias(id_col), "n_words",
                    "n_distinct_words",
                    F.round(1 - F.col("n_distinct_words") / F.col("n_words"),
                            6).alias("dup_word_ratio"),
                    F.round(F.col("top_c") / F.col("n_words"), 6)
                    .alias("top_word_ratio")))


def sample_stratified(df: DataFrame, rates: dict, strata_col: str = "lang",
                      id_col: str = "doc_id",
                      default_rate: float = 1.0) -> DataFrame:
    """Deterministic stratified downsampling: keep a document iff
    md5(id) mod 10^6 < rate(stratum) × 10^6 — the content-addressed way
    to rebalance over-represented strata (languages, sources). Unlike
    ``df.sampleBy``, the decision depends only on the id, so it is stable
    across runs, partitionings, and incremental corpus growth, and the
    SAME documents survive when the job re-runs. Map-side projection +
    filter; no shuffle."""
    bucket = _md5_mod(F.col(id_col), 1_000_000)
    # thresholds as driver-side ints: float math per-row would truncate
    # binary-unrepresentable rates (0.29*1e6 → 289999.999…) one bucket
    # short of the documented bucket < rate×10^6 contract
    threshold = F.lit(int(round(float(default_rate) * 1_000_000)))
    for stratum, r in sorted(rates.items()):
        threshold = F.when(F.col(strata_col) == stratum,
                           F.lit(int(round(float(r) * 1_000_000)))) \
                     .otherwise(threshold)
    return df.filter(bucket < threshold)


def _bigrams(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, w1, w2): every adjacent pair of non-empty words of each
    document (lower + ``\\s+`` split)."""
    # producers behind their own projection: a transform() capturing
    # split() would re-evaluate it per element
    words = df.select(F.col(id_col).alias("id"),
                      F.split(F.lower(F.col(text_col)), r"\s+").alias("a"))
    n = F.size("a")
    return (words.select(
        "id", F.explode(F.arrays_zip(
            F.slice("a", 1, n - 1).alias("w1"),
            F.slice("a", 2, n - 1).alias("w2"))).alias("z"))
        .select("id", F.col("z.w1").alias("w1"), F.col("z.w2").alias("w2"))
        .filter((F.col("w1") != "") & (F.col("w2") != "")))


def bigram_surprisal(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Perplexity-proxy quality signal: per-document mean conditional
    bigram surprisal -ln(c(w1,w2)/c(w1)) under the corpus's OWN bigram
    statistics (the zero-external-model analogue of perplexity filtering —
    low mean = templated/repetitive text, high mean = unusual word
    transitions). c(w1) is the count of bigrams starting with w1, so
    p(w2|w1) is the exact MLE over the bigram table.

    Exact-hash discipline: each bigram's surprisal quantizes via
    ``floor(x * 1e12)`` — floor of an IEEE multiply is bit-identical
    across engines on identical inputs, unlike ``round()``, whose
    implementations genuinely differ (Spark rounds the shortest decimal
    repr HALF_UP, DuckDB scales-and-rounds the binary double: confirmed
    divergent at e.g. c12=25/c1=358). The quantized integers sum as
    DECIMAL(20,0) — exact, partition-order-free, overflow-safe for
    billion-bigram documents.

    Scale: the bigram stream (the largest relation) is aggregated ONCE
    (``groupBy(w1, w2)``) and joined ONCE — c1 derives from c12 (an
    aggregate-sized input) and pre-joins into it, so the big stream never
    shuffles a second time. Docs under two words have no bigrams and drop
    out (both engines agree)."""
    bi = _bigrams(df, id_col, text_col)
    c12 = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    stats = c12.join(c1, ["w1"]).select(
        "w1", "w2",
        F.floor(-F.log(F.col("c12").cast("double") / F.col("c1"))
                * F.lit(1e12)).cast("decimal(20,0)").alias("s"))
    s = bi.join(stats, ["w1", "w2"]).select("id", "s")
    return (s.groupBy("id")
            .agg(F.count(F.lit(1)).alias("n_bigrams"),
                 F.sum("s").alias("ssum"))
            .select(F.col("id").alias(id_col), "n_bigrams",
                    # integer-exact mean at 1e-6: ssum (1e12-scaled) div
                    # n_bigrams*1e6 — no double round-trip, so no round()
                    # divergence risk at any scale factor
                    F.expr("ssum div (CAST(n_bigrams AS DECIMAL(20,0))"
                           " * 1000000)").cast("long")
                    .alias("mean_surprisal_e6")))


#: Gopher-rule stopword probe set (Rae et al. 2021 §A1.1 use
#: {the, be, to, of, and, that, have, with}; the corpus vocabulary
#: contains a/the — the rule counts DISTINCT probe words present)
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with", "a")


def gopher_quality(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text",
                   min_words: int = 50, max_words: int = 100_000,
                   min_mean_word_len: float = 3.0,
                   max_mean_word_len: float = 10.0,
                   min_stop_hits: int = 2) -> DataFrame:
    """Gopher-style repetition-free quality gates (Rae et al. 2021, §A1.1)
    as pure JVM expressions: word-count window, mean-word-length window,
    alphabetic-word ratio, and the stopword-presence rule (≥2 distinct
    probe words). Output flags each rule plus the composite ``keep``.

    Exact-hash discipline: mean word length is emitted as
    ``mean_word_len_e4 = floor(x*1e4)`` BIGINT and the alpha ratio as
    ``alpha_ratio_e4`` — floor of an IEEE divide+multiply on identical
    integer inputs is bit-identical across engines (cf. bigram_surprisal).
    The mean's numerator is the SUM of word lengths (integer), never
    "chars minus separators" — multi-char whitespace runs must not count
    as word characters. Zero-word documents (empty/whitespace-only text)
    would divide by zero under ANSI mode: they emit NULL means/ratios and
    False flags instead of failing the job.

    Scale: one projection, no shuffle at all — the filter composes with
    any downstream groupBy/join and Catalyst pushes it into the scan."""
    text = F.col(text_col)
    words = F.filter(F.split(F.lower(text), r"\s+"), lambda w: w != "")
    n_words = F.size(words)
    has_words = n_words > 0
    word_chars = F.aggregate(words, F.lit(0),
                             lambda acc, w: acc + F.length(w))
    mean_wl = F.when(has_words, word_chars / n_words)   # NULL on 0 words
    alpha = F.size(F.filter(words, lambda w: w.rlike("^[a-z]+$")))
    stop_hits = F.size(F.array_intersect(
        F.array_distinct(words),
        F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])))
    ok_words = (n_words >= min_words) & (n_words <= max_words)
    ok_wl = F.when(has_words, (mean_wl >= min_mean_word_len)
                   & (mean_wl <= max_mean_word_len)).otherwise(F.lit(False))
    ok_stop = stop_hits >= min_stop_hits
    return df.select(
        F.col(id_col),
        n_words.cast("int").alias("n_words"),
        F.floor(mean_wl * F.lit(1e4)).cast("long").alias("mean_word_len_e4"),
        F.floor(F.when(has_words, alpha / n_words) * F.lit(1e4))
        .cast("long").alias("alpha_ratio_e4"),
        stop_hits.cast("int").alias("stop_hits"),
        ok_words.alias("ok_word_count"),
        ok_wl.alias("ok_word_len"),
        ok_stop.alias("ok_stopwords"),
        (ok_words & ok_wl & ok_stop).alias("keep"))


def tfidf_keywords(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", k: int = 3) -> DataFrame:
    """Top-``k`` TF-IDF keywords per document, integer-exact:
    ``idf_e12 = floor(ln(N/df)*1e12)`` is a BIGINT (N, df are integers, so
    both engines compute the identical double before the floor), and
    ``score_e12 = tf * idf_e12`` is a pure integer product — no float
    leaves the plan. Rank ties break on the term (deterministic total
    order).

    Scale: two aggregations over the exploded token stream (both
    partial-combining) + one broadcast-sized join on the term — the
    document-frequency table is vocabulary-sized, tiny next to the corpus.
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("w")) \
        .filter(F.col("w") != "")
    tf = toks.groupBy("id", "w").agg(F.count(F.lit(1)).alias("tf"))
    # N stays IN the plan (1-row aggregate cross-joined into the tiny
    # dfreq side) — an eager .first() here would run a full extra scan at
    # every plan construction and make the builder non-lazy
    n_docs = df.select(F.count(F.lit(1)).alias("_n"))
    dfreq = (tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
             .crossJoin(F.broadcast(n_docs))
             .withColumn("idf_e12",
                         F.floor(F.log(F.col("_n").cast("double")
                                       / F.col("df"))
                                 * F.lit(1e12)).cast("long"))
             .drop("_n"))
    scored = (tf.join(F.broadcast(dfreq), "w")
              .withColumn("score_e12", F.col("tf") * F.col("idf_e12")))
    win = Window.partitionBy("id").orderBy(F.col("score_e12").desc(),
                                           F.col("w").asc())
    return (scored.withColumn("rank", F.row_number().over(win))
            .filter(F.col("rank") <= k)
            .select(F.col("id").alias(id_col), F.col("w").alias("term"),
                    "tf", "df", "score_e12", "rank"))


#: default target mixture for mix_weights (shares sum to 1; any stratum
#: absent here gets target 0 and is dropped from sampling)
DEFAULT_MIX = {"en": 0.5, "de": 0.15, "fr": 0.15, "es": 0.1, "zh": 0.1}


def mix_weights(df: DataFrame, strata_col: str = "lang",
                text_col: str = "text",
                targets: dict = None,
                budget_tokens: int = 10_000) -> DataFrame:
    """Static domain-mixture reweighting (the DoReMi-style data-mixing
    step of a training pipeline, with FIXED target shares): given each
    stratum's token supply and a target share of a ``budget_tokens``
    training budget, emit the per-stratum sampling rate
    ``min(1, want / have)`` and the expected token yield.

    All-integer outputs: ``want_tokens`` is a driver-side exact integer
    (share × budget, floored once per stratum from dict constants), the
    rate and share quantize via floor×1e6 from integer inputs — bit-equal
    across engines.

    Scale: ONE partial-combining aggregate over the corpus (per-stratum
    token sums — strata are enum-like); everything after is
    strata-×-columns sized. The emitted rate pairs with the
    content-addressed sampler (``sample_stratified``) so the actual
    subsetting stays deterministic and shuffle-free."""
    targets = DEFAULT_MIX if targets is None else targets
    toks = df.select(F.col(strata_col).alias("stratum"),
                     _ws_tokens(F.col(text_col)).alias("t"))
    have = toks.groupBy("stratum").agg(F.sum("t").alias("have_tokens"))
    want = F.create_map(*[x for k, share in sorted(targets.items())
                          for x in (F.lit(k),
                                    F.lit(int(share * budget_tokens)))])
    out = have.withColumn(
        "want_tokens",
        F.coalesce(F.element_at(want, F.col("stratum")),
                   F.lit(0)).cast("long"))
    rate = F.least(F.lit(1.0),
                   F.col("want_tokens") / F.col("have_tokens"))
    return out.select(
        F.col("stratum").alias(strata_col), "have_tokens", "want_tokens",
        F.floor(rate * F.lit(1e6)).cast("long").alias("sample_rate_e6"),
        F.least(F.col("want_tokens"), F.col("have_tokens"))
        .alias("expected_tokens"))


def sample_weighted(df: DataFrame, k: int = 50, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis &
    Spirakis 2006, A-ES): each doc gets key = -ln(u)/w with weight w =
    its whitespace token count; the k SMALLEST keys win, which samples
    docs with probability proportional to weight, without replacement.

    The "uniform" u is content-addressed — u = (md5_60(id)+0.5)/2^60 in
    (0,1) — so the sample is a pure function of doc ids: stable across
    runs, partitionings, and cluster sizes (the same property
    sample_stratified gets from its hash bucket, extended to weighted
    draws). Keys quantize floor×1e12 (the bigram_surprisal ln contract)
    and ties break by id, so the selection is bit-stable cross-engine.

    Scale: the key is a map-side projection; top-k is ONE global
    row_number window over (key, id). At 10^12 rows a single-partition
    global window is the wrong plan — the scale path is the standard
    top-k two-step (per-partition k via sortWithinPartitions+limit, then
    global k over partitions×k rows), which AQE-era Spark realizes via
    ``ORDER BY key LIMIT k`` (TakeOrderedAndProject — no single-task
    sort); this operator keeps the window form because the driver oracle
    needs rank as a column. Selection is identical either way."""
    from bella_domify_spark.ops.hashfamily import md5_int60_col

    w_tok = _ws_tokens(F.col(text_col))
    u = (md5_int60_col(F.col(id_col).cast("string")).cast("double") + 0.5) \
        / F.lit(float(2 ** 60))
    key_e12 = F.floor(-F.log(u) / w_tok * F.lit(1e12))
    win = Window.orderBy(F.col("key_e12").asc(), F.col(id_col).asc())
    return (df.select(F.col(id_col), w_tok.alias("weight_tokens"),
                      key_e12.alias("key_e12"))
            .withColumn("rank", F.row_number().over(win))
            .filter(F.col("rank") <= k))


def chunk_docs(df: DataFrame, chunk_tokens: int = 64, overlap: int = 16,
               id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Split documents into fixed-size training chunks of ``chunk_tokens``
    whitespace tokens with ``overlap`` tokens of context carried between
    consecutive chunks (stride = chunk_tokens - overlap). The last chunk
    may be short; a doc at or under one chunk yields exactly one chunk.

    n_chunks = 1 + ceil(max(n - chunk, 0) / stride) in pure integer math,
    identical in both engines. The whole operator is a map-side projection
    + explode — no shuffle, no UDF; at 100 TB the fan-out (~n/stride rows
    per doc) streams through whole-stage codegen and lands directly in
    the sink's partitioning."""
    stride = chunk_tokens - overlap
    if stride <= 0:
        raise ValueError("overlap must be smaller than chunk_tokens")
    toks = df.select(F.col(id_col),
                     F.split(F.trim(F.col(text_col)), r"\s+").alias("a"))
    n = F.size("a")
    over = F.greatest(n - chunk_tokens, F.lit(0))
    n_chunks = F.lit(1) + (over + (stride - 1)).cast("long") / F.lit(stride)
    n_chunks = F.floor(n_chunks)  # integer ceil division
    chunks = toks.select(
        id_col, "a",
        F.explode(F.sequence(F.lit(0), (n_chunks - 1).cast("int")))
        .alias("chunk_idx"))
    piece = F.slice("a", F.col("chunk_idx") * stride + 1, chunk_tokens)
    return chunks.select(
        F.col(id_col), "chunk_idx",
        F.size(piece).alias("n_tokens"),
        F.concat_ws(" ", piece).alias("chunk_text"))


def pack_sequences(df: DataFrame, seq_len: int = 512, n_shards: int = 8,
                   id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Training-sequence packing: concatenate documents (in stable id
    order) into fixed ``seq_len``-token sequences, sharded first by the
    content-addressed hash so the serial part of the cumulative sum is
    per-shard, not corpus-wide. A doc's sequence is determined by its
    START offset within the shard's token stream; docs spanning a
    boundary belong to the sequence they start in (the consumer splits at
    materialization). Complements pack_shards: shards balance by the law
    of large numbers, and WITHIN a shard this realizes the exact
    cumulative packing that is impossible corpus-wide (a total order =
    one serial task at 100 TB, see pack_shards docstring) but cheap
    per-shard — n_shards scales with the cluster, each shard's window is
    an independent task.

    Pure integer math throughout: offsets and sequence ids are exact and
    engine-agreed."""
    toks = df.select(F.col(id_col),
                     _ws_tokens(F.col(text_col)).alias("tokens"))
    shard = _md5_mod(F.col(id_col), n_shards).cast("int")
    w = Window.partitionBy("shard_id").orderBy(id_col)
    start = F.sum("tokens").over(w) - F.col("tokens")
    return (toks.withColumn("shard_id", shard)
            .select(F.col(id_col), "shard_id", "tokens",
                    F.floor(start / F.lit(seq_len)).alias("seq_id"),
                    F.pmod(start, F.lit(seq_len)).alias("offset_in_seq")))


def vocab_stats(df: DataFrame, top_n: int = 200,
                text_col: str = "text") -> DataFrame:
    """Corpus vocabulary rank-frequency table (the Zipf curve): term,
    frequency, rank (freq desc, term asc — total order), and cumulative
    frequency, for the top ``top_n`` terms. One corpus-sized aggregate
    (token → term counts, partial-combined map-side); the rank/cumsum
    window runs over the VOCABULARY-sized aggregate, and at web scale the
    top-n cut realizes as TakeOrderedAndProject (per-partition n, no
    global sort of the full vocabulary). All-integer outputs."""
    terms = (df.select(F.explode(F.split(F.lower(F.col(text_col)),
                                         r"\s+")).alias("term"))
             .filter(F.col("term") != "")
             .groupBy("term").agg(F.count(F.lit(1)).alias("freq")))
    w = Window.orderBy(F.col("freq").desc(), F.col("term").asc())
    return (terms
            .withColumn("rank", F.row_number().over(w))
            .withColumn("cum_freq", F.sum("freq").over(
                w.rowsBetween(Window.unboundedPreceding, 0)))
            .filter(F.col("rank") <= top_n))


def cross_surprisal(new_docs: DataFrame, corpus_docs: DataFrame,
                    id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Score an incoming batch under the STANDING corpus's bigram LM —
    the cross-corpus form of bigram_surprisal: the reference statistics
    (c12, c1, vocabulary V) come from ``corpus_docs``, the scored bigrams
    from ``new_docs``, with add-one (Laplace) smoothing so unseen
    transitions get finite surprisal -ln((c12+1)/(c1+V)) instead of a
    join miss. High mean = the batch's transitions are alien to the
    corpus (spam/noise/another register); the incremental-curation
    companion of incremental_dedup.

    Same exact-hash discipline as bigram_surprisal (floor-e12 per-bigram
    quantization, DECIMAL sums, integer mean); same one-aggregation
    plan — corpus bigrams shuffle ONCE into c12, c1 and V derive from
    aggregate-sized inputs, and the batch-side join is batch-sized (a
    production pipeline materializes the corpus LM once and reuses it
    every batch)."""
    ref = _bigrams(corpus_docs, id_col, text_col)
    c12 = ref.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab = (ref.select(F.col("w1").alias("w"))
             .unionAll(ref.select(F.col("w2").alias("w")))
             .agg(F.countDistinct("w").alias("v")))

    nb = _bigrams(new_docs, id_col, text_col)
    scored = (nb.join(c12, ["w1", "w2"], "left")
              .join(c1, ["w1"], "left")
              .crossJoin(F.broadcast(vocab))
              .select("id", F.floor(-F.log(
                  (F.coalesce(F.col("c12"), F.lit(0)) + 1).cast("double")
                  / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("v")))
                  * F.lit(1e12)).cast("decimal(20,0)").alias("s")))
    return (scored.groupBy("id")
            .agg(F.count(F.lit(1)).alias("n_bigrams"),
                 F.sum("s").alias("ssum"))
            .select(F.col("id").alias(id_col), "n_bigrams",
                    F.expr("ssum div (CAST(n_bigrams AS DECIMAL(20,0))"
                           " * 1000000)").cast("long")
                    .alias("mean_surprisal_e6")))


def pmi_pairs(docs: DataFrame, window: int = 3, top_k: int = 30,
              min_count: int = 5, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """Skip-gram PMI collocations: pointwise mutual information of
    unordered word pairs co-occurring within ``window`` positions —
    word2vec's positive-sampling statistic and the classic collocation
    extractor (PMI = ln(P(a,b) / (P(a)·P(b))), Church & Hanks, CL'90).
    High-PMI pairs are multi-word expressions; they feed phrase-aware
    tokenization and the template detection the boilerplate vote can't
    see (reworded-but-correlated chrome).

    Pair generation is an EQUALITY join — each token joins the token
    exactly d positions ahead for d in 1..window via (doc, pos+d) keys,
    so the work is corpus_tokens × window with no range-join blowup and
    the per-doc skew profile of the token stream itself. Counts combine
    map-side; the top-``top_k`` winner set (count >= ``min_count``,
    ties (count DESC, a, b)) is 30 rows and BROADCASTS into the two
    unigram lookups.

    Exact-hash discipline: PMI quantizes as floor((ln(cab) + 2·ln(Nu)
    − ln(Np) − ln(ca) − ln(cb)) · 1e12) with the ln-terms summed in one
    fixed left-associated order — IEEE ops are deterministic given the
    same expression tree, and floor beats round across engines (the
    bigram_surprisal lesson).

    Output: (w1, w2, n_pair, pmi_e12), top_k rows.
    """
    toks = (docs.select(F.col(id_col).alias("id"),
                        F.posexplode(F.split(F.lower(
                            F.coalesce(F.col(text_col), F.lit(""))),
                            r"\s+")).alias("pos", "w"))
                .filter(F.col("w") != ""))
    right = toks.select("id", F.col("pos").alias("pos2"),
                        F.col("w").alias("wr"))
    left = (toks.select("id", "pos", F.col("w").alias("wl"),
                        F.explode(F.expr(f"sequence(1, {int(window)})"))
                         .alias("d"))
                .select("id", (F.col("pos") + F.col("d")).alias("pos2"),
                        "wl"))
    pr = (left.join(right, ["id", "pos2"])
              .select(F.least("wl", "wr").alias("a"),
                      F.greatest("wl", "wr").alias("b")))
    cab = pr.groupBy("a", "b").agg(F.count(F.lit(1)).alias("n_pair"))
    cw = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    nu = toks.agg(F.count(F.lit(1)).alias("nu"))
    np_ = pr.agg(F.count(F.lit(1)).alias("np"))
    top = (cab.filter(F.col("n_pair") >= min_count)
              .orderBy(F.desc("n_pair"), F.asc("a"), F.asc("b"))
              .limit(top_k))
    j = (cw.select(F.col("w").alias("a"), F.col("c").alias("ca"))
           .join(F.broadcast(top), "a")
           .join(F.broadcast(cw.select(F.col("w").alias("b"),
                                       F.col("c").alias("cb"))
                             .join(F.broadcast(top.select("b")), "b")
                             .distinct()), "b")
           .crossJoin(F.broadcast(nu)).crossJoin(F.broadcast(np_)))
    ln = lambda c: F.log(F.col(c).cast("double"))
    pmi = F.floor((ln("n_pair") + ln("nu") + ln("nu") - ln("np")
                   - ln("ca") - ln("cb")) * F.lit(1e12)).cast("long")
    return j.select(F.col("a").alias("w1"), F.col("b").alias("w2"),
                    "n_pair", pmi.alias("pmi_e12"))


def pmi_oracle_sql(window: int = 3, top_k: int = 30,
                   min_count: int = 5) -> str:
    """DuckDB twin of pmi_pairs (kept beside the Spark code so the pair
    rule and the ln-term order cannot drift)."""
    return f"""
        WITH toks AS (
            SELECT id, u.i AS pos, arr[u.i] AS w FROM (
                SELECT doc_id AS id,
                       regexp_split_to_array(lower(COALESCE(text, '')),
                                             '\\s+') AS arr
                FROM documents),
                UNNEST(range(1, len(arr) + 1)) AS u(i)
            WHERE arr[u.i] <> ''
        ), pr AS (
            SELECT least(l.w, r.w) AS a, greatest(l.w, r.w) AS b
            FROM toks l JOIN toks r
              ON r.id = l.id
             AND r.pos BETWEEN l.pos + 1 AND l.pos + {int(window)}
        ), cab AS (
            SELECT a, b, count(*) AS n_pair FROM pr GROUP BY a, b
        ), cw AS (
            SELECT w, count(*) AS c FROM toks GROUP BY w
        ), nu AS (SELECT count(*) AS nu FROM toks
        ), np AS (SELECT count(*) AS np FROM pr
        ), top AS (
            SELECT a, b, n_pair FROM cab WHERE n_pair >= {int(min_count)}
            ORDER BY n_pair DESC, a ASC, b ASC LIMIT {int(top_k)}
        )
        SELECT top.a AS w1, top.b AS w2, top.n_pair,
               floor((ln(top.n_pair::DOUBLE) + ln(nu.nu::DOUBLE)
                      + ln(nu.nu::DOUBLE) - ln(np.np::DOUBLE)
                      - ln(ca.c::DOUBLE) - ln(cb.c::DOUBLE))
                     * 1e12)::BIGINT AS pmi_e12
        FROM top
        JOIN cw ca ON ca.w = top.a
        JOIN cw cb ON cb.w = top.b
        CROSS JOIN nu CROSS JOIN np
    """


def lexical_diversity(df: DataFrame, source_col: str = "source",
                      text_col: str = "text") -> DataFrame:
    """Per-source lexical diversity: token count N, type count V,
    type-token ratio, and the Simpson repeat index Σ nᵢ(nᵢ−1)/(N(N−1))
    (probability two random tokens are the same type — high = templated
    boilerplate, low = diverse prose). The standard corpus-health readout
    before mixing sources into a training run: a source whose Simpson
    index spikes is serving near-identical pages.

    Tokens = lowercased whitespace split, '' dropped (the vocab_stats
    convention). Ratios are double-divide-then-floor quantized (ttr_e9,
    simpson_e9), the chi2 pattern; the Simpson numerator/denominator are
    exact BIGINTs first.

    Scale: one (source, term)-keyed aggregate (map-side combined) then a
    source-keyed re-aggregate — two shuffles, both on keys far smaller
    than the corpus; nothing collects.

    Output: (source, n_tokens, n_types, ttr_e9, simpson_e9); sources with
    N < 2 drop (Simpson undefined).
    """
    toks = (df.filter(F.col(source_col).isNotNull())
              .select(F.col(source_col).alias("source"),
                      F.explode(F.split(F.lower(F.col(text_col)),
                                        r"\s+")).alias("term"))
              .filter(F.col("term") != ""))
    counts = toks.groupBy("source", "term").agg(
        F.count(F.lit(1)).alias("n"))
    n = F.col("n")
    agg = counts.groupBy("source").agg(
        F.sum(n).cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(n * (n - 1)).cast("long").alias("_rep"))
    nt = F.col("n_tokens")
    return (agg.filter(nt >= 2)
            .select("source", "n_tokens", "n_types",
                    F.floor(F.col("n_types").cast("double")
                            / nt.cast("double") * 1e9)
                     .cast("long").alias("ttr_e9"),
                    F.floor(F.col("_rep").cast("double")
                            / (nt * (nt - 1)).cast("double") * 1e9)
                     .cast("long").alias("simpson_e9")))


def lexical_diversity_oracle_sql() -> str:
    """DuckDB twin of lexical_diversity (same tokenizer as vocab_stats,
    same double-divide-then-floor quantization)."""
    return r"""
        WITH toks AS (
            SELECT source, u.term
            FROM documents,
                 UNNEST(regexp_split_to_array(lower(COALESCE(text, '')),
                                              '\s+')) AS u(term)
            WHERE source IS NOT NULL AND u.term <> ''
        ), counts AS (
            SELECT source, term, count(*) AS n
            FROM toks GROUP BY source, term
        ), agg AS (
            SELECT source,
                   sum(n)::BIGINT AS n_tokens,
                   count(*)::BIGINT AS n_types,
                   sum(n * (n - 1))::BIGINT AS rep
            FROM counts GROUP BY source
        )
        SELECT source, n_tokens, n_types,
               floor(n_types::DOUBLE / n_tokens::DOUBLE * 1e9)::BIGINT
                   AS ttr_e9,
               floor(rep::DOUBLE
                     / (n_tokens * (n_tokens - 1))::DOUBLE * 1e9)::BIGINT
                   AS simpson_e9
        FROM agg
        WHERE n_tokens >= 2
    """


HEAPS_BUCKETS = 10


def heaps_law(df: DataFrame, id_col: str = "doc_id",
              text_col: str = "text",
              n_buckets: int = HEAPS_BUCKETS) -> DataFrame:
    """Heaps'-law vocabulary growth curve: split the corpus into
    ``n_buckets`` ingest-order slices (by doc-id range — the synthetic
    id is the ingest order) and report cumulative docs, tokens, and
    DISTINCT vocabulary at each slice boundary. The readout that says
    whether a corpus is still discovering new types (V ~ α·Nᵝ, β≈0.5
    for natural text) or has gone asymptotically templated — and how
    much vocab a dedup pass can afford to lose.

    Tokens = lowercased whitespace split, '' dropped (the vocab_stats
    convention). Bucket = least((id−min)·B div span, B−1) + 1 over the
    [min,max] id span — a VALUE-range slice, deliberately not a
    row_number: exact on both engines with no global sort, so the
    assignment is one broadcast-joined projection at any scale.

    Scale: one 1-row min/max aggregate broadcasts back; the vocab half
    collapses (term → first bucket) in a single map-side-combined
    min-aggregate keyed by term; everything after runs on ≤ B rows.

    Output: (bucket, n_docs, cum_docs, cum_tokens, new_terms,
    cum_vocab), bucket ascending; empty buckets (no docs in the id
    range) don't emit rows.
    """
    base = (df.filter(F.col(id_col).isNotNull()
                      & F.col(text_col).isNotNull())
            .select(F.col(id_col).alias("id"),
                    F.expr(f"filter(split(lower({text_col}), '\\\\s+'),"
                           " x -> x != '')").alias("ws")))
    bounds = base.agg(F.min("id").alias("mn"), F.max("id").alias("mx"))
    b = F.lit(n_buckets)
    d = (base.crossJoin(F.broadcast(bounds))
         .select((F.least((F.col("id") - F.col("mn")) * b
                          / (F.col("mx") - F.col("mn") + 1),
                          (b - 1).cast("long")).cast("long") + 1)
                 .alias("bucket"),
                 "ws"))
    ds = d.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size("ws")).cast("long").alias("_toks"))
    nv = (d.select("bucket", F.explode("ws").alias("term"))
          .groupBy("term").agg(F.min("bucket").alias("bucket"))
          .groupBy("bucket")
          .agg(F.count(F.lit(1)).cast("long").alias("new_terms")))
    w = (Window.orderBy("bucket")
         .rowsBetween(Window.unboundedPreceding, 0))
    return (ds.join(nv, "bucket", "left")
            .na.fill({"new_terms": 0})
            .select("bucket", "n_docs",
                    F.sum("n_docs").over(w).cast("long").alias("cum_docs"),
                    F.sum("_toks").over(w).cast("long")
                     .alias("cum_tokens"),
                    "new_terms",
                    F.sum("new_terms").over(w).cast("long")
                     .alias("cum_vocab")))


def heaps_oracle_sql(n_buckets: int = HEAPS_BUCKETS) -> str:
    """DuckDB twin of heaps_law (same tokenizer, same value-range
    bucket rule; // is BIGINT div)."""
    return rf"""
        WITH base AS (
            SELECT doc_id AS id,
                   list_filter(regexp_split_to_array(lower(text), '\s+'),
                               x -> x <> '') AS ws
            FROM documents
            WHERE doc_id IS NOT NULL AND text IS NOT NULL
        ), bounds AS (
            SELECT min(id) AS mn, max(id) AS mx FROM base
        ), d AS (
            SELECT least((id - mn) * {n_buckets} // (mx - mn + 1),
                         {n_buckets - 1}) + 1 AS bucket, ws
            FROM base CROSS JOIN bounds
        ), ds AS (
            SELECT bucket, count(*)::BIGINT AS n_docs,
                   sum(len(ws))::BIGINT AS toks
            FROM d GROUP BY bucket
        ), nv AS (
            SELECT bucket, count(*)::BIGINT AS new_terms
            FROM (SELECT u.term, min(bucket) AS bucket
                  FROM d, UNNEST(ws) AS u(term) GROUP BY u.term)
            GROUP BY bucket
        )
        SELECT ds.bucket, ds.n_docs,
               sum(ds.n_docs) OVER (ORDER BY ds.bucket
                                    ROWS UNBOUNDED PRECEDING)::BIGINT
                   AS cum_docs,
               sum(ds.toks) OVER (ORDER BY ds.bucket
                                  ROWS UNBOUNDED PRECEDING)::BIGINT
                   AS cum_tokens,
               COALESCE(nv.new_terms, 0)::BIGINT AS new_terms,
               sum(COALESCE(nv.new_terms, 0))
                   OVER (ORDER BY ds.bucket
                         ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_vocab
        FROM ds LEFT JOIN nv USING (bucket)
    """


SCRIPT_CLASSES = [
    ("n_latin", "[A-Za-z]"),
    ("n_digit", "[0-9]"),
    ("n_cjk", "[一-鿿]"),
    ("n_cyrillic", "[Ѐ-ӿ]"),
    ("n_space", "[ \\t\\n\\r\\f]"),
]


def script_mix(df: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """Per-document writing-script profile: character counts for Latin
    letters, digits, CJK Unified Ideographs, Cyrillic, whitespace, and
    everything else, plus the dominant script — the char-class
    complement to lang_id's n-gram vote (a doc can be "en" by n-grams
    yet 40% CJK by mass: mixed-script spam, pasted logs, wrong-charset
    crawls) and to encoding_report's mojibake flags.

    Each count is length(text) − length(regexp_replace(text, class,
    '')) — pure codegen'd regexp, identical class syntax on Java regex
    and RE2 (literal range chars, escape-form whitespace; both engines
    count CODEPOINTS). Dominance breaks ties latin > cjk > cyrillic,
    'none' when all three are zero.

    Scale: one stateless projection — no shuffle, no UDF; Catalyst
    prunes to (id, text) at the scan.

    Output: (doc_id, n_latin, n_digit, n_cjk, n_cyrillic, n_space,
    n_other, dominant).
    """
    t = F.col(text_col)
    cnt = {name: (F.length(t) - F.length(F.regexp_replace(t, pat, "")))
           .cast("long").alias(name)
           for name, pat in SCRIPT_CLASSES}
    base = (df.filter(F.col(id_col).isNotNull() & t.isNotNull())
            .select(F.col(id_col).alias("doc_id"), F.length(t)
                    .cast("long").alias("_n"), *cnt.values()))
    known = sum((F.col(n) for n, _ in SCRIPT_CLASSES), F.lit(0))
    lat, cjk, cyr = (F.col(c) for c in ("n_latin", "n_cjk", "n_cyrillic"))
    dom = (F.when((lat == 0) & (cjk == 0) & (cyr == 0), "none")
            .when((lat >= cjk) & (lat >= cyr), "latin")
            .when(cjk >= cyr, "cjk")
            .otherwise("cyrillic"))
    return base.select("doc_id", *(n for n, _ in SCRIPT_CLASSES),
                       (F.col("_n") - known).cast("long").alias("n_other"),
                       dom.alias("dominant"))


def script_mix_oracle_sql() -> str:
    """DuckDB twin of script_mix (same classes, same tie order; RE2
    reads the identical class syntax, 'g' for replace-all)."""
    c = {name: (f"(length(text) - length(regexp_replace(text,"
                f" '{pat}', '', 'g')))::BIGINT")
         for name, pat in SCRIPT_CLASSES}
    known = " + ".join(f"{v}" for v in c.values())
    return f"""
        WITH base AS (
            SELECT doc_id,
                   {c['n_latin']} AS n_latin,
                   {c['n_digit']} AS n_digit,
                   {c['n_cjk']} AS n_cjk,
                   {c['n_cyrillic']} AS n_cyrillic,
                   {c['n_space']} AS n_space,
                   (length(text))::BIGINT - ({known}) AS n_other
            FROM documents
            WHERE doc_id IS NOT NULL AND text IS NOT NULL
        )
        SELECT doc_id, n_latin, n_digit, n_cjk, n_cyrillic, n_space,
               n_other,
               CASE WHEN n_latin = 0 AND n_cjk = 0 AND n_cyrillic = 0
                        THEN 'none'
                    WHEN n_latin >= n_cjk AND n_latin >= n_cyrillic
                        THEN 'latin'
                    WHEN n_cjk >= n_cyrillic THEN 'cjk'
                    ELSE 'cyrillic' END AS dominant
        FROM base
    """


def source_temperature(docs: DataFrame) -> DataFrame:
    """Temperature-scaled source-mixing weights at α = 1/2 — the
    multilingual-sampling rule (pᵢ^α / Σpⱼ^α, the mBERT/XLM-R exponent)
    that upweights small sources relative to their raw token share:
    where mix_weights needs target shares handed in, this computes them
    from supply. α is FIXED at 1/2 because √ is the one power IEEE 754
    specifies correctly rounded — bit-identical on both engines, where
    pow(x, 0.7) would not be.

    Determinism path: per-source token counts are exact BIGINTs;
    sqrt_e6 = floor(√n · 1e6) quantizes each source ONCE (√ then ×1e6,
    both correctly rounded from exact inputs); the share then runs in
    integers — share_e9 = sqrt_e6·1e9 div Σsqrt_e6 (DECIMAL(38,0)
    product, exact division) — so no float summation order exists.

    Scale: one map-side-combined aggregate to the source-sized table,
    then a 1-row broadcast of the total.

    Output: (source, n_tokens, sqrt_e6, share_e9).
    """
    tok = (docs.filter(F.col("source").isNotNull()
                       & F.col("text").isNotNull())
           .select("source",
                   F.expr("size(filter(split(lower(text), '\\\\s+'),"
                          " x -> x != ''))").cast("long").alias("nt")))
    per = (tok.groupBy("source")
           .agg(F.sum("nt").cast("long").alias("n_tokens"))
           .withColumn("sqrt_e6",
                       F.floor(F.sqrt(F.col("n_tokens").cast("double"))
                               * 1e6).cast("long")))
    tot = per.agg(F.sum("sqrt_e6").cast("long").alias("tot"))
    return (per.crossJoin(F.broadcast(tot))
            .select("source", "n_tokens", "sqrt_e6",
                    F.expr("cast(sqrt_e6 as decimal(38,0)) * 1000000000"
                           " div tot").alias("share_e9")))


def source_temperature_oracle_sql() -> str:
    """DuckDB twin of source_temperature (same tokenizer, same one-shot
    √ quantization; HUGEINT product, // exact division)."""
    return r"""
        WITH tok AS (
            SELECT source,
                   len(list_filter(regexp_split_to_array(lower(text),
                                                         '\s+'),
                                   x -> x <> ''))::BIGINT AS nt
            FROM documents
            WHERE source IS NOT NULL AND text IS NOT NULL
        ), per AS (
            SELECT source, sum(nt)::BIGINT AS n_tokens,
                   floor(sqrt(sum(nt)::DOUBLE) * 1e6)::BIGINT AS sqrt_e6
            FROM tok GROUP BY source
        ), tot AS (
            SELECT sum(sqrt_e6)::BIGINT AS tot FROM per
        )
        SELECT source, n_tokens, sqrt_e6,
               (sqrt_e6::HUGEINT * 1000000000 // tot)::BIGINT AS share_e9
        FROM per CROSS JOIN tot
    """


def char_entropy(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Shannon character entropy per document — the classic
    low-entropy garbage gate (key dumps, repeated-char padding, binary
    spill rendered as text score near 0; natural prose sits ~4.2
    bits ≈ 2.9 nats): H = ln(n) − (Σ_c cnt_c·ln cnt_c)/n over the
    document's exact per-character counts.

    Exact-hash discipline: each distinct character contributes
    ``floor(cnt·ln(cnt)·1e6)`` — an exact BIGINT (bounded by n·ln n,
    safe past 10¹¹-char documents) — and the integer sum feeds ONE
    fixed-shape double expression, floor-e6 quantized. ln-on-integer
    inputs is bit-identical across engines (the bigram_surprisal
    contract).

    Scale: zero shuffle, zero Python — the per-character counts come
    from a sorted-array run-length walk INSIDE the row (array_sort →
    run-start positions → zip_with run lengths → sequential
    ``aggregate``), not from exploding characters into rows: a
    100 TB corpus would otherwise shuffle 10¹⁴ single-character rows.
    The DuckDB twin, which only ever runs at oracle SF, uses the
    straightforward unnest+groupBy form — semantics twin, not plan
    twin. Each array producer sits behind its own projection (a
    transform capturing split() re-evaluates it per element).

    Output: (doc_id, n_chars_counted, n_distinct_chars, ent_e6);
    empty/NULL texts drop out (both engines agree).
    """
    d1 = df.select(
        F.col(id_col).alias("id"),
        F.array_sort(F.filter(F.split(F.col(text_col), ""),
                              lambda x: x != "")).alias("s"))
    d2 = d1.select("id", "s", F.size("s").alias("n")).filter(F.col("n") > 0)
    d3 = d2.select("id", "n", F.expr(
        "filter(sequence(1, n), i -> CASE WHEN i = 1 THEN true "
        "ELSE element_at(s, i) != element_at(s, i - 1) END)").alias("starts"))
    d4 = d3.select(
        "id", "n", F.size("starts").alias("k"),
        F.expr("zip_with(starts, concat(slice(starts, 2, size(starts) - 1),"
               " array(n + 1)), (a, b) -> b - a)").alias("lens"))
    d5 = d4.select("id", "n", "k", F.expr(
        "aggregate(lens, 0L, (acc, L) -> acc + CAST(FLOOR(CAST(L AS DOUBLE)"
        " * LN(CAST(L AS DOUBLE)) * 1e6) AS BIGINT))").alias("s_e6"))
    ent = (F.log(F.col("n").cast("double"))
           - (F.col("s_e6").cast("double") / F.lit(1e6))
           / F.col("n").cast("double"))
    return d5.select(
        F.col("id").alias(id_col), F.col("n").alias("n_chars_counted"),
        F.col("k").alias("n_distinct_chars"),
        F.floor(ent * F.lit(1e6)).cast("long").alias("ent_e6"))


def char_entropy_oracle_sql() -> str:
    """DuckDB twin of char_entropy (unnest+groupBy per-char counts —
    oracle-SF only; same per-term floor-e6 and final fixed-shape
    expression)."""
    return r"""
        WITH ech AS (
            SELECT doc_id, unnest(regexp_extract_all(text, '[\s\S]')) AS c
            FROM documents
        ),
        ecc AS (
            SELECT doc_id, c, count(*)::BIGINT AS cnt
            FROM ech GROUP BY doc_id, c
        ),
        eagg AS (
            SELECT doc_id, sum(cnt)::BIGINT AS n, count(*)::BIGINT AS k,
                   sum(floor(cnt::DOUBLE * ln(cnt::DOUBLE) * 1e6))::BIGINT
                       AS s_e6
            FROM ecc GROUP BY doc_id
        )
        SELECT doc_id, n AS n_chars_counted, k AS n_distinct_chars,
               floor((ln(n::DOUBLE) - (s_e6::DOUBLE / 1e6) / n::DOUBLE)
                     * 1e6)::BIGINT AS ent_e6
        FROM eagg
    """


NS_MIN_COUNT = 5


def negative_sampling_table(df: DataFrame, text_col: str = "text",
                            min_count: int = NS_MIN_COUNT) -> DataFrame:
    """word2vec negative-sampling distribution — the unigram table
    raised to the 3/4 power (Mikolov et al., NeurIPS'13: pᵢ ∝ cᵢ^¾
    flattens Zipf so rare words get sampled as negatives at all).
    Companion of source_temperature (α = ½ over sources); here α = ¾
    over the vocabulary.

    Determinism path: c^¾ computes as ``sqrt(c · sqrt(c))`` — IEEE 754
    specifies sqrt (and one multiply) correctly rounded, so the chain is
    bit-identical across engines where ``pow(c, 0.75)`` would not be.
    w_e6 = floor(·1e6) quantizes each term ONCE; the share then runs in
    integers (w_e6·1e9 div Σw_e6, DECIMAL(38,0) product, exact
    division) — no float summation order exists.

    Scale: one corpus-sized token aggregate (map-side partial combine)
    down to the vocabulary, a ≥min_count cut, then a 1-row broadcast of
    the total. Output: (term, freq, w_e6, share_e9).
    """
    terms = (df.select(F.explode(F.split(F.lower(F.col(text_col)),
                                         r"\s+")).alias("term"))
             .filter(F.col("term") != "")
             .groupBy("term").agg(F.count(F.lit(1)).cast("long")
                                  .alias("freq"))
             .filter(F.col("freq") >= min_count))
    c = F.col("freq").cast("double")
    per = terms.withColumn(
        "w_e6", F.floor(F.sqrt(c * F.sqrt(c)) * F.lit(1e6)).cast("long"))
    tot = per.agg(F.sum("w_e6").cast("long").alias("tot"))
    return (per.crossJoin(F.broadcast(tot))
            .select("term", "freq", "w_e6",
                    F.expr("cast(w_e6 as decimal(38,0)) * 1000000000"
                           " div tot").alias("share_e9")))


def negative_sampling_oracle_sql(min_count: int = NS_MIN_COUNT) -> str:
    """DuckDB twin of negative_sampling_table (same sqrt(c·sqrt(c))
    chain, HUGEINT product, // exact division)."""
    return rf"""
        WITH nst AS (
            SELECT unnest(list_filter(regexp_split_to_array(lower(text),
                                                            '\s+'),
                                      x -> x != '')) AS term
            FROM documents
        ),
        nsc AS (
            SELECT term, count(*)::BIGINT AS freq FROM nst
            GROUP BY term HAVING count(*) >= {min_count}
        ),
        nsp AS (
            SELECT term, freq,
                   floor(sqrt(freq::DOUBLE * sqrt(freq::DOUBLE))
                         * 1e6)::BIGINT AS w_e6
            FROM nsc
        ),
        nstot AS (SELECT sum(w_e6)::BIGINT AS tot FROM nsp)
        SELECT term, freq, w_e6,
               (w_e6::HUGEINT * 1000000000 // tot)::BIGINT AS share_e9
        FROM nsp CROSS JOIN nstot
    """


def fertility_by_lang(docs: DataFrame) -> DataFrame:
    """Tokenizer fertility per language — the multilingual-tokenizer
    health readout: regex-BPE-ish tokens per whitespace word
    (fertility; high = the tokenizer shreds that language) and bytes
    per token (compression; high = byte-fallback territory). The two
    numbers that decide whether a vocabulary is fair across the corpus's
    languages before a single GPU-hour is spent.

    All-integer outputs: the per-language sums are exact BIGINTs and
    both ratios quantize as ``x·1e6 div y`` (DECIMAL(38,0) product,
    exact integer division) — no doubles anywhere.

    Scale: per-row JVM regex counts fused into the scan, one map-side
    combined aggregate on the bounded lang key.

    Output: (lang, n_docs, ws_tokens, re_tokens, n_bytes, fert_e6,
    bytes_per_tok_e6).
    """
    text = F.col("text")
    per = (docs.filter(F.col("lang").isNotNull() & text.isNotNull())
           .select("lang", _ws_tokens(text).cast("long").alias("ws"),
                   F.size(F.regexp_extract_all(text, F.lit(TOKEN_REGEX), 0))
                   .cast("long").alias("re"),
                   F.octet_length(text).cast("long").alias("nb"))
           .groupBy("lang")
           .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("ws").alias("ws_tokens"),
                F.sum("re").alias("re_tokens"),
                F.sum("nb").alias("n_bytes"))
           .filter((F.col("ws_tokens") > 0) & (F.col("re_tokens") > 0)))
    return per.select(
        "lang", "n_docs", "ws_tokens", "re_tokens", "n_bytes",
        F.expr("cast(re_tokens as decimal(38,0)) * 1000000"
               " div ws_tokens").alias("fert_e6"),
        F.expr("cast(n_bytes as decimal(38,0)) * 1000000"
               " div re_tokens").alias("bytes_per_tok_e6"))


def fertility_oracle_sql() -> str:
    """DuckDB twin of fertility_by_lang (same word/token regexes as
    token_counts' oracle; HUGEINT products, // exact division)."""
    return r"""
        WITH fper AS (
            SELECT lang,
                   length(regexp_split_to_array(trim(text), '\s+')) AS ws,
                   len(regexp_extract_all(text,
                       '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS re,
                   strlen(text) AS nb
            FROM documents
            WHERE lang IS NOT NULL AND text IS NOT NULL
        ),
        fagg AS (
            SELECT lang, count(*)::BIGINT AS n_docs,
                   sum(ws)::BIGINT AS ws_tokens,
                   sum(re)::BIGINT AS re_tokens,
                   sum(nb)::BIGINT AS n_bytes
            FROM fper GROUP BY lang
            HAVING sum(ws) > 0 AND sum(re) > 0
        )
        SELECT lang, n_docs, ws_tokens, re_tokens, n_bytes,
               (re_tokens::HUGEINT * 1000000 // ws_tokens)::BIGINT
                   AS fert_e6,
               (n_bytes::HUGEINT * 1000000 // re_tokens)::BIGINT
                   AS bytes_per_tok_e6
        FROM fagg
    """


ZIPF_MIN_COUNT = 5
ZIPF_MAX_RANK = 10_000


def zipf_fit(df: DataFrame, text_col: str = "text",
             min_count: int = ZIPF_MIN_COUNT,
             max_rank: int = ZIPF_MAX_RANK) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: OLS slope of
    ln(freq) on ln(rank) — the one-number "is this natural language?"
    check (natural corpora fit slope ≈ −1; boilerplate-heavy or
    synthetic text flattens toward 0, spam with a few hammered tokens
    steepens past −1.3). Companion to heaps_law (vocabulary growth) and
    negative_sampling_table (the same unigram table, different read).

    Quantized-recipe determinism: x = floor(ln(rank)·1e9) and
    y = floor(ln(freq)·1e9) use the established floor-e9 ln idiom; the
    OLS pieces are then pure integer sums, slope_e6 = (nΣxy − ΣxΣy)·1e6
    div (nΣx² − (Σx)²) in DECIMAL(38,0) (Σxy ~ 1e24 at a 10⁴-rank
    cut — past int64), and the intercept derives from the quantized
    means: intercept_e9 = ȳ_e9 − slope_e6·x̄_e9 div 1e6. Both engines
    run the identical integer recipe, so the hash matches bitwise.

    Scale: one corpus-sized token aggregate (map-side combined) down to
    the vocabulary, a ≥min_count cut, then rank + sums on the
    vocab-sized table (the single-partition rank window runs on ≤
    max_rank rows by construction).

    Output: one row (n_terms, slope_e6, xbar_e9, ybar_e9,
    intercept_e9).
    """
    terms = (df.select(F.explode(F.split(F.lower(F.col(text_col)),
                                         r"\s+")).alias("term"))
             .filter(F.col("term") != "")
             .groupBy("term").agg(F.count(F.lit(1)).cast("long")
                                  .alias("freq"))
             .filter(F.col("freq") >= min_count))
    ranked = (terms
              .withColumn("rnk", F.row_number().over(
                  Window.orderBy(F.desc("freq"), F.asc("term"))))
              .filter(F.col("rnk") <= max_rank)
              .select(F.floor(F.log(F.col("rnk").cast("double")) * 1e9)
                       .cast("long").alias("x"),
                      F.floor(F.log(F.col("freq").cast("double")) * 1e9)
                       .cast("long").alias("y")))
    dec = "decimal(38,0)"
    sums = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("y").cast(dec)).cast(dec)
         .alias("sxy"),
        F.sum(F.col("x").cast(dec) * F.col("x").cast(dec)).cast(dec)
         .alias("sxx"))
    return (sums.filter(F.expr(
                "cast(n as decimal(38,0)) * sxx"
                " - cast(sx as decimal(38,0)) * sx != 0"))
            .select(
                F.col("n").alias("n_terms"),
                F.expr("(cast(n as decimal(38,0)) * sxy"
                       " - cast(sx as decimal(38,0)) * sy) * 1000000"
                       " div (cast(n as decimal(38,0)) * sxx"
                       "      - cast(sx as decimal(38,0)) * sx)")
                 .alias("slope_e6"),
                F.expr("sx div n").alias("xbar_e9"),
                F.expr("sy div n").alias("ybar_e9"))
            .withColumn("intercept_e9",
                        F.expr("ybar_e9 - cast(slope_e6 as decimal(38,0))"
                               " * xbar_e9 div 1000000")))


def zipf_oracle_sql(min_count: int = ZIPF_MIN_COUNT,
                    max_rank: int = ZIPF_MAX_RANK) -> str:
    """DuckDB twin of zipf_fit (same floor-e9 ln grid, HUGEINT OLS,
    // exact division)."""
    return rf"""
        WITH zt AS (
            SELECT unnest(list_filter(regexp_split_to_array(lower(text),
                                                            '\s+'),
                                      x -> x != '')) AS term
            FROM documents
        ),
        zc AS (
            SELECT term, count(*)::BIGINT AS freq FROM zt
            GROUP BY term HAVING count(*) >= {min_count}
        ),
        zr AS (
            SELECT floor(ln(rnk::DOUBLE) * 1e9)::BIGINT AS x,
                   floor(ln(freq::DOUBLE) * 1e9)::BIGINT AS y
            FROM (SELECT freq, row_number()
                             OVER (ORDER BY freq DESC, term) AS rnk
                  FROM zc)
            WHERE rnk <= {max_rank}
        ),
        zs AS (
            SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
                   sum(y)::BIGINT AS sy,
                   sum(x::HUGEINT * y::HUGEINT) AS sxy,
                   sum(x::HUGEINT * x::HUGEINT) AS sxx
            FROM zr
        ),
        zf AS (
            SELECT n AS n_terms,
                   ((n::HUGEINT * sxy - sx::HUGEINT * sy) * 1000000
                    // (n::HUGEINT * sxx - sx::HUGEINT * sx))::BIGINT
                       AS slope_e6,
                   (sx // n)::BIGINT AS xbar_e9,
                   (sy // n)::BIGINT AS ybar_e9
            FROM zs
            WHERE n::HUGEINT * sxx - sx::HUGEINT * sx != 0
        )
        SELECT n_terms, slope_e6, xbar_e9, ybar_e9,
               (ybar_e9 - slope_e6::HUGEINT * xbar_e9 // 1000000)::BIGINT
                   AS intercept_e9
        FROM zf
    """


def vocab_overlap(docs: DataFrame, group_col: str = "source",
                  text_col: str = "text") -> DataFrame:
    """Pairwise vocabulary overlap between sources — the redundancy map
    a corpus-mix designer reads next to gini_concentration: Jaccard says
    how much two sources are the same language surface; the overlap
    coefficient (|∩| / min) exposes when a small source is a strict
    subset of a big one (near-1 overlap with low Jaccard = "this crawl
    is a slice of that one", a dedup-priority signal no document-level
    near-dup pass shows).

    All-integer: vocabularies are DISTINCT (source, term) rows; the
    pair intersection counts through a term-keyed equality join;
    jacc_e6 = inter·1e6 div (|a|+|b|−inter) and ovl_e6 = inter·1e6 div
    least(|a|,|b|) are DECIMAL(38,0)-product exact divisions.

    Scale: the corpus collapses to the (source, term) vocabulary grid
    in one map-side-combined DISTINCT; the join is term-keyed over that
    grid and each term fans out at most C(|sources|,2) pair rows —
    source cardinality is ingest-config-bounded, so the hot-key blowup
    of document-level shingle joins cannot occur.

    Output: (src_a, src_b, v_a, v_b, inter, jacc_e6, ovl_e6),
    src_a < src_b.
    """
    vocab = (docs.filter(F.col(group_col).isNotNull()
                         & F.col(text_col).isNotNull())
             .select(F.col(group_col).alias("src"),
                     F.explode(F.split(F.lower(F.col(text_col)), r"\s+"))
                      .alias("term"))
             .filter(F.col("term") != "")
             .distinct())
    sizes = vocab.groupBy("src").agg(F.count(F.lit(1)).cast("long")
                                     .alias("v"))
    a = vocab.select(F.col("src").alias("src_a"), "term")
    b = vocab.select(F.col("src").alias("src_b"), "term")
    inter = (a.join(b, "term")
             .filter(F.col("src_a") < F.col("src_b"))
             .groupBy("src_a", "src_b")
             .agg(F.count(F.lit(1)).cast("long").alias("inter")))
    return (inter
            .join(sizes.select(F.col("src").alias("src_a"),
                               F.col("v").alias("v_a")), "src_a")
            .join(sizes.select(F.col("src").alias("src_b"),
                               F.col("v").alias("v_b")), "src_b")
            .select("src_a", "src_b", "v_a", "v_b", "inter",
                    F.expr("cast(inter as decimal(38,0)) * 1000000"
                           " div (v_a + v_b - inter)").alias("jacc_e6"),
                    F.expr("cast(inter as decimal(38,0)) * 1000000"
                           " div least(v_a, v_b)").alias("ovl_e6")))


def vocab_overlap_oracle_sql() -> str:
    """DuckDB twin of vocab_overlap (same DISTINCT vocabulary grid,
    HUGEINT products, // exact division)."""
    return r"""
        WITH vov0 AS (
            SELECT source AS src,
                   unnest(list_filter(regexp_split_to_array(lower(text),
                                                            '\s+'),
                                      x -> x != '')) AS term
            FROM documents
            WHERE source IS NOT NULL AND text IS NOT NULL
        ),
        vov AS (SELECT DISTINCT src, term FROM vov0),
        vos AS (SELECT src, count(*)::BIGINT AS v FROM vov GROUP BY src),
        voi AS (
            SELECT a.src AS src_a, b.src AS src_b, count(*)::BIGINT
                       AS inter
            FROM vov a JOIN vov b USING (term)
            WHERE a.src < b.src GROUP BY a.src, b.src
        )
        SELECT src_a, src_b, sa.v AS v_a, sb.v AS v_b, inter,
               (inter::HUGEINT * 1000000
                // (sa.v + sb.v - inter))::BIGINT AS jacc_e6,
               (inter::HUGEINT * 1000000
                // least(sa.v, sb.v))::BIGINT AS ovl_e6
        FROM voi
        JOIN vos sa ON sa.src = src_a
        JOIN vos sb ON sb.src = src_b
    """


HILL_K = 100


def hill_tail(docs: DataFrame, weight_col: str = "n_chars",
              k: int = HILL_K) -> DataFrame:
    """Hill estimator of the document-length tail index — the
    heavy-tail companion to zipf_fit: over the k largest documents,
    hill = mean(ln xᵢ − ln x_ref) with x_ref the (k+1)-th order
    statistic, and α = 1/hill is the Pareto tail exponent. α ≤ 2 means
    infinite-variance lengths: shard packing and skew salting must
    assume a whale document in every partition's future.

    Integer recipe: each order statistic quantizes via the floor-e9 ln
    idiom BEFORE the subtraction; the mean is an exact DECIMAL(38,0)
    division by k, and alpha_e6 = 1e15 div hill_e9. Ties among equal
    lengths can swap WHICH doc is picked but never the value multiset,
    so the estimate is deterministic without an id tie-break.

    Scale: the ONLY corpus-sized operation is a distributed top-(k+1)
    (TakeOrderedAndProject — per-partition heaps, no global sort, no
    shuffle of the corpus); everything after runs on k+1 rows.

    Output: one row (k_used, x_ref, hill_e9, alpha_e6).
    """
    top = (docs.filter(F.col(weight_col).isNotNull()
                       & (F.col(weight_col) > 0))
           .select(F.col(weight_col).cast("long").alias("x"))
           .orderBy(F.desc("x")).limit(k + 1))
    w = Window.orderBy(F.desc("x"))
    ranked = (top.withColumn("rn", F.row_number().over(w))
                 .withColumn("lnx", F.floor(F.log(F.col("x")
                                                  .cast("double")) * 1e9)
                              .cast("long")))
    ref = (ranked.groupBy()
           .agg(F.max("rn").alias("m"),
                F.min(F.when(F.col("rn") == k + 1, F.col("lnx")))
                 .alias("ln_ref"),
                F.min(F.when(F.col("rn") == k + 1, F.col("x")))
                 .alias("x_ref")))
    s = (ranked.filter(F.col("rn") <= k)
         .crossJoin(F.broadcast(ref))
         .filter(F.col("m") == k + 1)   # fewer than k+1 docs: no estimate
         .groupBy("x_ref", "ln_ref")
         .agg(F.count(F.lit(1)).cast("long").alias("k_used"),
              F.sum("lnx").cast("long").alias("sum_ln")))
    return (s.select(
        "k_used", "x_ref",
        F.expr("cast(sum_ln as decimal(38,0)) - cast(k_used as"
               " decimal(38,0)) * ln_ref").alias("_num"),
        F.col("k_used").alias("_k"))
        .select("k_used", "x_ref",
                F.expr("_num div _k").alias("hill_e9"))
        .filter(F.col("hill_e9") > 0)
        .withColumn("alpha_e6",
                    F.expr("cast(1000000000000000 as decimal(38,0))"
                           " div hill_e9")))


def hill_oracle_sql(k: int = HILL_K) -> str:
    """DuckDB twin of hill_tail (same top-(k+1), same floor-e9 ln
    grid, HUGEINT arithmetic, // exact division)."""
    return f"""
        WITH htop AS (
            SELECT n_chars::BIGINT AS x FROM documents
            WHERE n_chars IS NOT NULL AND n_chars > 0
            ORDER BY x DESC LIMIT {k + 1}
        ), hrk AS (
            SELECT x, floor(ln(x::DOUBLE) * 1e9)::BIGINT AS lnx,
                   row_number() OVER (ORDER BY x DESC) AS rn
            FROM htop
        ), href AS (
            SELECT max(rn) AS m,
                   min(CASE WHEN rn = {k + 1} THEN lnx END) AS ln_ref,
                   min(CASE WHEN rn = {k + 1} THEN x END) AS x_ref
            FROM hrk
        ), hs AS (
            SELECT x_ref, ln_ref, count(*)::BIGINT AS k_used,
                   sum(lnx)::BIGINT AS sum_ln
            FROM hrk CROSS JOIN href
            WHERE rn <= {k} AND m = {k + 1}
            GROUP BY x_ref, ln_ref
        ), hh AS (
            SELECT k_used, x_ref,
                   ((sum_ln::HUGEINT - k_used::HUGEINT * ln_ref)
                    // k_used)::BIGINT AS hill_e9
            FROM hs
        )
        SELECT k_used, x_ref, hill_e9,
               (1000000000000000::HUGEINT // hill_e9)::BIGINT AS alpha_e6
        FROM hh WHERE hill_e9 > 0
    """


def freq_spectrum(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", max_r: int = 10,
                  n: int = 3) -> DataFrame:
    """Document-frequency spectrum of word-n-gram shingles with
    Good-Turing mass transfer — N_r = how many distinct shingles occur
    in exactly r documents, r = 1..max_r. The hapax row (r=1) is each
    corpus's unique-content mass (the shingles only one document owns —
    what dedup can never collapse); its complement is the shared/
    boilerplate tail that cooccurrence_pairs and corpus_boilerplate
    feed on. The Good-Turing adjusted count r* = (r+1)·N_{r+1}/N_r is
    the classical smoothing sanity-check over the same table. (Unigram
    frequency would be the textbook form, but this corpus's bounded
    word vocabulary makes every unigram frequent — shingle document
    frequency is the spectrum with signal.)

    Integer outputs: N_r are exact counts; gt_e6 = (r+1)·N_{r+1}·1e6
    div N_r (DECIMAL(38,0) product, 0 when N_{r+1} is absent);
    share_e6 = N_r·1e6 div V with V the distinct-shingle count.

    Scale: one corpus shingle aggregate to the shingle vocabulary, one
    vocabulary aggregate to ≤ max_r+1 rows, one broadcast total.

    Output: (r, n_r, share_e6, gt_e6), rows r = 1..max_r with N_r > 0.
    """
    from bella_domify_spark.ops.dedup import word_shingles
    vocab = (word_shingles(df, id_col, text_col, n)
             .groupBy("shingle").agg(F.count(F.lit(1)).alias("freq")))
    spec = (vocab.groupBy(F.col("freq").alias("r"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_r"))
            .filter(F.col("r") <= max_r + 1))
    tot = vocab.agg(F.count(F.lit(1)).cast("long").alias("v"))
    nxt = spec.select((F.col("r") - 1).alias("r"),
                      F.col("n_r").alias("n_next"))
    return (spec.filter(F.col("r") <= max_r)
            .join(nxt, "r", "left")
            .crossJoin(F.broadcast(tot))
            .select(F.col("r").cast("long").alias("r"), "n_r",
                    F.expr("cast(n_r as decimal(38,0)) * 1000000 div v")
                     .alias("share_e6"),
                    F.coalesce(
                        F.expr("(r + 1) * cast(n_next as decimal(38,0))"
                               " * 1000000 div n_r"),
                        F.lit(0)).cast("long").alias("gt_e6")))


def freq_spectrum_oracle_sql(max_r: int = 10) -> str:
    """DuckDB twin of freq_spectrum (same distinct 3-gram shingles as
    the jaccard oracle, HUGEINT products, // division, absent
    N_{r+1} -> 0)."""
    return rf"""
        WITH fsw AS (
            SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w
            FROM documents
        ),
        fsv AS (
            SELECT DISTINCT doc_id AS id,
                   array_to_string(w[i:i+2], ' ') AS shingle
            FROM fsw, UNNEST(range(1, len(w) - 1)) AS t(i)
        ),
        fsc AS (SELECT shingle, count(*)::BIGINT AS freq FROM fsv
                GROUP BY shingle),
        fss AS (SELECT freq AS r, count(*)::BIGINT AS n_r FROM fsc
                WHERE freq <= {max_r + 1} GROUP BY freq),
        fst AS (SELECT count(*)::BIGINT AS v FROM fsc)
        SELECT s.r, s.n_r,
               (s.n_r::HUGEINT * 1000000 // v)::BIGINT AS share_e6,
               coalesce((s.r + 1)::HUGEINT * nx.n_r * 1000000 // s.n_r,
                        0)::BIGINT AS gt_e6
        FROM fss s
        LEFT JOIN fss nx ON nx.r = s.r + 1
        CROSS JOIN fst
        WHERE s.r <= {max_r}
    """


VOCAB_DELTA_K = 20


def vocab_delta(df: DataFrame, text_col: str = "text",
                k: int = VOCAB_DELTA_K) -> DataFrame:
    """Term-level vocabulary drift: the k terms whose corpus share
    moved most between the even-doc_id half and the odd half — the
    named-culprits readout behind psi_drift's single number (PSI says
    THAT the distribution moved; this says WHICH words). Run between
    two real snapshots in production; the parity split here is the
    deterministic stand-in the oracle can reproduce.

    All-integer: per-half shares quantize as c·1e9 div T (DECIMAL
    products), the gap is an exact integer |·|, and the top-k cut
    breaks ties (gap desc, term asc) so the boundary is deterministic.

    Scale: one corpus token aggregate per half fused into a single
    (term, parity) groupBy, the rank window on the vocab-sized table.

    Output: (rnk, term, c_a, c_b, share_a_e9, share_b_e9, gap_e9).
    """
    terms = (df.select(F.pmod(F.col("doc_id"), F.lit(2)).alias("h"),
                       F.explode(F.split(F.lower(F.col(text_col)),
                                         r"\s+")).alias("term"))
             .filter(F.col("term") != "")
             .groupBy("term")
             .agg(F.sum(F.when(F.col("h") == 0, 1).otherwise(0))
                  .cast("long").alias("c_a"),
                  F.sum(F.when(F.col("h") == 1, 1).otherwise(0))
                  .cast("long").alias("c_b")))
    tot = terms.agg(F.sum("c_a").cast("long").alias("ta"),
                    F.sum("c_b").cast("long").alias("tb"))
    g = (terms.crossJoin(F.broadcast(tot))
         .select("term", "c_a", "c_b",
                 F.expr("cast(c_a as decimal(38,0)) * 1000000000 div ta")
                  .alias("share_a_e9"),
                 F.expr("cast(c_b as decimal(38,0)) * 1000000000 div tb")
                  .alias("share_b_e9"))
         .withColumn("gap_e9", F.abs(F.col("share_a_e9")
                                     - F.col("share_b_e9"))))
    w = Window.orderBy(F.desc("gap_e9"), F.asc("term"))
    return (g.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k)
            .select("rnk", "term", "c_a", "c_b",
                    "share_a_e9", "share_b_e9", "gap_e9"))


def vocab_delta_oracle_sql(k: int = VOCAB_DELTA_K) -> str:
    """DuckDB twin of vocab_delta (same parity halves, HUGEINT shares,
    same (gap desc, term) top-k)."""
    return rf"""
        WITH vd0 AS (
            SELECT doc_id % 2 AS h,
                   unnest(list_filter(regexp_split_to_array(lower(text),
                                                            '\s+'),
                                      x -> x != '')) AS term
            FROM documents
        ),
        vdc AS (
            SELECT term,
                   sum(CASE WHEN h = 0 THEN 1 ELSE 0 END)::BIGINT AS c_a,
                   sum(CASE WHEN h = 1 THEN 1 ELSE 0 END)::BIGINT AS c_b
            FROM vd0 GROUP BY term
        ),
        vdt AS (SELECT sum(c_a)::BIGINT AS ta, sum(c_b)::BIGINT AS tb
                FROM vdc),
        vdg AS (
            SELECT term, c_a, c_b,
                   (c_a::HUGEINT * 1000000000 // ta)::BIGINT
                       AS share_a_e9,
                   (c_b::HUGEINT * 1000000000 // tb)::BIGINT
                       AS share_b_e9
            FROM vdc CROSS JOIN vdt
        ),
        vdr AS (
            SELECT *, abs(share_a_e9 - share_b_e9) AS gap_e9,
                   row_number() OVER (
                       ORDER BY abs(share_a_e9 - share_b_e9) DESC, term)
                       AS rnk
            FROM vdg
        )
        SELECT rnk, term, c_a, c_b, share_a_e9, share_b_e9, gap_e9
        FROM vdr WHERE rnk <= {k}
    """


# ln 2 · 1e12, Python-precomputed so both engines consume the identical
# integer literal (the BENFORD_E6 discipline)
LN2_E12 = int(_math.floor(_math.log(2.0) * 1e12))


def source_jsd(docs: DataFrame, group_col: str = "source",
               text_col: str = "text") -> DataFrame:
    """Pairwise Jensen-Shannon divergence between source unigram
    distributions — the DISTRIBUTIONAL corpus-similarity metric next to
    vocab_overlap's set view: two crawls can share every word
    (overlap ≈ 1) yet use them at wildly different rates (JSD ≫ 0);
    symmetric, bounded by ln 2, and the standard input to
    corpus-mixing decisions.

    Decomposition that needs only the SHARED-term join: with p, q the
    per-source term shares and m = (p+q)/2,
    JSD = ½·Σ_shared [p·ln(2p/(p+q)) + q·ln(2q/(p+q))]
        + ½·ln2·[(1−P_sh) + (1−Q_sh)]
    — every term unique to one side contributes exactly p·ln2, so the
    unique mass folds into two exact integer ratios of BIGINT counts
    times the Python-precomputed LN2_E12 literal. Shared-term
    contributions quantize floor-e12 PER TERM and sum as integers (the
    bigram_surprisal discipline); the count ratios feeding ln are
    exact doubles (counts < 2⁵³).

    Scale: one (source, term) aggregate, a term-keyed pair join with
    C(|sources|,2)-bounded per-term fan-out (the vocab_overlap shape),
    aggregate-sized margins broadcast.

    Output: (src_a, src_b, n_shared, jsd_e12); jsd_e12/1e12 ∈
    [0, ln 2]. A pair with ZERO shared terms emits no row (its JSD is
    exactly ln 2 by definition — absent-row = maximal divergence; real
    text sources always share stopwords, so the case is theoretical).
    """
    cnt = (docs.filter(F.col(group_col).isNotNull()
                       & F.col(text_col).isNotNull())
           .select(F.col(group_col).alias("src"),
                   F.explode(F.split(F.lower(F.col(text_col)), r"\s+"))
                    .alias("term"))
           .filter(F.col("term") != "")
           .groupBy("src", "term")
           .agg(F.count(F.lit(1)).cast("long").alias("c")))
    tot = cnt.groupBy("src").agg(F.sum("c").cast("long").alias("t"))
    a = (cnt.join(tot, "src")
         .select(F.col("src").alias("src_a"), "term",
                 F.col("c").alias("ca"), F.col("t").alias("ta")))
    b = (cnt.join(tot, "src")
         .select(F.col("src").alias("src_b"), "term",
                 F.col("c").alias("cb"), F.col("t").alias("tb")))
    sh = (a.join(b, "term")
          .filter(F.col("src_a") < F.col("src_b"))
          .select("src_a", "src_b", "ca", "ta", "cb", "tb"))
    p = F.col("ca").cast("double") / F.col("ta").cast("double")
    q = F.col("cb").cast("double") / F.col("tb").cast("double")
    term = (sh.withColumn(
        "s_e12",
        (F.floor(p * F.log(F.lit(2.0) * p / (p + q)) * 1e12)
         + F.floor(q * F.log(F.lit(2.0) * q / (p + q)) * 1e12))
        .cast("long")))
    agg = (term.groupBy("src_a", "src_b")
           .agg(F.count(F.lit(1)).cast("long").alias("n_shared"),
                F.sum(F.col("s_e12").cast("decimal(38,0)")).alias("ssum"),
                F.sum("ca").cast("long").alias("csa"),
                F.max("ta").alias("ta"),
                F.sum("cb").cast("long").alias("csb"),
                F.max("tb").alias("tb")))
    return agg.select(
        "src_a", "src_b", "n_shared",
        F.expr(f"(ssum + cast(ta - csa as decimal(38,0)) * {LN2_E12}"
               f" div ta + cast(tb - csb as decimal(38,0)) * {LN2_E12}"
               f" div tb) div 2").alias("jsd_e12"))


def source_jsd_oracle_sql() -> str:
    """DuckDB twin of source_jsd (same per-term floor-e12 chain, same
    LN2_E12 literal, // exact division)."""
    return rf"""
        WITH sj0 AS (
            SELECT source AS src,
                   unnest(list_filter(regexp_split_to_array(lower(text),
                                                            '\s+'),
                                      x -> x != '')) AS term
            FROM documents
            WHERE source IS NOT NULL AND text IS NOT NULL
        ),
        sjc AS (SELECT src, term, count(*)::BIGINT AS c FROM sj0
                GROUP BY src, term),
        sjt AS (SELECT src, sum(c)::BIGINT AS t FROM sjc GROUP BY src),
        sjp AS (
            SELECT a.src AS src_a, b.src AS src_b,
                   a.c AS ca, ta.t AS ta, b.c AS cb, tb.t AS tb
            FROM sjc a
            JOIN sjc b USING (term)
            JOIN sjt ta ON ta.src = a.src
            JOIN sjt tb ON tb.src = b.src
            WHERE a.src < b.src
        ),
        sje AS (
            SELECT src_a, src_b, ca, ta, cb, tb,
                   (floor((ca::DOUBLE / ta)
                          * ln(2.0 * (ca::DOUBLE / ta)
                               / (ca::DOUBLE / ta + cb::DOUBLE / tb))
                          * 1e12)
                    + floor((cb::DOUBLE / tb)
                            * ln(2.0 * (cb::DOUBLE / tb)
                                 / (ca::DOUBLE / ta + cb::DOUBLE / tb))
                            * 1e12))::BIGINT AS s_e12
            FROM sjp
        ),
        sja AS (
            SELECT src_a, src_b, count(*)::BIGINT AS n_shared,
                   sum(s_e12::HUGEINT) AS ssum,
                   sum(ca)::BIGINT AS csa, max(ta) AS ta,
                   sum(cb)::BIGINT AS csb, max(tb) AS tb
            FROM sje GROUP BY src_a, src_b
        )
        SELECT src_a, src_b, n_shared,
               ((ssum + (ta - csa)::HUGEINT * {LN2_E12} // ta
                 + (tb - csb)::HUGEINT * {LN2_E12} // tb)
                // 2)::BIGINT AS jsd_e12
        FROM sja
    """
