"""Spark tests for the training-data ops: dedup families, ANN, multimodal."""

import pandas as pd
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    base = ("the quick brown fox jumps over the lazy dog and then runs far "
            "away into the deep green forest to hide from the loud hunters")
    near = base.replace("green", "dark")          # 1-word difference
    rows = [
        (0, base), (1, base),                      # exact dup pair
        (2, near),                                 # near dup of 0/1
        (3, "completely different text about spark sql engines and "
            "distributed shuffle partitioning strategies for big data"),
        (4, "yet another unrelated document mentioning embeddings vectors "
            "and approximate nearest neighbour search techniques"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


class TestDedup:
    def test_exact(self, docs):
        from bella_domify_spark.ops.dedup import exact_dedup

        res = {r["keeper_id"]: r["n_dups"] for r in exact_dedup(docs).collect()}
        assert res[0] == 2          # docs 0,1 identical, keeper = min id
        assert sum(res.values()) == 5

    def test_jaccard_pairs(self, docs):
        from bella_domify_spark.ops.dedup import jaccard_pairs

        pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
                 for r in jaccard_pairs(docs, threshold=0.5).collect()}
        assert pairs[(0, 1)] == 1.0
        assert 0.5 <= pairs[(0, 2)] < 1.0
        assert (0, 3) not in pairs

    def test_short_documents_yield_no_shingles(self, spark):
        # Docs with < n words must not abort the job (Spark's sequence()
        # auto-reverses for negative stops, feeding slice() bad indices)
        from bella_domify_spark.ops.dedup import (
            jaccard_pairs,
            minhash_lsh_pairs,
            word_shingles,
        )

        df = spark.createDataFrame(
            [(0, "hi"), (1, "two words"), (2, "exactly three words"),
             (3, "a slightly longer doc here")],
            ["doc_id", "text"])
        sh = word_shingles(df, n=3).collect()
        assert {r["id"] for r in sh} == {2, 3}
        assert jaccard_pairs(df, threshold=0.1).count() == 0
        assert minhash_lsh_pairs(df, threshold=0.1).count() == 0

    def test_containment_pairs_directed(self, spark):
        from bella_domify_spark.ops.dedup import containment_pairs

        # A (7 words, 5 shingles) appears verbatim inside B (18 words,
        # 16 shingles): containment(A->B)=1.0, containment(B->A)=5/16.
        # C (5 words, 3 shingles < min_shingles=5) is a sub-span of both
        # but must be dropped on BOTH join sides by the floor.
        df = spark.createDataFrame(
            [(0, "the quick brown fox jumps over dogs"),
             (1, "intro words here then the quick brown fox jumps over "
                 "dogs and some extra trailing words to finish"),
             (2, "the quick brown fox jumps")],
            ["doc_id", "text"])
        got = {(r["id_a"], r["id_b"]): (r["n_common"], r["n_a"],
                                        r["containment"])
               for r in containment_pairs(df, threshold=0.5).collect()}
        assert got == {(0, 1): (5, 5, 1.0)}

    def test_minhash_estimates_jaccard(self, docs):
        from bella_domify_spark.ops.dedup import jaccard_pairs, minhash_lsh_pairs

        true = {(r["id_a"], r["id_b"]): r["jaccard"]
                for r in jaccard_pairs(docs, threshold=0.0).collect()}
        est = {(r["id_a"], r["id_b"]): r["est_jaccard"]
               for r in minhash_lsh_pairs(docs, threshold=0.3,
                                          num_hashes=128, bands=32).collect()}
        assert est[(0, 1)] == 1.0
        assert (0, 2) in est
        assert abs(est[(0, 2)] - true[(0, 2)]) < 0.25

    def test_minhash_memory_bounded_on_huge_doc(self, spark):
        # r1 buffered every shingle's 64-long hash array per group
        # (collect_list) — a multi-MB doc was a memory cliff. The reworked
        # posexplode+min plan keeps O(num_hashes) per group; this ~1.5 MB
        # document (230k shingles) must aggregate without ballooning.
        import numpy as np

        from bella_domify_spark.ops.dedup import minhash_signatures

        rng = np.random.RandomState(3)
        words = " ".join(f"w{rng.randint(0, 5000)}" for _ in range(230_000))
        df = spark.createDataFrame([(0, words)], ["doc_id", "text"])
        sig = minhash_signatures(df).collect()
        assert len(sig) == 1 and len(sig[0]["sig"]) == 64
        assert all(0 <= v < 2_147_483_647 for v in sig[0]["sig"])

    def test_simhash_properties(self, docs):
        from bella_domify_spark.ops.dedup import simhash

        fp = {r["id"]: r["simhash"] for r in simhash(docs).collect()}
        assert fp[0] == fp[1]                       # identical text
        ham_near = bin(fp[0] ^ fp[2]).count("1")
        ham_far = bin(fp[0] ^ fp[3]).count("1")
        assert ham_near < ham_far
        assert ham_near <= 12

    def test_simhash_near_dups(self, docs):
        from bella_domify_spark.ops.dedup import simhash_near_dups

        pairs = {(r["id_a"], r["id_b"]) for r in
                 simhash_near_dups(docs, max_hamming=12).collect()}
        assert (0, 1) in pairs
        assert (0, 2) in pairs

    def test_operators_release_their_caches(self, docs, spark):
        # every operator must leave the session's cache manager empty after
        # its call, and at most ONE new persistent RDD (its result's own
        # checkpoint): a leaked persist or a superseded per-round checkpoint
        # on a long shared session pins executor memory until the session
        # ends (everything goes through ops.pins.Pins; jaccard deliberately
        # never caches)
        from bella_domify_spark.ops.dedup import (
            jaccard_pairs,
            minhash_lsh_pairs,
            simhash_near_dups,
        )
        from bella_domify_spark.ops.dsir import dsir_weights
        from bella_domify_spark.ops.graph import (
            connected_components,
            kcore_peel,
            lpa_communities,
            neighborhood_sizes,
            pagerank,
        )
        from bella_domify_spark.ops.retrieval import bm25_prf

        def pinned():
            return set(spark.sparkContext._jsc.getPersistentRDDs().keySet()
                       .toArray())

        pairs = jaccard_pairs(docs, threshold=0.5)
        cache_mgr = spark._jsparkSession.sharedState().cacheManager()
        spark.catalog.clearCache()
        for op in (lambda d: jaccard_pairs(d, threshold=0.5),
                   lambda d: minhash_lsh_pairs(d, threshold=0.3),
                   lambda d: simhash_near_dups(d, max_hamming=12),
                   lambda d: connected_components(pairs),
                   lambda d: connected_components(pairs,
                                                  algorithm="two_star"),
                   lambda d: kcore_peel(pairs),
                   lambda d: lpa_communities(pairs),
                   lambda d: neighborhood_sizes(pairs),
                   lambda d: pagerank(pairs, d),
                   lambda d: bm25_prf(d, queries=[("q", "quick fox")]),
                   lambda d: dsir_weights(d.withColumn(
                       "lang", F.when(F.col("doc_id") < 3, "en")
                       .otherwise("de")))):
            before = pinned()
            assert len(op(docs).collect()) > 0
            assert len(pinned() - before) <= 1, op
            assert cache_mgr.isEmpty(), op

    def test_failed_loop_releases_every_round(self, spark):
        # a non-converging label_prop raises mid-loop: the scope must still
        # release the persisted edge list and every round's checkpoint
        from bella_domify_spark.ops.graph import connected_components

        chain = spark.createDataFrame([(i, i + 1) for i in range(5)],
                                      "id_a bigint, id_b bigint")
        before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet()
                     .toArray())
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components(chain, max_iter=1)
        after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet()
                    .toArray())
        assert after - before == set()
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

    def test_incremental_dedup_screens_new_batch(self, spark):
        from bella_domify_spark.ops.dedup import incremental_dedup

        corpus = spark.createDataFrame(
            [(0, "the quick brown fox jumps over the lazy dog near the "
                 "river bank at dawn while birds sing loudly overhead"),
             (2, "spark shuffle partition broadcast join skew salt stage "
                 "codegen arrow batch pandas vector column pruning scan")],
            ["doc_id", "text"])
        new = spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog near the "
                 "river bank at dawn while birds sing loudly overhead"),
             (3, "completely novel content about alpine meadows glaciers "
                 "and long mountain hiking trails in early summer light"),
             (5, "xy")],  # < 3 words: no shingles, must still appear
            ["doc_id", "text"])
        got = {r["id"]: r["is_dup"]
               for r in incremental_dedup(new, corpus).collect()}
        assert got == {1: True, 3: False, 5: False}

    def test_duplicate_clusters(self, spark):
        from bella_domify_spark.ops.dedup import duplicate_clusters

        # chain A: 0-1 and 1-2 are near-dups but 0-2 may fall below the
        # threshold — connected components must still place all three in one
        # cluster (transitive closure, not pairwise grouping)
        base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
                "lambda mu nu xi omicron pi rho sigma tau upsilon")
        mid = base.replace("eta theta iota", "one two three")
        far = mid.replace("alpha beta gamma", "four five six")
        other = ("spark shuffle partition broadcast join skew salt adaptive "
                 "execution stage codegen whole arrow batch pandas vector")
        other2 = other.replace("skew salt", "tilt pepper")
        docs = spark.createDataFrame(
            [(10, base), (11, mid), (12, far), (13, other), (14, other2),
             (15, "totally unrelated singleton document not matching")],
            ["doc_id", "text"])
        rows = {r["doc_id"]: (r["canonical_id"], r["cluster_size"])
                for r in duplicate_clusters(docs, threshold=0.3).collect()}
        assert rows[10] == (10, 3) and rows[11] == (10, 3) and rows[12] == (10, 3)
        assert rows[13] == (13, 2) and rows[14] == (13, 2)
        assert 15 not in rows          # singletons are not emitted


class TestCurate:
    def test_curation_predicates_compose(self, spark):
        from bella_domify_spark.ops.curate import curate_corpus

        long_a = " ".join(f"alpha{i} beta{i} gamma{i}" for i in range(12))
        long_b = long_a.replace("alpha3", "delta3")   # near-dup of long_a
        short = "too short to keep"
        other = " ".join(f"tok{i} unique{i} words{i}" for i in range(12))
        docs = spark.createDataFrame(
            [(1, long_a), (2, long_b), (3, short), (4, other)],
            ["doc_id", "text"])
        rows = {r["doc_id"]: r for r in curate_corpus(docs).collect()}
        assert 1 in rows          # cluster canonical survives
        assert 2 not in rows      # its near-dup is removed
        assert 3 not in rows      # below the word floor
        assert 4 in rows
        assert rows[1]["split"] in {"train", "val", "test"}
        assert rows[4]["n_words"] == 36


class TestStratifiedSampling:
    def test_rates_and_determinism(self, spark):
        from bella_domify_spark.ops.textstats import sample_stratified

        rows = [(i, "en" if i % 2 == 0 else "de") for i in range(2000)]
        df = spark.createDataFrame(rows, ["doc_id", "lang"])
        kept = sample_stratified(df, {"en": 0.25}, strata_col="lang")
        by_lang = {r["lang"]: r["n"] for r in
                   kept.groupBy("lang").agg(F.count("*").alias("n")).collect()}
        assert by_lang["de"] == 1000                   # untouched stratum
        assert 175 < by_lang["en"] < 325               # ~25% of 1000
        ids = {r["doc_id"] for r in kept.collect()}
        again = {r["doc_id"] for r in sample_stratified(
            df.repartition(7), {"en": 0.25}, strata_col="lang").collect()}
        assert ids == again                            # content-addressed


class TestPiiAndRepetition:
    def test_redact_pii(self, spark):
        from bella_domify_spark.ops.textstats import redact_pii

        df = spark.createDataFrame([
            (1, "mail alice@example.com and 192.168.0.1 plus bob@x.co.uk"),
            (2, "nothing sensitive here"),
        ], ["doc_id", "text"])
        rows = {r["doc_id"]: r for r in redact_pii(df).collect()}
        assert rows[1]["redacted_text"] == \
            "mail <EMAIL> and <IP> plus <EMAIL>"
        assert rows[1]["n_redactions"] == 3
        assert rows[2]["n_redactions"] == 0
        assert rows[2]["redacted_text"] == "nothing sensitive here"

    def test_repetition_stats(self, spark):
        from bella_domify_spark.ops.textstats import repetition_stats

        df = spark.createDataFrame([
            (1, "spam spam spam spam eggs"),
            (2, "all words here are unique"),
        ], ["doc_id", "text"])
        rows = {r["doc_id"]: r for r in repetition_stats(df).collect()}
        assert rows[1]["n_words"] == 5
        assert rows[1]["n_distinct_words"] == 2
        assert rows[1]["dup_word_ratio"] == 0.6
        assert rows[1]["top_word_ratio"] == 0.8
        assert rows[2]["dup_word_ratio"] == 0.0
        assert rows[2]["top_word_ratio"] == 0.2


class TestPackShardsEdges:
    def test_empty_corpus_yields_single_empty_shard_space(self, spark):
        from bella_domify_spark.ops.textstats import pack_shards

        empty = spark.createDataFrame([], "doc_id bigint, text string")
        out = pack_shards(empty, tokens_per_shard=1000)
        assert out.count() == 0  # total=0 → n_shards=1, no division crash


class TestDecontamination:
    def test_flags_ngram_overlap_with_benchmark(self, spark):
        from bella_domify_spark.ops.dedup import contamination_flags

        bench_text = "the quick brown fox jumps over the lazy dog tonight"
        corpus = spark.createDataFrame([
            (1, f"intro words here {bench_text} and trailing content"),
            (2, "completely different text with no overlapping phrases "
                "whatsoever in any span of eight consecutive words"),
            (3, "short doc"),                       # < n words: unflaggable
        ], ["doc_id", "text"])
        bench = spark.createDataFrame([(100, bench_text)],
                                      ["bench_id", "text"])
        rows = {(r["doc_id"], r["bench_id"]): r["n_collisions"]
                for r in contamination_flags(corpus, bench, n=8).collect()}
        assert set(rows) == {(1, 100)}
        assert rows[(1, 100)] == 3  # 10-word bench text → 3 shared 8-grams

    def test_bloom_prefilter_is_row_identical(self, spark):
        # the broadcast-Bloom scale path must equal the plain operator —
        # no false negatives by construction, false positives removed by
        # the exact join. A deliberately saturated 2^10-bit bitmap (fpr
        # near 1) exercises the false-positive path hard and must STILL
        # produce identical rows.
        from bella_domify_spark.ops.dedup import (
            bloom_contamination_flags, contamination_flags)

        d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        bench = (d.filter(F.col("doc_id") % 97 == 0)
                 .select(F.col("doc_id").alias("bench_id"), "text"))
        plain = sorted(map(tuple,
                           contamination_flags(d, bench, n=8).collect()))
        assert plain  # planted self-overlap guarantees hits
        for bits in (20, 10):
            got = sorted(map(tuple, bloom_contamination_flags(
                d, bench, n=8, bits_log2=bits).collect()))
            assert got == plain, f"bloom(bits_log2={bits}) != plain"


class TestPackShards:
    def test_shards_are_balanced_and_deterministic(self, spark):
        from bella_domify_spark.ops.textstats import pack_shards

        df = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
        out = pack_shards(df, tokens_per_shard=10_000).cache()
        sizes = {r["shard_id"]: r["s"]
                 for r in out.groupBy("shard_id")
                 .agg(F.sum("tokens").alias("s")).collect()}
        total = sum(sizes.values())
        n = len(sizes)
        assert n == -(-total // 10_000)  # ceil(total/budget) shards exist
        mean = total / n
        # hash balance: no shard strays far from the budgeted mean
        assert max(sizes.values()) < 1.35 * mean
        assert min(sizes.values()) > 0.65 * mean
        # content-addressed: identical under adversarial partitioning
        again = {(r["doc_id"], r["shard_id"])
                 for r in pack_shards(df.repartition(7),
                                      tokens_per_shard=10_000).collect()}
        assert again == {(r["doc_id"], r["shard_id"]) for r in out.collect()}
        out.unpersist()


class TestConnectedComponents:
    def _random_graph(self, seed=3, n=40, m=40):
        import random

        rng = random.Random(seed)
        return [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]

    def _reference_cc(self, edges):
        # driver-side union-find ground truth
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            if a != b:
                parent[find(a)] = find(b)
        comp = {}
        for a, b in edges:
            if a == b:
                continue
            for x in (a, b):
                comp.setdefault(find(x), set()).add(x)
        out = {}
        for members in comp.values():
            root = min(members)
            for x in members:
                out[x] = (root, len(members))
        return out

    def test_algorithms_agree_on_random_graph(self, spark):
        from bella_domify_spark.ops.graph import connected_components

        for seed in (3, 17, 29):
            edges = self._random_graph(seed=seed)
            expected = self._reference_cc(edges)
            df = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
            for alg in ("label_prop", "two_star"):
                got = {r["doc_id"]: (r["canonical_id"], r["cluster_size"])
                       for r in connected_components(
                           df, algorithm=alg, max_iter=40).collect()}
                assert got == expected, (alg, seed)

    def test_reliable_checkpoint_mode(self, spark, tmp_path):
        # checkpoint="reliable" writes rounds to the cluster checkpoint
        # dir (survives executor loss); results must be identical
        from bella_domify_spark.ops.graph import connected_components

        spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
        edges = self._random_graph(seed=17)
        df = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
        got = {r["doc_id"]: (r["canonical_id"], r["cluster_size"])
               for r in connected_components(
                   df, max_iter=40, checkpoint="reliable").collect()}
        assert got == self._reference_cc(edges)

    def test_two_star_beats_diameter_bound(self, spark):
        # a 40-node chain has diameter 39: label_prop cannot finish in 8
        # rounds (and must fail loudly), while two_star converges in
        # O(log n) rounds on the same budget
        import pytest

        from bella_domify_spark.ops.graph import connected_components

        chain = [(i, i + 1) for i in range(39)]
        df = spark.createDataFrame(chain, "id_a bigint, id_b bigint")
        got = {r["doc_id"]: r["canonical_id"]
               for r in connected_components(
                   df, algorithm="two_star", max_iter=8).collect()}
        assert got == {i: 0 for i in range(40)}
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components(df, algorithm="label_prop", max_iter=8)


class TestAnn:
    def test_lsh_matches_exact_for_self(self, spark):
        import numpy as np

        from bella_domify_spark.ops.ann import cosine_topk, lsh_topk

        rng = np.random.RandomState(7)
        vecs = [(i, [float(x) for x in rng.normal(size=16)]) for i in range(40)]
        df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
        q = df.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))

        exact = cosine_topk(df, q, k=1).collect()
        assert all(r["vec_id"] == r["q_id"] and abs(r["cosine"] - 1.0) < 1e-6
                   for r in exact)

        approx = lsh_topk(df, q, k=1, n_planes=8, n_tables=4, dim=16).collect()
        # self-vector always collides with itself in every table
        assert all(r["vec_id"] == r["q_id"] for r in approx)

    def test_embedding_near_dups(self, spark):
        import numpy as np

        from bella_domify_spark.ops.ann import embedding_near_dups

        rng = np.random.RandomState(5)
        base = [[float(x) for x in rng.normal(size=16)] for _ in range(30)]
        rows = [(i, v) for i, v in enumerate(base)]
        # plant 5 near-duplicates (tiny jitter of vectors 0..4)
        rows += [(100 + i, [x * 1.001 + 0.002 for x in base[i]])
                 for i in range(5)]
        df = spark.createDataFrame(rows, ["vec_id", "embedding"])
        pairs = {(r["id_a"], r["id_b"]): r["cosine"]
                 for r in embedding_near_dups(df, threshold=0.98, dim=16,
                                              n_planes=8, n_tables=4).collect()}
        assert set(pairs) == {(i, 100 + i) for i in range(5)}
        assert all(c > 0.99 for c in pairs.values())

    def test_ivf_recall_on_clustered_vectors(self, spark):
        import numpy as np

        from bella_domify_spark.ops.ann import cosine_topk, ivf_topk

        # 4 well-separated clusters; centroid seeds (lowest ids) cover them
        rng = np.random.RandomState(11)
        centers = np.eye(4).repeat(4, axis=1)  # 4 orthogonal 16-d anchors
        vecs = []
        for i in range(48):
            c = centers[i % 4]
            vecs.append((i, [float(x) for x in c + rng.normal(scale=0.05,
                                                              size=16)]))
        df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
        q = df.filter(F.col("vec_id") < 4).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))

        exact = {(r["q_id"], r["vec_id"])
                 for r in cosine_topk(df, q, k=5).collect()}
        approx_rows = ivf_topk(df, q, k=5, n_centroids=4, n_probe=1).collect()
        approx = {(r["q_id"], r["vec_id"]) for r in approx_rows}
        # every query's own cluster is its probed list → full recall here
        assert approx == exact
        assert all(r["vec_id"] == r["q_id"] for r in approx_rows
                   if r["rank"] == 1)

    def test_ivf_trained_centroids_recall(self, spark):
        # k-means-trained centroids on the real testdata embeddings must
        # reach recall@5 >= 0.9 vs exact brute force. These embeddings are
        # isotropic gaussians (max pairwise cosine ~0.44) — IVF's worst
        # case, where neighbors scatter across lists and recall is bought
        # with n_probe (6 of 8 lists here). On clustered data (the test
        # above) n_probe=1 already gives full recall.
        from bella_domify_spark.ops.ann import (
            cosine_topk,
            ivf_topk,
            train_centroids,
        )

        df = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        q = df.filter(F.col("vec_id") % 61 == 0).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
        cents = train_centroids(df, n_centroids=8, iters=3)
        assert cents.count() == 8

        exact = {(r["q_id"], r["vec_id"])
                 for r in cosine_topk(df, q, k=5).collect()}
        approx = {(r["q_id"], r["vec_id"])
                  for r in ivf_topk(df, q, k=5, n_probe=6,
                                    centroids=cents).collect()}
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.9, recall


class TestKmeansAssign:
    def test_two_cluster_convergence_exact_dist(self, spark):
        from bella_domify_spark.ops.ann import kmeans_assign

        df = spark.createDataFrame([
            (0, [0.0, 0.0]), (1, [0.1, 0.0]), (2, [0.0, 0.1]),
            (3, [10.0, 10.0]), (4, [10.1, 10.0]), (5, [10.0, 10.1]),
        ], ["vec_id", "embedding"])
        got = {r["vec_id"]: r for r in
               kmeans_assign(df, n_clusters=2, iters=2).collect()}
        # both seeds start inside group A; two Lloyd rounds separate the
        # groups: {0,1,2} together, {3,4,5} together, different clusters
        assert got[0]["cluster_id"] == got[1]["cluster_id"] \
            == got[2]["cluster_id"]
        assert got[3]["cluster_id"] == got[4]["cluster_id"] \
            == got[5]["cluster_id"]
        assert got[0]["cluster_id"] != got[3]["cluster_id"]
        # integer-exact final distance: centroid A = (100000+0+0) div 3
        # = 33333 per axis, so dist2(vec 0) = 2 * 33333^2
        assert got[0]["dist2"] == 2 * 33333 ** 2

    def test_duplicate_seeds_tie_to_lowest_and_keep_empty(self, spark):
        from bella_domify_spark.ops.ann import kmeans_assign

        df = spark.createDataFrame(
            [(0, [1.0]), (1, [1.0]), (2, [1.5])], ["vec_id", "embedding"])
        got = {r["vec_id"]: r for r in
               kmeans_assign(df, n_clusters=2, iters=2).collect()}
        # identical seed centroids: round 0 ties every point to c_id 0
        # and cluster 1 goes EMPTY — it must keep its previous centroid
        # (no divide-by-zero), which still sits on the seed point and so
        # recaptures vectors 0,1 at distance 0 in round 1 while the
        # moved c0 takes vector 2: duplicate seeds self-repair instead
        # of crashing or collapsing to one cluster
        assert got[0]["cluster_id"] == got[1]["cluster_id"] == 1
        assert got[0]["dist2"] == got[1]["dist2"] == 0
        assert got[2]["cluster_id"] == 0 and got[2]["dist2"] == 0

    def test_partition_invariance(self, spark):
        from bella_domify_spark.ops.ann import kmeans_assign

        df = spark.read.parquet(
            "/root/testdata/sf0.01/embeddings.parquet").limit(100)
        a = {(r["vec_id"], r["cluster_id"], r["dist2"])
             for r in kmeans_assign(df, iters=2).collect()}
        b = {(r["vec_id"], r["cluster_id"], r["dist2"])
             for r in kmeans_assign(df.repartition(13), iters=2).collect()}
        assert a == b


class TestMultimodal:
    def test_stub_decode_features(self, spark):
        from bella_domify_spark.ops.multimodal import attach_media, decode_features

        df = spark.createDataFrame([(1, "abcd"), (2, "")], ["doc_id", "text"])
        media = attach_media(df)
        feats = {r["media_id"]: r for r in decode_features(media).collect()}
        assert feats[1]["n_bytes"] == 4
        assert feats[1]["byte_sum"] == sum(b"abcd")
        assert feats[1]["head_hex"] == b"abcd".hex()
        assert len(feats[1]["thumb"]) == 4
        assert feats[2]["n_bytes"] == 0

    def test_real_codec_is_stubbed(self, spark):
        from bella_domify_spark.ops.multimodal import attach_media, decode_features

        df = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
        with pytest.raises(NotImplementedError):
            decode_features(attach_media(df), codec="real")

    def test_resize_rewrites_payload_and_meta(self, spark):
        from bella_domify_spark.ops.multimodal import attach_media, resize_media

        df = spark.createDataFrame([(1, "x" * 100), (2, "ab")],
                                   ["doc_id", "text"])
        out = {r["media_id"]: r
               for r in resize_media(attach_media(df), 64, 64).collect()}
        assert len(out[1]["payload"]) == 16        # 64*64//256 byte stub
        assert out[1]["meta"]["width"] == 64
        assert bytes(out[2]["payload"]) == b"ab"   # shorter than target

    def test_frame_sampling_chunks(self, spark):
        from bella_domify_spark.ops.multimodal import attach_media, sample_frames

        # len 16 → n_frames = 16%7+1 = 3, chunk = 5, remainder dropped
        df = spark.createDataFrame([(7, "0123456789abcdef")],
                                   ["doc_id", "text"])
        rows = sorted(sample_frames(attach_media(df)).collect(),
                      key=lambda r: r["frame_idx"])
        assert [r["frame_idx"] for r in rows] == [0, 1, 2]
        assert all(r["frame_bytes"] == 5 for r in rows)
        assert bytes(rows[0]["frame"]) == b"01234"
        assert bytes(rows[2]["frame"]) == b"abcde"


class TestSplit:
    def test_train_split_deterministic_and_proportional(self, spark):
        from bella_domify_spark.ops.textstats import train_split

        docs = spark.createDataFrame([(i,) for i in range(2000)], ["doc_id"])
        rows = {r["doc_id"]: (r["bucket"], r["split"])
                for r in train_split(docs).collect()}
        again = {r["doc_id"]: (r["bucket"], r["split"])
                 for r in train_split(docs.repartition(7)).collect()}
        assert rows == again                     # partitioning-independent
        from collections import Counter
        c = Counter(s for _, s in rows.values())
        assert c["train"] + c["val"] + c["test"] == 2000
        assert 0.03 < c["test"] / 2000 < 0.07    # ~5% each
        assert 0.03 < c["val"] / 2000 < 0.07
        for i, (b, s) in rows.items():
            assert s == ("test" if b < 5 else "val" if b < 10 else "train")


class TestTemporalJoins:
    def _events(self, spark, rows):
        import datetime as dt

        base = dt.datetime(2024, 1, 1)
        return spark.createDataFrame(
            [(i, base + dt.timedelta(seconds=s), u, t, float(v))
             for i, (s, u, t, v) in enumerate(rows)],
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double")

    def test_asof_join_semantics(self, spark):
        from bella_domify_spark.ops.temporal import asof_view_attribution

        ev = self._events(spark, [
            (0, 1, "view", 1.0),      # id 0
            (10, 1, "click", 0.0),    # id 1 -> view 0 (lag 10s)
            (20, 1, "view", 2.0),     # id 2
            (20, 1, "click", 0.0),    # id 3 -> tie matches view 2 (lag 0)
            (5, 2, "click", 0.0),     # id 4 -> no prior view: NULLs
            (30, 2, "view", 3.0),     # id 5
            (40, 2, "click", 0.0),    # id 6 -> view 5
        ])
        got = {r["event_id"]: (r["view_event_id"], r["lag_us"])
               for r in asof_view_attribution(ev).collect()}
        assert got == {1: (0, 10_000_000), 3: (2, 0),
                       4: (None, None), 6: (5, 10_000_000)}

    def test_asof_join_partitioning_independent(self, spark):
        from bella_domify_spark.ops.temporal import asof_view_attribution

        ev = self._events(spark, [(s, s % 5, ("view" if s % 3 else "click"),
                                   s * 0.5) for s in range(200)])
        a = sorted(map(tuple, asof_view_attribution(ev).collect()))
        b = sorted(map(tuple,
                       asof_view_attribution(ev.repartition(13)).collect()))
        assert a == b and len(a) > 30

    def test_range_join_window_boundaries_and_buckets(self, spark):
        from bella_domify_spark.ops.temporal import range_join

        # window 60 s: matches at exactly +/-60 s are IN, 61 s is OUT;
        # candidates deliberately land in the probe's bucket and both
        # neighbors to exercise the 3-bucket explosion
        ev = self._events(spark, [
            (100, 1, "error", 0.0),   # probe id 0, bucket 1
            (40, 1, "x", 1.0),        # id 1: -60s, bucket 0 -> IN
            (39, 1, "x", 1.0),        # id 2: -61s -> OUT
            (160, 1, "x", 1.0),       # id 3: +60s, bucket 2 -> IN
            (161, 1, "x", 1.0),       # id 4: +61s -> OUT
            (110, 1, "x", 1.0),       # id 5: +10s, same bucket -> IN
            (100, 2, "x", 1.0),       # id 6: other user -> OUT
        ])
        probe = ev.filter("event_type = 'error'")
        got = sorted(r["event_id_ref"] for r in
                     range_join(probe, ev, key="user_id", ts="ts",
                                window_us=60_000_000,
                                carry=["event_id"]).collect())
        assert got == [0, 1, 3, 5]    # includes the probe itself (id 0)

    def test_range_error_context_excludes_self_and_sums(self, spark):
        from bella_domify_spark.ops.temporal import range_error_context

        ev = self._events(spark, [
            (0, 1, "error", 9.0),
            (10, 1, "click", 1.25),
            (20, 1, "view", 2.50),
            (90_000, 1, "view", 4.0),   # > 1h away -> excluded
        ])
        rows = range_error_context(ev).collect()
        assert len(rows) == 1
        assert (rows[0]["n_ctx"], rows[0]["sum_value_cents"]) == (2, 375)

    def test_no_cartesian_in_temporal_plans(self, spark):
        import contextlib
        import io

        from bella_domify_spark.ops.temporal import (
            asof_view_attribution,
            range_error_context,
        )

        ev = self._events(spark, [(s, s % 3, "error" if s % 4 else "view",
                                   1.0) for s in range(50)])
        for df in (asof_view_attribution(ev), range_error_context(ev)):
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain()
            plan = buf.getvalue()
            assert "CartesianProduct" not in plan
            assert "BroadcastNestedLoopJoin" not in plan

    def test_sessionize_boundary_strictly_greater(self, spark):
        from bella_domify_spark.ops.temporal import sessionize

        # gap == gap_sec stays in the SAME session (strict >); gap_sec+1
        # starts a new one; first event of each user opens session 1
        ev = self._events(spark, [
            (0, 1, "x", 0.0),         # id 0: session 1
            (1800, 1, "x", 0.0),      # id 1: gap exactly 1800 -> session 1
            (3601, 1, "x", 0.0),      # id 2: gap 1801 -> session 2
            (0, 2, "x", 0.0),         # id 3: user 2, session 1
        ])
        got = {r["event_id"]: r["session_idx"]
               for r in sessionize(ev).collect()}
        assert got == {0: 1, 1: 1, 2: 2, 3: 1}

    def test_asof_hot_key_zipf_matches_bruteforce(self, spark):
        # skew evidence (round-4 verdict ask): ONE user holds ~50% of a
        # 20k-event corpus. asof_join's keyed window serializes that key
        # into one task by design (sort-merge profile) — this pins
        # correctness under the hot key, including the duplicate
        # (user, ts) reference ties the dense key produces (largest
        # event_id wins via ref_order). Task-time bound recorded in
        # docs/PLANS.md §8.
        import bisect

        import numpy as np

        from bella_domify_spark.ops.temporal import asof_join

        rng = np.random.RandomState(11)
        n = 20_000
        users = np.where(rng.rand(n) < 0.5, 0, rng.randint(1, 200, n))
        secs = rng.randint(0, 500_000, n)
        kinds = np.where(rng.rand(n) < 0.5, "view", "click")
        rows = [(int(s), int(u), str(t), 0.0)
                for s, u, t in zip(secs, users, kinds)]
        assert sum(1 for _, u, _, _ in rows if u == 0) > 0.45 * n
        # dense hot key must actually produce (user, ts) duplicates
        vk = [(u, s) for s, u, t, _ in rows if t == "view"]
        assert len(vk) != len(set(vk))

        ev = self._events(spark, rows)
        got = {r["event_id"]: r["event_id_ref"] for r in
               asof_join(ev.filter("event_type = 'click'"),
                         ev.filter("event_type = 'view'"),
                         key="user_id", ts="ts", carry=["event_id"],
                         ref_order="event_id").collect()}

        by_user: dict = {}
        for i, (s, u, t, _) in enumerate(rows):
            if t == "view":
                by_user.setdefault(u, []).append((s, i))
        for v in by_user.values():
            v.sort()     # (ts, id): among tied ts the LAST entry = max id
        exp = {}
        for i, (s, u, t, _) in enumerate(rows):
            if t != "click":
                continue
            v = by_user.get(u, [])
            k = bisect.bisect_right(v, (s, n)) - 1
            exp[i] = v[k][1] if k >= 0 else None
        assert got == exp

    def test_asof_salted_matches_plain(self, spark):
        # the two-level carry-forward scale path (docs/PLANS.md §8) must be
        # row-identical to the plain keyed-window asof under every regime:
        # a 50%-hot Zipf key with duplicate (user, ts) reference ties, and
        # seeded uniform corpora. bucket_us is tiny (1000 s) so the 500k-s
        # timeline spans ~500 buckets — probes resolve through the
        # level-2 prev-bucket tail path, not just level 1.
        import numpy as np

        from bella_domify_spark.ops.temporal import asof_join, \
            asof_join_salted

        for seed, hot in ((11, 0.5), (12, 0.0)):
            rng = np.random.RandomState(seed)
            n = 4_000
            users = np.where(rng.rand(n) < hot, 0, rng.randint(1, 50, n))
            secs = rng.randint(0, 500_000, n)
            kinds = np.where(rng.rand(n) < 0.5, "view", "click")
            ev = self._events(
                spark, [(int(s), int(u), str(t), 0.0)
                        for s, u, t in zip(secs, users, kinds)])
            clicks = ev.filter("event_type = 'click'")
            views = ev.filter("event_type = 'view'")
            kw = dict(key="user_id", ts="ts", carry=["event_id", "ts"],
                      ref_order="event_id")
            plain = sorted(map(tuple, asof_join(
                clicks, views, **kw).collect()))
            salted = sorted(map(tuple, asof_join_salted(
                clicks, views, bucket_us=1_000_000_000, **kw).collect()))
            assert salted == plain, f"salted != plain (seed={seed})"

    def test_asof_salted_bucket_boundary(self, spark):
        # a reference sitting EXACTLY on a bucket boundary must still reach
        # a same-ts probe in the same bucket (tie matches, level 1) and a
        # later probe in the next bucket (level 2 tail); a probe in a
        # ref-empty bucket resolves through consecutive empty buckets.
        from bella_domify_spark.ops.temporal import asof_join_salted

        ev = self._events(spark, [
            (1000, 1, "view", 0.0),    # id 0: exactly at bucket 1 start
            (1000, 1, "click", 0.0),   # id 1: same ts, same bucket -> 0
            (2500, 1, "click", 0.0),   # id 2: bucket 2 (empty) -> tail 0
            (500, 1, "click", 0.0),    # id 3: bucket 0, no earlier ref
            (9999, 2, "click", 0.0),   # id 4: other key, no refs at all
        ])
        got = {r["event_id"]: r["event_id_ref"] for r in asof_join_salted(
            ev.filter("event_type = 'click'"),
            ev.filter("event_type = 'view'"),
            key="user_id", ts="ts", carry=["event_id"],
            ref_order="event_id", bucket_us=1_000_000_000).collect()}
        assert got == {1: 0, 2: 0, 3: None, 4: None}

    def test_asof_and_range_match_bruteforce(self, spark):
        # seeded random corpora vs a pure-Python brute force — an oracle
        # independent of both Spark and DuckDB
        import datetime as dt

        import numpy as np

        from bella_domify_spark.ops.temporal import (
            asof_view_attribution,
            range_join,
        )

        for seed in (1, 7, 42):
            rng = np.random.RandomState(seed)
            rows = []
            for i in range(150):
                rows.append((int(rng.randint(0, 400_000)),
                             int(rng.randint(0, 6)),
                             ["view", "click", "error"][int(rng.randint(0, 3))],
                             float(rng.randint(0, 1000)) / 100))
            # unique (user, ts): drop collisions like the real generator
            seen, uniq = set(), []
            for s, u, t, v in rows:
                if (u, s) not in seen:
                    seen.add((u, s))
                    uniq.append((s, u, t, v))
            ev = self._events(spark, uniq)

            # brute-force asof
            exp = {}
            for i, (s, u, t, v) in enumerate(uniq):
                if t != "click":
                    continue
                cands = [(s2, j) for j, (s2, u2, t2, _) in enumerate(uniq)
                         if u2 == u and t2 == "view" and s2 <= s]
                if cands:
                    s2, j = max(cands)
                    exp[i] = (j, (s - s2) * 1_000_000)
                else:
                    exp[i] = (None, None)
            got = {r["event_id"]: (r["view_event_id"], r["lag_us"])
                   for r in asof_view_attribution(ev).collect()}
            assert got == exp, f"asof mismatch seed={seed}"

            # brute-force range join (window 10 min, probe = errors)
            W = 600
            exp_pairs = sorted(
                (i, j)
                for i, (s, u, t, _) in enumerate(uniq) if t == "error"
                for j, (s2, u2, _, _) in enumerate(uniq)
                if u2 == u and abs(s - s2) <= W)
            probe = ev.filter("event_type = 'error'")
            got_pairs = sorted(
                (r["event_id"], r["event_id_ref"])
                for r in range_join(probe, ev, key="user_id", ts="ts",
                                    window_us=W * 1_000_000,
                                    carry=["event_id"]).collect())
            assert got_pairs == exp_pairs, f"range mismatch seed={seed}"

    def test_asof_ref_order_breaks_ts_ties_deterministically(self, spark):
        import datetime as dt

        from bella_domify_spark.ops.temporal import asof_join

        base = dt.datetime(2024, 1, 1)
        # two views at the SAME (user, ts): largest ref_order must win,
        # independent of partition layout
        ref = spark.createDataFrame(
            [(5, base, 1), (9, base, 1), (2, base, 2)],
            "event_id long, ts timestamp, user_id long")
        probe = spark.createDataFrame(
            [(100, base + dt.timedelta(seconds=1), 1)],
            "event_id long, ts timestamp, user_id long")
        for layout in (ref, ref.repartition(7), ref.coalesce(1)):
            got = asof_join(probe, layout, key="user_id", ts="ts",
                            carry=["event_id"], ref_order="event_id").collect()
            assert [r["event_id_ref"] for r in got] == [9]


class TestSketches:
    def test_hll_accuracy_and_partitioning_independence(self, spark):
        from bella_domify_spark.ops.sketches import hll_distinct

        # groups of very different cardinality; estimate must stay within
        # ~3 sigma of HLL's theoretical error (1.04/sqrt(64) ~ 13%) and be
        # bit-identical across partition layouts (integer-exact registers)
        rows = [("small", v) for v in range(10)] \
             + [("mid", v) for v in range(300)] \
             + [("big", v) for v in range(5000)] \
             + [("big", v) for v in range(5000)]     # dups must not count
        df = spark.createDataFrame(rows, "grp string, val long")
        got = {r["grp"]: r for r in
               hll_distinct(df, "grp", "val").collect()}
        assert got["small"]["n_exact"] == 10
        assert got["big"]["n_exact"] == 5000
        for g in ("small", "mid", "big"):
            assert abs(got[g]["rel_err_e4"]) < 4000, (g, got[g])
        again = {r["grp"]: r for r in
                 hll_distinct(df.repartition(17), "grp", "val").collect()}
        assert {g: (r["est_hll_e4"], r["rel_err_e4"]) for g, r in got.items()} \
            == {g: (r["est_hll_e4"], r["rel_err_e4"]) for g, r in again.items()}


class TestFunnelAndSurprisal:
    _events = TestTemporalJoins._events

    def test_funnel_strictly_sequential(self, spark):
        from bella_domify_spark.ops.temporal import funnel_stages

        ev = self._events(spark, [
            (10, 1, "signup", 0.0),
            (5, 1, "click", 0.0),        # BEFORE signup: must not count
            (20, 1, "click", 0.0),
            (15, 1, "purchase", 0.0),    # before the qualifying click
            (30, 1, "purchase", 0.0),    # after it: stage 3
            (0, 2, "click", 0.0),        # no signup at all: stage 0
            (0, 3, "signup", 0.0),       # signup only: stage 1
            (1, 3, "purchase", 0.0),     # purchase without click ignored
        ])
        import calendar
        import datetime as dt

        base_us = calendar.timegm(
            dt.datetime(2024, 1, 1).timetuple()) * 1_000_000
        got = {r["user_id"]: (r["stage"], r["t1_us"], r["t2_us"], r["t3_us"])
               for r in funnel_stages(ev).collect()}
        assert got[1] == (3, base_us + 10_000_000, base_us + 20_000_000,
                          base_us + 30_000_000)
        assert got[2] == (0, None, None, None)
        assert got[3] == (1, base_us, None, None)

    def test_bigram_surprisal_formula(self, spark):
        import math

        from bella_domify_spark.ops.textstats import bigram_surprisal

        # corpus: "a b a b" + "a c": bigrams ab, ba, ab, ac
        # c1(a)=3, c1(b)=1; p(b|a)=2/3, p(a|b)=1/1, p(c|a)=1/3
        docs = spark.createDataFrame(
            [(1, "a b a b"), (2, "a c"), (3, "solo")],
            ["doc_id", "text"])
        got = {r["doc_id"]: r for r in bigram_surprisal(docs).collect()}
        s_ab = math.floor(-math.log(2 / 3) * 1e12)
        s_ba = math.floor(-math.log(1 / 1) * 1e12)
        s_ac = math.floor(-math.log(1 / 3) * 1e12)
        assert got[1]["n_bigrams"] == 3
        assert got[1]["mean_surprisal_e6"] == (2 * s_ab + s_ba) // (3 * 10**6)
        assert got[2]["mean_surprisal_e6"] == s_ac // 10**6
        assert 3 not in got                      # <2 words: no bigrams

    def test_cross_surprisal_laplace(self, spark):
        import math

        from bella_domify_spark.ops.textstats import cross_surprisal

        # corpus "a b a b": c12(ab)=2 ba=1, c1(a)=2 b=1, V={a,b}=2
        corpus = spark.createDataFrame([(2, "a b a b")], ["doc_id", "text"])
        new = spark.createDataFrame(
            [(1, "a b a"), (3, "z z"), (5, "solo")], ["doc_id", "text"])
        got = {r["doc_id"]: r for r in
               cross_surprisal(new, corpus).collect()}
        s_ab = math.floor(-math.log((2 + 1) / (2 + 2)) * 1e12)  # seen
        s_ba = math.floor(-math.log((1 + 1) / (1 + 2)) * 1e12)  # seen
        s_zz = math.floor(-math.log(1 / 2) * 1e12)        # unseen w1: 1/V
        assert got[1]["n_bigrams"] == 2
        assert got[1]["mean_surprisal_e6"] == (s_ab + s_ba) // (2 * 10**6)
        assert got[3]["mean_surprisal_e6"] == s_zz // 10**6
        assert 5 not in got                      # <2 words: no bigrams
        # alien batch scores strictly above an in-distribution one
        assert got[3]["mean_surprisal_e6"] > got[1]["mean_surprisal_e6"]

    def test_cms_overestimates_never_undercount(self, spark):
        from bella_domify_spark.ops.sketches import cms_heavy_hitters

        docs = spark.createDataFrame(
            [(i, ("alpha " * 30 + "beta " * 20 + f"rare{i} ").strip())
             for i in range(40)], ["doc_id", "text"])
        got = {r["word"]: r for r in cms_heavy_hitters(docs).collect()}
        assert got["alpha"]["n_exact"] == 1200
        assert got["beta"]["n_exact"] == 800
        for r in got.values():
            assert r["overestimate"] >= 0          # CMS one-sided error
            assert r["est_cms"] >= r["n_exact"]
        again = {r["word"]: (r["n_exact"], r["est_cms"]) for r in
                 cms_heavy_hitters(docs.repartition(11)).collect()}
        assert again == {w: (r["n_exact"], r["est_cms"])
                         for w, r in got.items()}

    def test_hll_ignores_null_values(self, spark):
        from bella_domify_spark.ops.sketches import hll_distinct

        df = spark.createDataFrame(
            [("g", v) for v in range(50)] + [("g", None)] * 5,
            "grp string, val long")
        row = hll_distinct(df, "grp", "val").collect()[0]
        assert row["n_exact"] == 50
        clean = spark.createDataFrame([("g", v) for v in range(50)],
                                      "grp string, val long")
        assert row["est_hll_e4"] == \
            hll_distinct(clean, "grp", "val").collect()[0]["est_hll_e4"]

    def test_native_session_window_matches_sessionize_grouping(self, spark):
        # the native session_window and the gap-based sessionize must carve
        # identical sessions, INCLUDING the boundary (gap == 30 min merges,
        # 30 min + 1 s splits)
        from pyspark.sql import functions as F

        from bella_domify_spark.ops.temporal import sessionize

        ev = self._events(spark, [
            (0, 1, "x", 0.0), (1800, 1, "x", 0.0),   # merge
            (3601, 1, "x", 0.0),                     # split
            (0, 2, "x", 0.0),
        ])
        native = sorted(
            (r["user_id"], r["n"]) for r in
            ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
              .agg(F.count("*").alias("n")).collect())
        gap = sorted(
            (r["user_id"], r["n"]) for r in
            sessionize(ev).groupBy("user_id", "session_idx")
                          .agg(F.count("*").alias("n")).collect())
        assert native == gap == [(1, 1), (1, 2), (2, 1)]


class TestGopherAndTfidf:
    def test_gopher_rules(self, spark):
        import math

        from bella_domify_spark.ops.textstats import gopher_quality

        long_ok = "the quick brown fox jumps over a lazy dog " * 6  # 54 words
        short = "too short a doc"                                   # 4 words
        longwords = ("pneumonoultramicroscopic " * 60).strip()      # mwl 24
        nostop = ("zebra quartz jolt vex " * 15).strip()            # no probes
        df = spark.createDataFrame(
            [(1, long_ok.strip()), (2, short), (3, longwords), (4, nostop)],
            ["doc_id", "text"])
        got = {r["doc_id"]: r for r in gopher_quality(df).collect()}
        assert got[1]["keep"] and got[1]["ok_word_count"] \
            and got[1]["ok_word_len"] and got[1]["ok_stopwords"]
        assert not got[2]["ok_word_count"] and not got[2]["keep"]
        assert not got[3]["ok_word_len"] and not got[3]["keep"]
        assert got[4]["ok_word_count"] and not got[4]["ok_stopwords"]
        # quantization formula: floor(sum(word lengths)/n_words * 1e4)
        ws = long_ok.split()
        mwl = sum(len(w) for w in ws) / len(ws)
        assert got[1]["mean_word_len_e4"] == math.floor(mwl * 1e4)
        assert got[1]["alpha_ratio_e4"] == 10_000   # all-alphabetic words

    def test_gopher_degenerate_docs_never_fail(self, spark):
        # empty/whitespace-only docs divide by zero under ANSI mode unless
        # guarded; multi-char whitespace runs must not count as word chars
        from bella_domify_spark.ops.textstats import gopher_quality

        df = spark.createDataFrame(
            [(1, ""), (2, "   "), (3, "ab cd\n\nef")], ["doc_id", "text"])
        got = {r["doc_id"]: r for r in gopher_quality(df).collect()}
        for d in (1, 2):
            assert got[d]["n_words"] == 0
            assert got[d]["mean_word_len_e4"] is None
            assert got[d]["alpha_ratio_e4"] is None
            assert got[d]["ok_word_len"] is False and got[d]["keep"] is False
        assert got[3]["mean_word_len_e4"] == 20_000   # 6 chars / 3 words

    def test_tfidf_scores_and_ranking(self, spark):
        import math

        from bella_domify_spark.ops.textstats import tfidf_keywords

        df = spark.createDataFrame([
            (1, "apple apple apple banana common"),
            (2, "banana banana cherry common"),
            (3, "cherry common common"),
        ], ["doc_id", "text"])
        got = {(r["doc_id"], r["rank"]): r
               for r in tfidf_keywords(df, k=2).collect()}

        def idf(df_count):
            return math.floor(math.log(3 / df_count) * 1e12)

        # doc 1: apple tf=3 df=1 -> 3*idf(1); banana tf=1 df=2
        assert got[(1, 1)]["term"] == "apple"
        assert got[(1, 1)]["score_e12"] == 3 * idf(1)
        assert got[(1, 2)]["term"] == "banana"
        assert got[(1, 2)]["score_e12"] == idf(2)
        # common appears in all docs -> idf(3) == 0 -> never outranks
        assert all(r["term"] != "common" or r["score_e12"] == 0
                   for r in got.values())
        # deterministic tie-break: equal scores order by term asc
        tie = spark.createDataFrame([(7, "beta alpha")], ["doc_id", "text"])
        t = [r["term"] for r in tfidf_keywords(tie, k=2).collect()]
        assert t == ["alpha", "beta"]

    def test_tfidf_partitioning_independent(self, spark):
        from bella_domify_spark.ops.textstats import tfidf_keywords

        df = spark.createDataFrame(
            [(i, f"alpha w{i % 7} w{i % 3} beta") for i in range(60)],
            ["doc_id", "text"])
        a = sorted(map(tuple, tfidf_keywords(df).collect()))
        b = sorted(map(tuple, tfidf_keywords(df.repartition(11)).collect()))
        assert a == b


class TestHistQuantiles:
    def test_midpoint_estimates_and_edge_cases(self, spark):
        import math

        from bella_domify_spark.ops.sketches import hist_quantiles

        rows = ([("a", float(v)) for v in range(1001)]     # uniform 0..1000
                + [("const", 7.5)] * 10                    # hi == lo group
                + [("a", None)])                           # NULL: no position
        df = spark.createDataFrame(rows, "event_type string, value double")
        got = {r["event_type"]: r for r in hist_quantiles(df).collect()}
        assert got["a"]["n"] == 1001                       # NULL filtered
        # uniform distribution: each estimate within one bin width of truth
        width = 1000.0 / 256
        for p, col in ((0.5, "p50_est_e6"), (0.95, "p95_est_e6"),
                       (0.99, "p99_est_e6")):
            est = got["a"][col] / 1e6
            assert abs(est - p * 1000.0) <= width + 1e-6, (p, est)
        # degenerate range: every quantile IS the constant
        assert got["const"]["p50_est_e6"] == math.floor(7.5 * 1e6)
        assert got["const"]["p99_est_e6"] == math.floor(7.5 * 1e6)

    def test_partitioning_independent_and_mergeable_shape(self, spark):
        from bella_domify_spark.ops.sketches import hist_quantiles

        import numpy as np
        rng = np.random.RandomState(4)
        rows = [(["x", "y"][int(rng.randint(0, 2))],
                 float(rng.randint(0, 10_000)) / 10) for _ in range(5000)]
        df = spark.createDataFrame(rows, "event_type string, value double")
        a = sorted(map(tuple, hist_quantiles(df).collect()))
        b = sorted(map(tuple, hist_quantiles(df.repartition(17)).collect()))
        assert a == b


class TestDupSpans:
    def test_span_counts_and_ratio(self, spark):
        from bella_domify_spark.ops.dedup import dup_span_stats

        shared = "one two three four"           # the 4-gram both docs carry
        df = spark.createDataFrame([
            (1, shared + " alpha beta"),         # 3 spans, 1 duplicated
            (2, shared + " gamma delta"),        # 3 spans, 1 duplicated
            (3, "totally different words here"), # 1 span, 0 duplicated
            (4, "too short"),                    # <4 words: no spans
        ], ["doc_id", "text"])
        got = {r["doc_id"]: r for r in dup_span_stats(df, n=4).collect()}
        assert got[1]["n_spans"] == 3 and got[1]["n_dup_spans"] == 1
        assert got[2]["n_spans"] == 3 and got[2]["n_dup_spans"] == 1
        assert got[1]["dup_ratio_e6"] == 333_333   # floor(1/3 * 1e6)
        assert got[3]["n_dup_spans"] == 0
        assert 4 not in got

    def test_within_doc_repeats_need_other_docs(self, spark):
        # a span repeated INSIDE one doc but nowhere else is not "shared
        # with >= min_docs documents" (doc-frequency, not instance count)
        from bella_domify_spark.ops.dedup import dup_span_stats

        df = spark.createDataFrame(
            [(1, "a b c d a b c d"), (2, "x y z w")], ["doc_id", "text"])
        got = {r["doc_id"]: r for r in dup_span_stats(df, n=4).collect()}
        assert got[1]["n_dup_spans"] == 0


class TestRemoveDupSpans:
    def test_first_occurrence_survives_repeats_excised(self, spark):
        from bella_domify_spark.ops.dedup import remove_dup_spans

        df = spark.createDataFrame([
            (1, "one two three four alpha beta"),   # global first: intact
            (2, "one two three four gamma delta"),  # repeat: span excised
            (4, "too short"),                       # <n words: untouched
        ], ["doc_id", "text"])
        got = {r["doc_id"]: r for r in remove_dup_spans(df, n=4).collect()}
        assert got[1]["text"] == "one two three four alpha beta"
        assert got[1]["n_words_dropped"] == 0
        assert got[2]["text"] == "gamma delta"
        assert got[2]["n_words"] == 6 and got[2]["n_words_dropped"] == 4
        assert got[4]["text"] == "too short"
        assert got[4]["n_words_dropped"] == 0

    def test_within_doc_repeats_are_removable(self, spark):
        # unlike dup_span_stats (doc-frequency), removal counts INSTANCES
        # (Lee et al.: any substring occurring twice, even in one doc)
        from bella_domify_spark.ops.dedup import remove_dup_spans

        df = spark.createDataFrame(
            [(1, "a b c d a b c d")], ["doc_id", "text"])
        got = remove_dup_spans(df, n=4).collect()[0]
        assert got["text"] == "a b c d"
        assert got["n_words"] == 8 and got["n_words_dropped"] == 4

    def test_overlapping_spans_union_coverage(self, spark):
        # two overlapping removable instances cover the UNION of their
        # word ranges exactly once (interval-diff, not per-span explode)
        from bella_domify_spark.ops.dedup import remove_dup_spans

        df = spark.createDataFrame([
            (5, "p q r s t end1"),
            (6, "p q r s t end2"),
        ], ["doc_id", "text"])
        got = {r["doc_id"]: r for r in remove_dup_spans(df, n=4).collect()}
        assert got[5]["n_words_dropped"] == 0
        assert got[6]["text"] == "end2"
        assert got[6]["n_words_dropped"] == 5


class TestSession4Bruteforce:
    def test_remove_dup_spans_matches_bruteforce(self, spark):
        # seeded random corpora over a tiny vocabulary (dense duplicate
        # n-grams) vs a pure-Python brute force — an oracle independent
        # of both Spark and DuckDB
        import numpy as np

        from bella_domify_spark.ops.dedup import remove_dup_spans

        n = 3
        for seed in (1, 7, 42):
            rng = np.random.RandomState(seed)
            vocab = ["aa", "bb", "cc", "dd"]
            docs = [(i, " ".join(vocab[j] for j in
                                 rng.randint(0, len(vocab),
                                             rng.randint(1, 15))))
                    for i in range(30)]

            toks = {i: t.split(" ") for i, t in docs}
            occ: dict = {}
            for i in sorted(toks):
                w = toks[i]
                for p in range(len(w) - n + 1):
                    occ.setdefault(tuple(w[p:p + n]), []).append((i, p))
            covered = {i: set() for i in toks}
            for lst in occ.values():
                if len(lst) >= 2:
                    for i, p in lst[1:]:       # all but the global first
                        covered[i].update(range(p, p + n))
            exp = {}
            for i, w in toks.items():
                kept = [x for p, x in enumerate(w) if p not in covered[i]]
                exp[i] = (" ".join(kept), len(w), len(covered[i]))

            df = spark.createDataFrame(docs, ["doc_id", "text"])
            got = {r["doc_id"]: (r["text"], r["n_words"],
                                 r["n_words_dropped"])
                   for r in remove_dup_spans(df, n=n).collect()}
            assert got == exp, seed

    def test_null_inputs_drop_identically_to_oracle(self, spark):
        # NULL text / NULL embedding rows must DROP (the DuckDB twins'
        # positional explodes drop them implicitly) — not crash, not
        # emit NULL-valued rows, not poison corpus statistics
        from pyspark.sql.types import (
            ArrayType,
            DoubleType,
            LongType,
            StringType,
            StructField,
            StructType,
        )

        from bella_domify_spark.ops.ann import kmeans_assign
        from bella_domify_spark.ops.dedup import remove_dup_spans
        from bella_domify_spark.ops.textstats import cross_surprisal

        sch = StructType([StructField("doc_id", LongType()),
                          StructField("text", StringType())])
        df = spark.createDataFrame([(1, "a b c d a b c d"), (2, None)], sch)
        assert [r["doc_id"] for r in remove_dup_spans(df, n=4).collect()] \
            == [1]
        assert [r["doc_id"] for r in cross_surprisal(df, df).collect()] \
            == [1]

        esch = StructType([
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(DoubleType()))])
        e = spark.createDataFrame(
            [(0, [0.0, 0.0]), (1, [1.0, 1.0]), (2, None)], esch)
        got = kmeans_assign(e, n_clusters=2, iters=1).collect()
        assert sorted(r["vec_id"] for r in got) == [0, 1]
        assert all(r["dist2"] is not None for r in got)

    def test_kmeans_assign_matches_bruteforce(self, spark):
        import math

        import numpy as np

        from bella_domify_spark.ops.ann import kmeans_assign

        k, iters, scale = 3, 2, 10 ** 6

        def trunc_div(s, m):
            return s // m if s >= 0 else -((-s) // m)

        for seed in (1, 7, 42):
            rng = np.random.RandomState(seed)
            vecs = [(i, [float(x) for x in rng.uniform(-1, 1, 4)])
                    for i in range(25)]
            q = {i: [math.floor(x * scale) for x in v] for i, v in vecs}
            ids = sorted(q)
            cents = {c: list(q[ids[c]]) for c in range(k)}

            def assign():
                out = {}
                for i in ids:
                    best = None
                    for c in sorted(cents):
                        d = sum((a - b) ** 2
                                for a, b in zip(q[i], cents[c]))
                        if best is None or d < best[0]:
                            best = (d, c)
                    out[i] = best
                return out

            for _ in range(iters):
                a = assign()
                groups: dict = {}
                for i, (_, c) in a.items():
                    groups.setdefault(c, []).append(i)
                for c, members in groups.items():
                    cents[c] = [trunc_div(sum(q[i][t] for i in members),
                                          len(members))
                                for t in range(len(cents[c]))]
            exp = {i: (c, d) for i, (d, c) in assign().items()}

            df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
            got = {r["vec_id"]: (r["cluster_id"], r["dist2"]) for r in
                   kmeans_assign(df, n_clusters=k, iters=iters).collect()}
            assert got == exp, seed


class TestMixAndRecall:
    def test_mix_weights_caps_and_zeroes(self, spark):
        from bella_domify_spark.ops.textstats import mix_weights

        df = spark.createDataFrame(
            [(i, "w " * 99 + "w", "en") for i in range(100)]     # 10k tokens
            + [(200 + i, "w " * 9 + "w", "de") for i in range(10)]  # 100
            + [(300, "w w w", "xx")],                            # untargeted
            ["doc_id", "text", "lang"])
        got = {r["lang"]: r for r in mix_weights(
            df, targets={"en": 0.5, "de": 0.5}, budget_tokens=1000).collect()}
        # en: want 500 of 10000 -> rate 0.05
        assert got["en"]["sample_rate_e6"] == 50_000
        assert got["en"]["expected_tokens"] == 500
        # de: want 500 of 100 -> rate capped at 1, yield = supply
        assert got["de"]["sample_rate_e6"] == 1_000_000
        assert got["de"]["expected_tokens"] == 100
        # untargeted stratum: want 0, rate 0
        assert got["xx"]["want_tokens"] == 0
        assert got["xx"]["sample_rate_e6"] == 0

    def test_dedup_recall_counts_consistent(self, spark):
        # n_hit <= min(n_true, n_est); identical docs are always found
        import __spark_entry__ as entry

        row = entry._q_dedup_recall(spark, "/root/testdata/sf0.001").collect()[0]
        assert row["n_hit"] <= min(row["n_true"], row["n_est"])
        assert row["n_true"] > 0 and row["n_hit"] > 0


class TestTranscriptAnalytics:
    """ops/transcript.py: gaps-and-islands tool runs, role transitions,
    exact-integer tool latency — hand-built conversations pin the edge
    cases (run at turn 0, adjacent single-turn runs, tool-free conv)."""

    def _t(self, spark):
        import datetime as dt

        base = dt.datetime(2026, 1, 1)
        rows = [
            # c1: tool run at the very start (len 2), then a lone tool turn
            ("c1", 0, "tool", "t_a", base),
            ("c1", 1, "tool", "t_a", base + dt.timedelta(seconds=5)),
            ("c1", 2, "user", "", base + dt.timedelta(seconds=10)),
            ("c1", 3, "tool", "t_b", base + dt.timedelta(seconds=30)),
            # c2: no tool turns at all -> no row in tool_run_stats
            ("c2", 0, "user", "", base),
            ("c2", 1, "assistant", "", base + dt.timedelta(seconds=2)),
        ]
        return spark.createDataFrame(
            rows, ["conv_id", "turn_idx", "role", "tool", "ts"])

    def test_tool_run_islands(self, spark):
        from bella_domify_spark.ops.transcript import tool_run_stats

        got = {r["conv_id"]: r for r in tool_run_stats(self._t(spark)).collect()}
        assert set(got) == {"c1"}  # tool-free c2 emits nothing
        assert got["c1"]["n_tool_turns"] == 3
        assert got["c1"]["n_runs"] == 2       # [0,1] and [3]
        assert got["c1"]["longest_run"] == 2

    def test_role_transitions(self, spark):
        from bella_domify_spark.ops.transcript import role_transitions

        got = {(r["role_from"], r["role_to"]): r["n"]
               for r in role_transitions(self._t(spark)).collect()}
        assert got == {("tool", "tool"): 1, ("tool", "user"): 1,
                       ("user", "tool"): 1, ("user", "assistant"): 1}

    def test_tool_latency_exact_micros(self, spark):
        from bella_domify_spark.ops.transcript import tool_latency

        got = {r["tool"]: r for r in tool_latency(self._t(spark)).collect()}
        # c1 turn 0 is a tool turn with no predecessor -> excluded, so
        # t_a has exactly one measured call (gap 5s); t_b one (gap 20s)
        assert got["t_a"]["n_calls"] == 1
        assert got["t_a"]["sum_gap_us"] == 5_000_000
        assert got["t_b"]["max_gap_us"] == 20_000_000


class TestBm25:
    def test_ranking_and_ties(self, spark):
        from bella_domify_spark.ops.retrieval import bm25_topk

        docs = spark.createDataFrame(
            [(1, "hash join hash join speed"),   # both terms, tf-heavy
             (2, "hash table scan"),             # one term
             (3, "join order"),                  # one term
             (4, "filter scan only"),            # no query term
             (5, "hash join")],                  # both terms, short doc
            ["doc_id", "text"])
        cache_mgr = spark._jsparkSession.sharedState().cacheManager()
        spark.catalog.clearCache()
        got = bm25_topk(docs, queries=[("q", "hash join")], k=3).collect()
        # the tf persist must be released before the operator returns
        # (dedup.py cache discipline)
        assert cache_mgr.isEmpty()
        assert [r["rank"] for r in got] == [1, 2, 3]
        ranked = [r["doc_id"] for r in got]
        # both-term docs beat single-term docs; doc 4 never appears
        assert set(ranked[:2]) == {1, 5}
        assert 4 not in ranked
        # scores strictly ordered (ties broken by doc_id would still
        # satisfy the non-increasing invariant)
        scores = [r["score_e9"] for r in got]
        assert scores == sorted(scores, reverse=True)

    def test_length_normalization_prefers_short_doc(self, spark):
        from bella_domify_spark.ops.retrieval import bm25_topk

        # same tf=1 for the query term; BM25's b-term must rank the
        # shorter document first
        docs = spark.createDataFrame(
            [(1, "vector " + "pad " * 30), (2, "vector pad")],
            ["doc_id", "text"])
        got = bm25_topk(docs, queries=[("q", "vector")], k=2).collect()
        assert [r["doc_id"] for r in got] == [2, 1]


class TestWeightedSampleAndChunks:
    def test_weighted_sample_prefers_heavy_docs(self, spark):
        from bella_domify_spark.ops.textstats import sample_weighted

        # 50 heavy docs (1000 tokens) among 450 light ones (1 token):
        # P(select light) per draw ~ 1/1000 of heavy, so the top-50 keys
        # are overwhelmingly (deterministically, given the fixed hash)
        # heavy docs
        docs = spark.createDataFrame(
            [(i, "w " * 999 + "w") for i in range(50)]
            + [(1000 + i, "w") for i in range(450)],
            ["doc_id", "text"])
        got = sample_weighted(docs, k=50).collect()
        heavy = sum(1 for r in got if r["doc_id"] < 1000)
        assert heavy >= 45
        # content-addressed: identical selection under any partitioning
        again = sample_weighted(docs.repartition(13), k=50).collect()
        assert sorted(r["doc_id"] for r in got) == \
               sorted(r["doc_id"] for r in again)

    def test_chunk_boundaries_and_overlap(self, spark):
        from bella_domify_spark.ops.textstats import chunk_docs

        toks = [f"t{i}" for i in range(65)]
        docs = spark.createDataFrame(
            [(1, " ".join(toks[:64])), (2, " ".join(toks)), (3, "solo")],
            ["doc_id", "text"])
        got = {}
        for r in chunk_docs(docs).collect():
            got.setdefault(r["doc_id"], []).append(r)
        assert len(got[1]) == 1 and got[1][0]["n_tokens"] == 64
        assert len(got[3]) == 1 and got[3][0]["chunk_text"] == "solo"
        # 65 tokens -> chunk0 = t0..t63, chunk1 starts at stride 48
        c = sorted(got[2], key=lambda r: r["chunk_idx"])
        assert len(c) == 2
        assert c[0]["chunk_text"].split()[:2] == ["t0", "t1"]
        assert c[1]["chunk_text"].split()[0] == "t48"   # 16-token overlap
        assert c[1]["n_tokens"] == 17                   # t48..t64

    def test_chunk_reconstruction_invariant(self, spark):
        # dropping each non-first chunk's leading `overlap` tokens must
        # reconstruct the document exactly, for lengths straddling every
        # boundary (stride 48, chunk 64)
        from bella_domify_spark.ops.textstats import chunk_docs

        lens = [1, 2, 47, 48, 49, 63, 64, 65, 96, 111, 112, 113, 200]
        docs = spark.createDataFrame(
            [(n, " ".join(f"t{i}" for i in range(n))) for n in lens],
            ["doc_id", "text"])
        rows = {}
        for r in chunk_docs(docs).collect():
            rows.setdefault(r["doc_id"], []).append(r)
        for n in lens:
            cs = sorted(rows[n], key=lambda r: r["chunk_idx"])
            rebuilt = cs[0]["chunk_text"].split()
            for c in cs[1:]:
                rebuilt += c["chunk_text"].split()[16:]
            assert rebuilt == [f"t{i}" for i in range(n)], n


class TestPackSequencesAndVocab:
    def test_pack_sequences_offsets(self, spark):
        from bella_domify_spark.ops.textstats import pack_sequences

        docs = spark.createDataFrame(
            [(i, "w " * 99 + "w") for i in range(20)],   # 100 tokens each
            ["doc_id", "text"])
        got = pack_sequences(docs, seq_len=256, n_shards=2).collect()
        by_shard = {}
        for r in got:
            by_shard.setdefault(r["shard_id"], []).append(r)
        assert set(len(v) for v in by_shard.values()) and len(by_shard) == 2
        for rows in by_shard.values():
            rows.sort(key=lambda r: r["doc_id"])
            start = 0
            for r in rows:   # offsets are the exact running token offsets
                assert r["seq_id"] == start // 256
                assert r["offset_in_seq"] == start % 256
                start += r["tokens"]

    def test_vocab_stats_zipf_table(self, spark):
        from bella_domify_spark.ops.textstats import vocab_stats

        docs = spark.createDataFrame(
            [(1, "a a a b b c"), (2, "a b z")], ["doc_id", "text"])
        got = sorted(vocab_stats(docs, top_n=10).collect(),
                     key=lambda r: r["rank"])
        assert [(r["term"], r["freq"]) for r in got] == \
               [("a", 4), ("b", 3), ("c", 1), ("z", 1)]  # ties: term asc
        assert [r["cum_freq"] for r in got] == [4, 7, 8, 9]


class TestSplitByCluster:
    def test_near_dups_share_a_split(self, spark):
        from bella_domify_spark.ops.curate import split_by_cluster
        from bella_domify_spark.ops.textstats import train_split

        base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        docs = spark.createDataFrame(
            [(1, base), (2, base + " mu"),            # near-dup pair
             (3, "totally different words here that share nothing at all")],
            ["doc_id", "text"])
        got = {r["doc_id"]: r for r in split_by_cluster(docs).collect()}
        # cluster members: same split_key (the canonical min id 1), same split
        assert got[1]["split_key"] == 1 and got[2]["split_key"] == 1
        assert got[1]["split"] == got[2]["split"]
        # singleton: identical assignment to the plain content-addressed split
        plain = {r["doc_id"]: r for r in train_split(
            docs.select("doc_id")).collect()}
        assert got[3]["split"] == plain[3]["split"]
        assert got[3]["bucket"] == plain[3]["bucket"]


class TestTruncateAndAdaptiveQuality:
    def test_truncate_head_tail_and_overlap(self, spark):
        import datetime as dt

        from bella_domify_spark.ops.transcript import truncate_conversations

        base = dt.datetime(2026, 1, 1)
        rows = ([("long", i, "user", "", base) for i in range(10)]
                + [("short", i, "user", "", base) for i in range(3)])
        t = spark.createDataFrame(
            rows, ["conv_id", "turn_idx", "role", "tool", "ts"])
        got = {}
        for r in truncate_conversations(t, head=4, tail=2).collect():
            got.setdefault(r["conv_id"], {})[r["turn_idx"]] = r["segment"]
        assert got["long"] == {0: "head", 1: "head", 2: "head", 3: "head",
                               8: "tail", 9: "tail"}
        # 3-turn conv: head covers everything, no duplicate tail rows
        assert got["short"] == {0: "head", 1: "head", 2: "head"}

    def test_adaptive_cutoff_is_per_stratum(self, spark):
        from bella_domify_spark.ops.curate import adaptive_quality_filter

        # stratum A: clean docs; stratum B: punctuation-heavy docs whose
        # scores would all fail a fixed cutoff tuned on A — the
        # per-stratum p25 (order statistic floor((n-1)p)+1 = row 3 of 9)
        # drops exactly B's two worst and keeps the rest
        mk = lambda punct: "word " * 10 + ("!?;:" * punct)
        docs = spark.createDataFrame(
            [(i, mk(0), "aa") for i in range(4)]
            + [(10 + i, mk(2 + 2 * i), "bb") for i in range(9)],
            ["doc_id", "text", "lang"])
        got = {r["doc_id"]: r for r in adaptive_quality_filter(docs).collect()}
        bb_kept = {d for d, r in got.items() if r["lang"] == "bb" and r["kept"]}
        # scores decrease with punctuation, so ids 17/18 are the two worst
        assert bb_kept == {10, 11, 12, 13, 14, 15, 16}
        assert all(r["kept"] for r in got.values() if r["lang"] == "aa")


class TestRound6Ops:
    def test_skew_report_counts_share_salt(self, spark):
        from bella_domify_spark.ops.analyze import skew_report

        # key 7 holds 12 of 20 rows (skewed); key 1 gets 5; 2 and 3
        # get 2 and 1; plus NULLs that must be ignored
        rows = ([(7,)] * 12 + [(1,)] * 5 + [(2,)] * 2 + [(3,)]
                + [(None,)] * 4)
        df = spark.createDataFrame(rows, "user_id long")
        got = {r["key"]: r for r in
               skew_report(df, "user_id", n_top=3).collect()}
        assert set(got) == {7, 1, 2}
        assert (got[7]["rank"], got[7]["cnt"]) == (1, 12)
        assert got[7]["share_e6"] == 12 * 1_000_000 // 20
        assert got[7]["salt_factor"] == 12 * 4 // 20  # 2.4x mean -> 2
        assert got[1]["salt_factor"] == 1
        assert got[2]["salt_factor"] == 0

    def test_hybrid_rrf_fuses_lexical_and_quality(self, spark):
        from bella_domify_spark.ops.retrieval import hybrid_rrf

        # two docs match the query "alpha beta"; doc 1 wins BM25 (more
        # hits) but doc 2 wins quality (longer text scores a different
        # margin) — fused rank must follow the RRF sum of both ranks,
        # recomputed here from the operator's own intermediate columns
        docs = spark.createDataFrame(
            [(1, "alpha beta alpha beta alpha"),
             (2, "alpha beta gamma delta epsilon zeta"),
             (3, "unrelated words entirely here")],
            ["doc_id", "text"])
        out = hybrid_rrf(docs, queries=[("q1", "alpha beta")], k=5).collect()
        assert {r["query_id"] for r in out} == {"q1"}
        assert {r["doc_id"] for r in out} == {1, 2}  # doc 3 never matches
        for r in out:
            assert r["rrf_e12"] == (10**12 // (60 + r["bm25_rank"])
                                    + 10**12 // (60 + r["q_rank"]))
        by_fused = sorted(out, key=lambda r: r["fused_rank"])
        rrfs = [r["rrf_e12"] for r in by_fused]
        assert rrfs == sorted(rrfs, reverse=True)
        # both rank systems are permutations of 1..n over the candidates
        assert sorted(r["bm25_rank"] for r in out) == [1, 2]
        assert sorted(r["q_rank"] for r in out) == [1, 2]

    def test_semdedup_prunes_near_identical_cluster_mates(self, spark):
        from bella_domify_spark.ops.ann import semdedup_prune

        # vectors 0/1/2 are near-identical (same direction), 3 is
        # orthogonal; with 2 clusters the trio lands together and the
        # two higher ids are pruned, the min id survives
        rows = [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.999, 0.001, 0.0]),
            (2, [0.998, 0.002, 0.0]),
            (3, [0.0, 1.0, 0.0]),
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        got = {r["vec_id"]: r["keep"]
               for r in semdedup_prune(df, n_clusters=2, iters=2).collect()}
        assert got == {0: 1, 1: 0, 2: 0, 3: 1}

    def test_semdedup_opposite_vectors_not_pruned(self, spark):
        from bella_domify_spark.ops.ann import semdedup_prune

        # anti-parallel vectors have cosine -1: the dot > 0 guard must
        # keep them even if they share a cluster
        rows = [(0, [1.0, 0.0]), (1, [-1.0, 0.0]), (2, [-0.999, 0.0])]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        got = {r["vec_id"]: r["keep"]
               for r in semdedup_prune(df, n_clusters=2, iters=1).collect()}
        assert got[0] == 1 and got[1] == 1
        # 1 and 2 point the same way -> 2 pruned against 1
        assert got[2] == 0

    def test_bpe_merges_match_python_reference(self, spark):
        from bella_domify_spark.ops.bpe import bpe_merges

        texts = [(1, "low lower lowest low low newer newest new"),
                 (2, "wider wide wide widest new low"),
                 (3, "er er er banana bandana")]
        docs = spark.createDataFrame(texts, "doc_id long, text string")

        # pure-Python reference: word-type BPE with (freq desc, a, b)
        # tie-break and left-to-right non-overlapping re-tokenization
        from collections import Counter
        wf = Counter(w for _, t in texts for w in t.lower().split() if w)
        toks = {w: list(w) for w in wf}
        expect = []
        for step in range(3):
            pc = Counter()
            for w, t in toks.items():
                for a, b in zip(t, t[1:]):
                    pc[(a, b)] += wf[w]
            (a, b), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
            expect.append((step, a, b, cnt))
            for w, t in toks.items():
                out, i = [], 0
                while i < len(t):
                    if i + 1 < len(t) and t[i] == a and t[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(t[i])
                        i += 1
                toks[w] = out
        got = [(r["step"], r["left_sym"], r["right_sym"], r["pair_count"])
               for r in bpe_merges(docs).orderBy("step").collect()]
        assert got == expect

    def test_bpe_overlapping_pair_is_greedy_left_to_right(self, spark):
        from bella_domify_spark.ops.bpe import bpe_merges

        # 'aaa' must merge as (aa)(a), never (a)(aa): after round 0 the
        # pair (a,a) is consumed left-to-right non-overlapping, so round
        # 1's counts see 'aa a' — the canonical BPE greedy
        docs = spark.createDataFrame(
            [(1, "aaa aaa aaa aa")], "doc_id long, text string")
        got = [(r["step"], r["left_sym"], r["right_sym"], r["pair_count"])
               for r in bpe_merges(docs, n_merges=2).orderBy("step").collect()]
        # round 0: (a,a) appears 2x per 'aaa' (overlap counted per
        # position) * 3 + 1x in 'aa' = 7; round 1: 'aa a' -> (aa, a) x3
        assert got[0] == (0, "a", "a", 7)
        assert got[1] == (1, "aa", "a", 3)

    def test_turn_revision_jaccard_hand_counted(self, spark):
        from bella_domify_spark.ops.transcript import turn_revision_stats

        rows = [
            # user 1: "a b c" -> "a b d" (J=2/4=0.5, revision) ->
            #         "x y" (J=0/5=0, not)
            (1, 1, "2024-01-01 00:00:01", "a b c"),
            (2, 1, "2024-01-01 00:00:02", "a b d"),
            (3, 1, "2024-01-01 00:00:03", "x y"),
            # user 2: identical token SETS (J=1, revision)
            (4, 2, "2024-01-01 00:00:01", "same same tokens"),
            (5, 2, "2024-01-01 00:00:02", "tokens same"),
            # user 3: single event -> no pairs -> no row
            (6, 3, "2024-01-01 00:00:01", "lonely"),
            # NULL ts event must be ignored entirely
            (7, 1, None, "a b c"),
        ]
        df = (spark.createDataFrame(
                  rows, "event_id long, user_id long, ts string, props string")
              .select("event_id", "user_id",
                      F.col("ts").cast("timestamp_ntz").alias("ts"), "props"))
        got = {r["conv_id"]: (r["n_pairs"], r["n_revisions"],
                              r["sum_jaccard_e6"])
               for r in turn_revision_stats(df).collect()}
        assert got == {
            "conv1": (2, 1, 500_000),     # 0.5 + 0.0
            "conv2": (1, 1, 1_000_000),   # distinct sets equal
        }

    def test_late_data_watermark_hand_counted(self, spark):
        from bella_domify_spark.ops.temporal import late_data_stats

        # delay = 60 s. user 1 arrival order (event_id): times 100, 200,
        # 130 (wm 200-60=140 > 130 -> late by 10 s), 250, 300 (never late
        # going forward). user 2: monotone times -> zero late.
        rows = [
            (1, 1, "a", "1970-01-01 00:01:40"),   # 100 s
            (2, 1, "a", "1970-01-01 00:03:20"),   # 200 s
            (3, 1, "a", "1970-01-01 00:02:10"),   # 130 s -> late 10 s
            (4, 1, "b", "1970-01-01 00:04:10"),   # 250 s
            (5, 2, "a", "1970-01-01 00:00:01"),
            (6, 2, "a", "1970-01-01 00:00:02"),
            (7, 2, "b", None),                     # NULL ts ignored
        ]
        df = (spark.createDataFrame(
                  rows, "event_id long, user_id long, event_type string, "
                        "ts string")
              .select("event_id", "user_id", "event_type",
                      F.col("ts").cast("timestamp_ntz").alias("ts")))
        got = {r["event_type"]: (r["n_events"], r["n_late"],
                                 r["max_lateness_us"])
               for r in late_data_stats(df, delay_us=60_000_000).collect()}
        assert got == {
            "a": (5, 1, 10_000_000),
            "b": (1, 0, 0),
        }

    def test_corpus_boilerplate_vote_hand_counted(self, spark):
        from bella_domify_spark.ops.boilerplate import corpus_boilerplate

        # source s: 4 docs -> 'About s'/'(c) 2026 s' df=4 (bp at 40%/3);
        # subscribe line on doc_id%3==0 -> docs 0,3 -> df=2 < min_df=3
        # -> kept; share line on doc_id%2==0 (lang same) -> docs 0,2 ->
        # df=2 -> kept; bodies unique -> kept.
        rows = [(i, f"body{i} words", "en", "s", 0) for i in range(4)]
        df = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, "
                  "n_chars long")
        got = {r["doc_id"]: (r["n_lines"], r["n_bp_lines"], r["kept_chars"])
               for r in corpus_boilerplate(df).collect()}
        body = len("bodyX words")
        sub = len("subscribe to the newsletter")
        share = len("share on en")
        assert got == {
            0: (5, 2, body + sub + share),
            1: (3, 2, body),
            2: (4, 2, body + share),
            3: (4, 2, body + sub),
        }

    def test_boilerplate_strip_rebuilds_survivors_in_order(self, spark):
        from bella_domify_spark.ops.boilerplate import boilerplate_strip

        # Same corpus as the vote test: 'about s'/'(c) 2026 s' are bp
        # (df=4); subscribe (docs 0,3) and share (docs 0,2) stay (df=2).
        rows = [(i, f"body{i} words", "en", "s", 0) for i in range(4)]
        df = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, "
                  "n_chars long")
        got = {r["doc_id"]: (r["clean_text"], r["n_kept"])
               for r in boilerplate_strip(df).collect()}
        assert got == {
            0: ("body0 words\nsubscribe to the newsletter\nshare on en", 3),
            1: ("body1 words", 1),
            2: ("body2 words\nshare on en", 2),
            3: ("body3 words\nsubscribe to the newsletter", 2),
        }

    def test_bpe_encode_hand_learned(self, spark):
        from bella_domify_spark.ops.bpe import bpe_encode

        # types: abc (freq 3), abcd (1). pair counts r1: (a,b)=4,(b,c)=4,
        # (c,d)=1 -> tie breaks lexicographically to (a,b); r2: (ab,c)=4;
        # r3: (abc,d)=1. So abc -> 1 token, abcd -> 1 token. The 40-char
        # word is over the trainer cap and drops out of every count.
        rows = [(1, "abc abc"), (2, "abcd " + "x" * 40), (3, "abc")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: (r["n_words"], r["n_chars"], r["n_tokens"])
               for r in bpe_encode(df, n_merges=3).collect()}
        assert got == {1: (2, 6, 2), 2: (1, 4, 1), 3: (1, 3, 1)}

    def test_pq_codes_matches_numpy_bruteforce(self, spark):
        import math
        import random
        from bella_domify_spark.ops.ann import pq_codes

        rng = random.Random(11)
        dim, m, k_sub = 8, 2, 2
        vecs = [(i, [rng.uniform(-1, 1) for _ in range(dim)])
                for i in range(10)]
        rows = vecs + [(99, [0.5] * 3)]  # ragged -> excluded by the guard
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        got = {r["vec_id"]: (r["code0"], r["code1"], r["dist2"])
               for r in pq_codes(df, m=m, k_sub=k_sub, dim=dim).collect()}

        # brute force on the same float32->double->floor grid
        import numpy as np
        qv = {i: [math.floor(float(np.float32(x)) * 1e6) for x in v]
              for i, v in vecs}
        cb = {b: {c: qv[c][b * 4:(b + 1) * 4] for c in (0, 1)}
              for b in (0, 1)}
        want = {}
        for i, _ in vecs:
            codes, tot = [], 0
            for b in (0, 1):
                best = min((sum((a - c) ** 2 for a, c in
                                zip(qv[i][b * 4:(b + 1) * 4], cb[b][cid])),
                            cid) for cid in (0, 1))
                codes.append(best[1])
                tot += best[0]
            want[i] = (codes[0], codes[1], tot)
        assert 99 not in got
        assert got == want

    def test_ivfpq_matches_python_bruteforce(self, spark):
        import math
        import random
        import numpy as np
        from bella_domify_spark.ops.ann import ivfpq_topk

        rng = random.Random(13)
        dim, m, k_sub, n_lists, n_probe, k = 8, 2, 2, 2, 1, 3
        sub = dim // m
        vecs = [(i, [rng.uniform(-1, 1) for _ in range(dim)])
                for i in range(12)]
        df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
        q = (df.filter("vec_id < 2")
               .selectExpr("vec_id AS q_id", "embedding AS q_vec"))
        got = {(r["q_id"], r["rank"]): (r["vec_id"], r["adc2"])
               for r in ivfpq_topk(df, q, k=k, n_lists=n_lists,
                                   n_probe=n_probe, m=m, k_sub=k_sub,
                                   dim=dim).collect()}

        qv = {i: [math.floor(float(np.float32(x)) * 1e6) for x in v]
              for i, v in vecs}

        def d2(a, b):
            return sum((x - y) ** 2 for x, y in zip(a, b))

        ivf = {l: qv[l] for l in range(n_lists)}
        cb = {b: {c: qv[c][b * sub:(b + 1) * sub] for c in range(k_sub)}
              for b in range(m)}
        vlist = {i: min((d2(qv[i], ivf[l]), l) for l in ivf)[1] for i in qv}
        codes = {i: [min((d2(qv[i][b * sub:(b + 1) * sub], cb[b][c]), c)
                         for c in range(k_sub))[1] for b in range(m)]
                 for i in qv}
        want = {}
        for qi in (0, 1):
            probe = sorted((d2(qv[qi], ivf[l]), l) for l in ivf)[:n_probe]
            lists = {l for _, l in probe}
            adc = {(b, c): d2(qv[qi][b * sub:(b + 1) * sub], cb[b][c])
                   for b in range(m) for c in range(k_sub)}
            cands = [(sum(adc[(b, codes[i][b])] for b in range(m)), i)
                     for i in qv if vlist[i] in lists]
            for rank, (dd, i) in enumerate(sorted(cands)[:k], 1):
                want[(qi, rank)] = (i, dd)
        assert got == want

    def test_pmi_pairs_hand_counted(self, spark):
        import math
        from bella_domify_spark.ops.textstats import pmi_pairs

        # "x y" adjacent in every doc (cab=4); "x z" at distance 2 in two
        # docs (cab=2, under min_count=2 both qualify); window=2
        rows = [(1, "x y q x z"), (2, "x y"), (3, "x y"), (4, "x y z")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {(r["w1"], r["w2"]): (r["n_pair"], r["pmi_e12"])
               for r in pmi_pairs(df, window=2, top_k=2,
                                  min_count=2).collect()}

        toks = [t for _, s in rows for t in s.split()]
        nu = len(toks)
        cw = {w: toks.count(w) for w in set(toks)}
        # all window-2 pairs, canonical order
        pairs = []
        for _, s in rows:
            ws = s.split()
            for i, wl in enumerate(ws):
                for d in (1, 2):
                    if i + d < len(ws):
                        a, b = sorted((wl, ws[i + d]))
                        pairs.append((a, b))
        np_ = len(pairs)
        from collections import Counter
        cab = Counter(pairs)
        want = {}
        for (a, b), c in sorted(cab.items(),
                                key=lambda kv: (-kv[1], kv[0]))[:2]:
            if c >= 2:
                pmi = (math.log(c) + math.log(nu) + math.log(nu)
                       - math.log(np_) - math.log(cw[a]) - math.log(cw[b]))
                want[(a, b)] = (c, math.floor(pmi * 1e12))
        assert got == want

    def test_quantile_effects_hand_counted(self, spark):
        from bella_domify_spark.ops.analyze import quantile_effects

        # 4 users -> 2 buckets of 2 under ntile(2) over (m, user).
        # metrics: u1=1.0, u2=2.0, u3=3.0, u4=4.0 (e6-scaled)
        rows = [(1, 1.0), (2, 2.0), (3, 3.0), (4, 4.0)]
        ev = spark.createDataFrame(
            [(i, u, v) for i, (u, v) in enumerate(rows)],
            "event_id long, user_id long, value double")
        got = {r["bucket"]: (r["n_a"], r["n_b"], r["mean_a_e6"],
                             r["mean_b_e6"], r["qte_e6"])
               for r in quantile_effects(ev, n_buckets=2).collect()}
        # bucket 1 = users 1 (B, 1e6), 2 (A, 2e6); bucket 2 = users 3
        # (B, 3e6), 4 (A, 4e6). variant = user_id % 2 (0=A, 1=B).
        assert got == {
            1: (1, 1, 2_000_000, 1_000_000, -1_000_000),
            2: (1, 1, 4_000_000, 3_000_000, -1_000_000),
        }


class TestRound6Session4Ops:
    def test_concurrency_sweep_hand_counted(self, spark):
        from bella_domify_spark.ops.temporal import concurrency_stats

        # seconds -> sessions (gap 1800): u1 [0,100]; u2 [50,50];
        # u3 [100,100] (starts exactly as u1 ends -> overlaps, peak 2);
        # u4 4000 and 10000 split into two point sessions (gap 6000);
        # u5 [3500,3700] spans the hour-0/hour-1 boundary (carry-in +1).
        rows = [(1, 1, 0), (2, 1, 100), (3, 2, 50), (4, 3, 100),
                (5, 4, 4000), (6, 4, 10000), (7, 5, 3500), (8, 5, 3700)]
        ev = (spark.createDataFrame(rows,
                                    "event_id long, user_id long, sec long")
              .select("event_id", "user_id",
                      F.timestamp_seconds(F.col("sec"))
                       .cast("timestamp_ntz").alias("ts")))
        got = {r["hour_us"]: (r["max_concurrent"], r["n_starts"],
                              r["n_ends"])
               for r in concurrency_stats(ev).collect()}
        assert got == {
            0: (2, 4, 3),                  # peak: u1 open + u2 (or u3)
            3_600_000_000: (1, 1, 2),      # u5 carries in, ends; u4 point
            7_200_000_000: (1, 1, 1),      # u4's 10000 s point session
        }

    def test_srm_check_hand_counted(self, spark):
        from bella_domify_spark.ops.analyze import srm_check

        # type x: users 0,2,4 (variant 0) + 1 (variant 1), with a
        # duplicate (x, 0) row that distinct must collapse -> chi2
        # (3-1)^2/4 = 1.0, no flag. type y: users 1,3,5,7,9 all
        # variant 1 -> chi2 25/5 = 5.0 >= 3.841459 -> flag.
        rows = [(1, 0, "x"), (2, 0, "x"), (3, 2, "x"), (4, 4, "x"),
                (5, 1, "x")] + [(10 + u, u, "y") for u in (1, 3, 5, 7, 9)]
        ev = spark.createDataFrame(
            rows, "event_id long, user_id long, event_type string")
        got = {r["event_type"]: (r["n_a"], r["n_b"], r["chi2_e6"],
                                 r["srm_flag"])
               for r in srm_check(ev).collect()}
        assert got == {"x": (3, 1, 1_000_000, 0),
                       "y": (0, 5, 5_000_000, 1)}

    def test_anomaly_mad_hand_counted(self, spark):
        from bella_domify_spark.ops.analyze import anomaly_mad

        # type a: hourly counts [1,1,1,1,10] -> lower med 1, devs
        # [0,0,0,0,9] -> MAD 0 (degenerate Hampel: any dev flags);
        # type b: counts [2,4,6,8] -> lower med 4 (rn 2 of 4), devs
        # [2,0,2,4] -> MAD 2 -> threshold dev > 6 -> nothing flags.
        rows = []
        eid = 0
        for h, k in enumerate([1, 1, 1, 1, 10]):
            for i in range(k):
                eid += 1
                rows.append((eid, "a", h * 3600 + i))
        for h, k in enumerate([2, 4, 6, 8]):
            for i in range(k):
                eid += 1
                rows.append((eid, "b", h * 3600 + i))
        ev = (spark.createDataFrame(rows,
                                    "event_id long, event_type string, "
                                    "sec long")
              .select("event_id", "event_type",
                      F.timestamp_seconds(F.col("sec"))
                       .cast("timestamp_ntz").alias("ts")))
        got = {(r["event_type"], r["hour_us"]): (r["cnt"], r["med"],
                                                 r["mad"], r["is_anomaly"])
               for r in anomaly_mad(ev).collect()}
        h = 3_600_000_000
        assert got == {
            ("a", 0 * h): (1, 1, 0, 0), ("a", 1 * h): (1, 1, 0, 0),
            ("a", 2 * h): (1, 1, 0, 0), ("a", 3 * h): (1, 1, 0, 0),
            ("a", 4 * h): (10, 1, 0, 1),
            ("b", 0 * h): (2, 4, 2, 0), ("b", 1 * h): (4, 4, 2, 0),
            ("b", 2 * h): (6, 4, 2, 0), ("b", 3 * h): (8, 4, 2, 0),
        }

    def test_prf_expansion_recalls_unmatched_doc(self, spark):
        from bella_domify_spark.ops.retrieval import bm25_prf, bm25_topk

        # d1 matches 'alpha' and is the sole feedback doc; its dominant
        # non-query term 'beta' expands the query, pulling in d2 (which
        # shares no original term). d3 shares nothing -> never appears.
        docs = spark.createDataFrame(
            [(1, "alpha beta beta"), (2, "beta beta gamma"),
             (3, "delta delta")],
            ["doc_id", "text"])
        base = bm25_topk(docs, queries=[("q", "alpha")], k=3).collect()
        assert [r["doc_id"] for r in base] == [1]
        got = bm25_prf(docs, queries=[("q", "alpha")], k=3).collect()
        assert [r["doc_id"] for r in got] == [1, 2]
        assert [r["rank"] for r in got] == [1, 2]
        s = {r["doc_id"]: r["score_w_e9"] for r in got}
        assert s[1] > s[2] > 0
        # cache discipline: postings released on both paths
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


class TestWalkCentrality:
    def test_path_graph_walks_hand_counted(self, spark):
        from bella_domify_spark.ops.graph import walk_centrality

        # path 1-2-3: x1 = deg = (1,2,1); x2 = (2,2,2); x3 = (2,4,2)
        pairs = spark.createDataFrame([(1, 2), (2, 3)],
                                      "id_a long, id_b long")
        got = {r["id"]: r["walks"]
               for r in walk_centrality(pairs, iters=3).collect()}
        assert got == {1: 2, 2: 4, 3: 2}

    def test_single_iter_is_degree(self, spark):
        from bella_domify_spark.ops.graph import walk_centrality

        pairs = spark.createDataFrame([(1, 2), (1, 3), (1, 4)],
                                      "id_a long, id_b long")
        got = {r["id"]: r["walks"]
               for r in walk_centrality(pairs, iters=1).collect()}
        assert got == {1: 3, 2: 1, 3: 1, 4: 1}


class TestFuzzyDecontamination:
    def test_near_dup_flagged_self_excluded(self, spark):
        from bella_domify_spark.ops.dedup import fuzzy_contamination_flags

        text = "a b c d e f g h i j"
        corpus = spark.createDataFrame(
            [(1, text), (3, "zz yy xx ww vv uu tt ss rr qq")],
            ["doc_id", "text"])
        # bench 1 = same id + same text as corpus doc 1 (self: excluded);
        # bench 10 = identical text under a different id (flagged, 64/64)
        bench = spark.createDataFrame([(1, text), (10, text)],
                                      ["bench_id", "text"])
        got = {(r["doc_id"], r["bench_id"]): r["n_match"]
               for r in fuzzy_contamination_flags(corpus, bench).collect()}
        assert got == {(1, 10): 64}


class TestEvalAndQuality:
    def test_expectations_hand_counted(self, spark):
        from bella_domify_spark.ops.analyze import expectations_report

        rules = [("value_nonneg", "value >= 0", "value >= 0"),
                 ("uid_not_null", "user_id IS NOT NULL",
                  "user_id IS NOT NULL")]
        ev = spark.createDataFrame(
            [(1, None, 5.0), (2, 7, -3.0), (3, 8, None)],
            "event_id long, user_id long, value double")
        got = {r["rule"]: (r["n_checked"], r["n_violations"],
                           r["min_bad_event_id"])
               for r in expectations_report(ev, rules=rules).collect()}
        # NULL value (event 3) violates value_nonneg (NULL pred = fail)
        assert got == {"value_nonneg": (3, 2, 2),
                       "uid_not_null": (3, 1, 1)}

    def test_retrieval_eval_perfect_and_empty(self, spark):
        from bella_domify_spark.ops.retrieval import retrieval_eval

        # d1/d3 contain both terms (relevant, outscore d2) -> ranks 1-2
        # in some order -> dcg == idcg -> ndcg 1e6, mrr 1e6. 'q2' matches
        # nothing -> all-zero row survives via the left joins.
        docs = spark.createDataFrame(
            [(1, "hash join fast"), (2, "hash only here"),
             (3, "join hash")],
            ["doc_id", "text"])
        got = {r["query_id"]: r.asDict()
               for r in retrieval_eval(
                   docs, queries=[("q", "hash join"),
                                  ("q2", "absent term")]).collect()}
        q = got["q"]
        assert (q["n_rel"], q["first_rank"], q["mrr_e6"]) == (2, 1, 1_000_000)
        assert q["dcg_e12"] == q["idcg_e12"] > 0
        assert q["ndcg_e6"] == 1_000_000
        assert got["q2"] == {"query_id": "q2", "n_rel": 0, "first_rank": 0,
                             "mrr_e6": 0, "dcg_e12": 0, "idcg_e12": 0,
                             "ndcg_e6": 0}

    def test_flesch_hand_counted(self, spark):
        import math

        from bella_domify_spark.ops.textstats import flesch_reading

        docs = spark.createDataFrame(
            [(1, "Hello world. It is good!")], ["doc_id", "text"])
        [r] = flesch_reading(docs).collect()
        # 5 words; 2 sentence runs (. and !); vowel groups:
        # e,o | o | i | i | oo -> 6
        assert (r["n_words"], r["n_sentences"], r["n_syllables"]) == (5, 2, 6)
        want = math.floor((206.835 - 1.015 * (5 / 2) - 84.6 * (6 / 5)) * 1e3)
        assert r["flesch_e3"] == want

    def test_modularity_hand_counted(self, spark):
        from bella_domify_spark.ops.graph import attribute_modularity

        # edges: intra-A (1,2); cross (2,3); intra-B (3,4). m=3.
        # A = {1,2}: e=1, d = deg1+deg2 = 1+2 = 3 -> 1/3 - (3/6)^2 = 1/12
        # B = {3,4}: e=1, d = 2+1 = 3           -> 1/12
        pairs = spark.createDataFrame([(1, 2), (2, 3), (3, 4)],
                                      "id_a long, id_b long")
        labels = spark.createDataFrame(
            [(1, "A"), (2, "A"), (3, "B"), (4, "B")], "id long, lab string")
        got = {r["lab"]: (r["n_nodes"], r["e_intra"], r["d_sum"],
                          r["q_term_e9"])
               for r in attribute_modularity(pairs, labels).collect()}
        import math
        q = math.floor((1 / 3 - (3 / 6.0) ** 2) * 1e9)
        assert got == {"A": (2, 1, 3, q), "B": (2, 1, 3, q)}

    def test_modularity_label_missing_node_drops(self, spark):
        from bella_domify_spark.ops.graph import attribute_modularity

        pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
        labels = spark.createDataFrame([(1, "A")], "id long, lab string")
        got = attribute_modularity(pairs, labels).collect()
        # node 2 unlabeled: edge not intra (no label match), node 2 absent
        assert len(got) == 1
        r = got[0]
        assert (r["lab"], r["n_nodes"], r["e_intra"]) == ("A", 1, 0)

    def test_dim_ablation_planted(self, spark):
        from bella_domify_spark.ops.ann import dim_ablation_recall

        # 4-dim vectors; truncation keeps dims 1-2. Query = v0.
        # full cosine: v1 aligned in all dims (top), v2 aligned only in
        # the TAIL dims (high full cosine, ~0 truncated), v3 orthogonal.
        rows = [(0, [1.0, 1.0, 1.0, 1.0]),
                (1, [1.0, 1.0, 1.0, 0.9]),
                (2, [0.01, -0.01, 1.0, 1.0]),
                (3, [1.0, -1.0, 1.0, -1.0])]
        em = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        q = (em.filter(F.col("vec_id") == 0)
             .selectExpr("vec_id as q_id", "embedding as q_vec"))
        got = {r["q_id"]: (r["k"], r["hits_trunc"])
               for r in dim_ablation_recall(em, q, k=2, keep_dims=2)
                   .collect()}
        # full top-2 = {v0 (self), v1}; truncated [1,1] ranking: v0, v1
        # still lead (v2's truncated cosine is 0: [0.01,-0.01] ⟂ [1,1])
        # -> both hit
        assert got == {0: (2, 2)}

    def test_split_leakage_hand_counted(self, spark):
        from bella_domify_spark.ops.curate import split_leakage

        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (4, 5)], "id_a long, id_b long")
        splits = spark.createDataFrame(
            [(1, "train"), (2, "test"), (3, "train"), (4, "val"),
             (5, "val")],
            "doc_id string, split string").selectExpr(
                "cast(doc_id as long) as doc_id", "split")
        got = {(r["split_a"], r["split_b"]): r["n_pairs"]
               for r in split_leakage(pairs, splits).collect()}
        # (1,2) and (2,3) cross test/train (orientation collapsed);
        # (4,5) stays intra-val
        assert got == {("test", "train"): 2, ("val", "val"): 1}


class TestWebFilter:
    def test_c4_filters_hand_counted(self, spark):
        from bella_domify_spark.ops.webfilter import c4_filters

        # payload lines per doc (text = 'alpha beta gamma delta', src 's'):
        # doc 0: headline / body+'.' / js / lorem / brace / cookie /
        #        contact = 7 lines; kept = headline, body, lorem = 3;
        #        lorem+brace present -> killed.
        # doc 1: headline / body (no terminal '.') / contact = 3 lines;
        #        kept = headline only -> n_kept=1 < 2 -> killed.
        # doc 3: headline / body+'.' / contact = 3 lines; kept =
        #        headline + body = 2 >= 2, no lorem/brace -> SURVIVES.
        rows = [(i, "alpha beta gamma delta", "s") for i in (0, 1, 3)]
        df = spark.createDataFrame(rows, "doc_id long, text string, "
                                         "source string")
        got = {r["doc_id"]: (r["n_lines"], r["n_kept_lines"],
                             r["kept_chars"], r["has_lorem"],
                             r["has_brace"], r["doc_kept"])
               for r in c4_filters(df).collect()}
        head = len("Top story from s news desk.")    # 27
        body = len("alpha beta gamma delta.")        # 23
        lorem = len("Lorem ipsum dolor sit amet.")   # 27
        assert got == {
            0: (7, 3, head + body + lorem, True, True, False),
            1: (3, 1, head, False, False, False),
            3: (3, 2, head + body, False, False, True),
        }

    def test_c4_min_words_boundary(self, spark):
        from bella_domify_spark.ops.webfilter import c4_filters

        # doc 3 body 'one two three.' = 3 words < C4_MIN_WORDS=4 ->
        # body line dropped despite terminal '.', doc killed (1 kept).
        df = spark.createDataFrame([(3, "one two three", "s")],
                                   "doc_id long, text string, source string")
        [r] = c4_filters(df).collect()
        assert (r["n_kept_lines"], r["doc_kept"]) == (1, False)

    def test_encoding_report_hand_counted(self, spark):
        from bella_domify_spark.ops.webfilter import encoding_report

        rows = [(1, "hello"),   # clean
                (6, "hi"),      # + ' cafÃ©'  -> mojibake marker
                (9, "hi"),      # + ' bell\x07' -> control char
                (10, "hi"),     # + ' bad�byte' -> replacement
                (24, "hi")]     # %6 and %8 -> both mojibake markers
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: (r["n_chars"], r["n_nonascii"], r["n_mojibake"],
                             r["n_ctrl"], r["n_repl"], r["clean_chars"],
                             r["flagged"])
               for r in encoding_report(df).collect()}
        assert got == {
            1: (5, 0, 0, 0, 0, 5, False),
            6: (8, 2, 1, 0, 0, 8, True),       # 'hi cafÃ©'
            9: (8, 0, 0, 1, 0, 7, True),       # 'hi bell\x07'
            10: (11, 1, 0, 0, 1, 10, True),    # 'hi bad�byte'
            24: (16, 5, 2, 0, 0, 16, True),    # cafÃ© + donâ€™t
        }

    def test_secrets_detect_hand_counted(self, spark):
        import hashlib

        from bella_domify_spark.ops.webfilter import secrets_detect

        rows = [(1, "hello"),    # no candidate at all -> 0 rows
                (5, "hello"),    # + sk_<md5> : 35 chars, hex -> secret
                (11, "hello")]   # + tok_ + 28*'a' : low diversity -> no
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: (r["token"], r["tok_len"], r["n_distinct"],
                             r["has_digit"], r["is_secret"])
               for r in secrets_detect(df).collect()}
        key = "sk_" + hashlib.md5(b"5").hexdigest()
        assert set(got) == {5, 11}
        assert got[5] == (key, 35, len(set(key)), True, True)
        assert got[11] == ("tok_" + "a" * 28, 32, 5, False, False)


class TestRound6Session6Ops:
    def test_lexical_diversity_hand_counted(self, spark):
        from bella_domify_spark.ops.textstats import lexical_diversity

        # source a: tokens x,x,y (case-folded) -> N=3, V=2,
        #   ttr = floor(2/3 * 1e9), rep = 2*1 = 2,
        #   simpson = floor(2/(3*2) * 1e9) = floor(1e9/3)
        # source b: single token -> N=1 < 2 -> dropped
        # null source -> dropped
        rows = [(1, "X x  y", "a"), (2, "z", "b"), (3, "w w", None)]
        df = spark.createDataFrame(rows, "doc_id long, text string, "
                                         "source string")
        got = [(r["source"], r["n_tokens"], r["n_types"],
                r["ttr_e9"], r["simpson_e9"])
               for r in lexical_diversity(df).collect()]
        assert got == [("a", 3, 2, 666666666, 333333333)]

    def test_k_anonymity_hand_counted(self, spark):
        from bella_domify_spark.ops.curate import K_ANON_K, k_anonymity

        assert K_ANON_K == 5
        rows = ([(i, "en", "s", 100 + i) for i in range(5)]      # bucket 100
                + [(10, "en", "s", 250), (11, "en", "s", 299)]   # bucket 200
                + [(12, None, "s", 50)])                         # dropped
        df = spark.createDataFrame(
            rows, "doc_id long, lang string, source string, n_chars long")
        got = {(r["lang"], r["source"], r["chars_bucket"]):
               (r["class_size"], r["at_risk"])
               for r in k_anonymity(df).collect()}
        assert got == {("en", "s", 100): (5, False),
                       ("en", "s", 200): (2, True)}

    def test_rater_kappa_matches_component_raters(self, spark):
        from fractions import Fraction

        from bella_domify_spark.ops.analyze import rater_kappa
        from bella_domify_spark.ops.classifier import quality_classifier
        from bella_domify_spark.ops.textstats import gopher_quality

        # mixed corpus: a 60-word stopword-rich doc (gopher keep), a
        # 5-word doc (too short), a NULL text (excluded), plus filler —
        # the classifier's verdicts are recomputed here from its own
        # output, so the test pins the 2x2 cells + exact kappa algebra
        long_text = ("the cat and the dog have fun with a ball " * 6).strip()
        rows = [(1, long_text), (2, "tiny doc here now"), (3, None),
                (4, ("you must not use short words ever again in this "
                     "corpus because " * 5).strip())]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        base = [r for r in rows if r[1] is not None]
        ra = {r["doc_id"]: r["keep"]
              for r in gopher_quality(
                  spark.createDataFrame(base,
                                        "doc_id long, text string"))
              .collect()}
        rb = {r["doc_id"]: r["label"] == "keep"
              for r in quality_classifier(
                  spark.createDataFrame(base,
                                        "doc_id long, text string"))
              .collect()}
        cells = [sum(1 for d in ra if ra[d] and rb[d]),
                 sum(1 for d in ra if ra[d] and not rb[d]),
                 sum(1 for d in ra if not ra[d] and rb[d]),
                 sum(1 for d in ra if not ra[d] and not rb[d])]
        n11, n10, n01, n00 = cells
        n = sum(cells)
        chance = (n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)
        num, den = n * (n11 + n00) - chance, n * n - chance
        [r] = rater_kappa(df).collect()
        assert [r["n11"], r["n10"], r["n01"], r["n00"]] == cells
        assert r["po_e9"] == (Fraction(n11 + n00, n) * 10**9).__floor__()
        if den > 0:
            assert r["kappa_e9"] == (Fraction(num, den) * 10**9).__floor__()
        else:
            assert r["kappa_e9"] is None

    def test_rank_rbo_weights_and_aggregation(self, spark):
        from fractions import Fraction

        from bella_domify_spark.ops.retrieval import (RBO_SUFFIX,
                                                      RBO_WEIGHTS, hybrid_rrf,
                                                      rank_rbo)

        # the integer weight table IS (1-p)p^(d-1)/d at scale 2520e10
        scale = 2520 * 10**10
        for d, w in enumerate(RBO_WEIGHTS, start=1):
            assert Fraction(w, scale) == (Fraction(1, 10)
                                          * Fraction(9, 10) ** (d - 1)
                                          / d)
        docs = spark.createDataFrame(
            [(1, "alpha beta alpha beta alpha"),
             (2, "alpha beta gamma delta epsilon zeta"),
             (3, "unrelated words entirely here")],
            ["doc_id", "text"])
        q = [("q1", "alpha beta")]
        fused = hybrid_rrf(docs, queries=q, k=5).collect()
        exp_fr = sum(abs(r["bm25_rank"] - r["fused_rank"]) for r in fused)
        exp_tot = sum(RBO_SUFFIX[max(r["bm25_rank"], r["fused_rank"]) - 1]
                      for r in fused)
        [r] = rank_rbo(docs, queries=q, k=5).collect()
        assert (r["query_id"], r["n_docs"]) == ("q1", len(fused))
        assert r["footrule"] == exp_fr
        assert r["rbo_e9"] == exp_tot // 25200
        # identical permutations of all 10 depths -> rbo = 1 - 0.9^10
        assert sum(RBO_SUFFIX) // 25200 == 651321559

    def test_context_budget_hand_counted(self, spark):
        import datetime as dt

        from bella_domify_spark.ops.transcript import context_budget

        base = dt.datetime(2024, 1, 1)
        # costs: len(props) div 4 + 1 -> 3, 1, 4; cum 3, 4, 8; budget 4
        # keeps the first two turns only; u2 fits entirely
        rows = [("u1", base, "e1", "x" * 8),
                ("u1", base + dt.timedelta(seconds=1), "e2", ""),
                ("u1", base + dt.timedelta(seconds=2), "e3", "y" * 12),
                ("u2", base, "e9", None)]
        df = spark.createDataFrame(
            rows, "user_id string, ts timestamp, event_id string, "
                  "props string")
        got = {r["user_id"]: (r["n_turns"], r["total_tokens"],
                              r["kept_turns"], r["kept_tokens"],
                              r["truncated"])
               for r in context_budget(df, budget=4).collect()}
        assert got == {"u1": (3, 8, 2, 4, True),
                       "u2": (1, 1, 1, 1, False)}

    def test_context_budget_ties_break_on_event_id(self, spark):
        import datetime as dt

        from bella_domify_spark.ops.transcript import context_budget

        ts = dt.datetime(2024, 1, 1)
        # same ts: event_id order puts the cheap turn first -> both the
        # cheap (cum 2) and budget boundary (cum 5 > 4) are deterministic
        rows = [("u", ts, "b", "z" * 8), ("u", ts, "a", "w" * 4)]
        df = spark.createDataFrame(
            rows, "user_id string, ts timestamp, event_id string, "
                  "props string")
        [r] = context_budget(df, budget=4).collect()
        assert (r["kept_turns"], r["kept_tokens"]) == (1, 2)

    def test_sq_error_hand_counted(self, spark):
        from bella_domify_spark.ops.ann import sq_error

        # dims both span [0, 1e6] after e6 quantization; v3's components
        # leave residuals 500000 and 750000 at the 255x scale
        rows = [(1, [0.0, 0.0]), (2, [1.0, 1.0]), (3, [0.5, 0.25]),
                (4, [0.0])]                      # ragged -> excluded
        df = spark.createDataFrame(rows,
                                   "vec_id long, embedding array<float>")
        got = {r["vec_id"]: (r["n_dims"], r["sse"], r["max_err"])
               for r in sq_error(df).collect()}
        assert got == {
            1: (2, 0, 0),
            2: (2, 0, 0),
            3: (2, 500000**2 + 750000**2, 750000),
        }


class TestRound6Session7Ops:
    def test_gini_concentration_hand_counted(self, spark):
        from bella_domify_spark.ops.analyze import gini_concentration

        # per-source sums: a=10, b=30 (10+20), c=60; null source dropped.
        # ranked asc: a(1), b(2), c(3); W=100, sum(i*w)=10+60+180=250
        # gini = (2*250 - 4*100) / (3*100) = 1/3 -> 333333333
        rows = [(1, "a", 10), (2, "b", 10), (3, "b", 20), (4, "c", 60),
                (5, None, 999)]
        df = spark.createDataFrame(rows,
                                   "doc_id long, source string, n_chars long")
        got = [(r["rnk"], r["source"], r["w_chars"], r["cum_chars"],
                r["lorenz_e9"], r["gini_e9"])
               for r in gini_concentration(df).orderBy("rnk").collect()]
        assert got == [(1, "a", 10, 10, 100000000, 333333333),
                       (2, "b", 30, 40, 400000000, 333333333),
                       (3, "c", 60, 100, 1000000000, 333333333)]

    def test_mann_kendall_hand_counted(self, spark):
        import datetime as dt

        from bella_domify_spark.ops.analyze import mann_kendall

        d = lambda day, hour=0: dt.datetime(2024, 1, day, hour)
        # type x daily counts: d1=1, d2=2, d3=1
        #   S = sign(2-1) + sign(1-1) + sign(1-2) = 1 + 0 - 1 = 0
        #   ties: count 1 appears twice -> 2*1*9 = 18
        #   var18 = 3*2*11 - 18 = 48
        # type y: single day -> dropped; null ts row dropped
        rows = [("x", d(1)), ("x", d(2)), ("x", d(2, 5)), ("x", d(3)),
                ("y", d(1)), ("x", None)]
        df = spark.createDataFrame(rows, "event_type string, ts timestamp")
        got = [(r["event_type"], r["n_days"], r["s_stat"], r["var18"])
               for r in mann_kendall(df).collect()]
        assert got == [("x", 3, 0, 48)]

    def test_heaps_law_hand_counted(self, spark):
        from bella_domify_spark.ops.textstats import heaps_law

        # ids 1..4, 2 buckets: (id-1)*2/4 -> ids 1,2 bucket 1; 3,4 bucket 2
        # bucket 1: docs {1,2}, 4 tokens, new terms {a,b,c}
        # bucket 2: docs {3,4}, 2 tokens, new term {d} (a already seen)
        rows = [(1, "a B a"), (2, "c"), (3, "a d"), (4, "")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = [(r["bucket"], r["n_docs"], r["cum_docs"], r["cum_tokens"],
                r["new_terms"], r["cum_vocab"])
               for r in heaps_law(df, n_buckets=2).orderBy("bucket")
                                                  .collect()]
        assert got == [(1, 2, 2, 4, 3, 3), (2, 2, 4, 6, 1, 4)]

    def test_lev_verify_pairs_hand_counted(self, spark):
        from bella_domify_spark.ops.dedup import lev_verify_pairs

        # docs 1 and 2 share 57 of 59 word-3-gram shingles (jaccard ~.97
        # -> LSH candidate + est >= 0.2 with certainty in practice); they
        # differ only in word 0 ("aaaa" vs "bbbb", a 4-char substitution
        # inside the 256-char prefix) and both carry the same non-ASCII
        # char (folded to '?' on both sides, lev-neutral). doc 9 shares
        # nothing. 60 words x 5 chars = 299 chars, prefix = 256.
        words = ["w%02dé" % i if i == 1 else "w%02dx" % i
                 for i in range(60)]
        a = " ".join(["aaaa"] + words[1:])
        b = " ".join(["bbbb"] + words[1:])
        other = " ".join("zq%02d" % i for i in range(60))
        df = spark.createDataFrame([(1, a), (2, b), (9, other)],
                                   "doc_id long, text string")
        got = [(r["id_a"], r["id_b"], r["lev"], r["max_len"], r["sim_e6"])
               for r in lev_verify_pairs(df).collect()]
        assert got == [(1, 2, 4, 256, (256 - 4) * 1000000 // 256)]

    def test_interarrival_stats_hand_counted(self, spark):
        import datetime as dt
        import math

        from bella_domify_spark.ops.temporal import interarrival_stats

        t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
        # user 1: gaps 10s -> b, 0s (ts tie, event_id order) -> b,
        # 15s -> b; user 2 single event -> no gap; null ts dropped
        rows = [(1, 1, "a", t(0)), (2, 1, "b", t(10)), (3, 1, "b", t(10)),
                (4, 1, "b", t(25)), (5, 2, "a", t(0)), (6, 1, "b", None)]
        df = spark.createDataFrame(
            rows, "event_id long, user_id long, event_type string, "
                  "ts timestamp")
        sg, sq, n = 25_000_000, 10_000_000**2 + 15_000_000**2, 3
        std = math.floor(math.sqrt(n * sq - sg * sg) / n)
        got = [(r["event_type"], r["n_gaps"], r["mean_gap_us"],
                r["std_gap_us"], r["max_gap_us"])
               for r in interarrival_stats(df).collect()]
        assert got == [("b", 3, sg // 3, std, 15_000_000)]

    def test_cusum_changepoint_hand_counted(self, spark):
        import datetime as dt

        from bella_domify_spark.ops.analyze import cusum_changepoint

        epoch = dt.date(1970, 1, 1)
        day = lambda d: (dt.date(2024, 1, d) - epoch).days
        mk = lambda ty, d, k: [(ty, dt.datetime(2024, 1, d, h))
                               for h in range(k)]
        # x: daily counts 5,1,3 -> W=9,n=3; cusum = 3*cum - k*9 =
        #    (6, 0, 0) -> max |6| at day 1
        # y: flat 2,2 -> cusum (0, 0) -> tie breaks to day 1, stat 0
        rows = (mk("x", 1, 5) + mk("x", 2, 1) + mk("x", 3, 3)
                + mk("y", 1, 2) + mk("y", 2, 2) + [("x", None)])
        df = spark.createDataFrame(rows, "event_type string, ts timestamp")
        got = {r["event_type"]: (r["n_days"], r["cp_day"],
                                 r["max_abs_cusum"])
               for r in cusum_changepoint(df).collect()}
        assert got == {"x": (3, day(1), 6), "y": (2, day(1), 0)}

    def test_script_mix_hand_counted(self, spark):
        from bella_domify_spark.ops.textstats import script_mix

        rows = [(1, "Abc 123 你好 Ж!"),   # latin-dominant mixed doc
                (2, "你好 мир"),           # cyrillic wins 3 > 2
                (3, " \t.,"),              # no script chars -> none
                (4, None)]                 # dropped
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: (r["n_latin"], r["n_digit"], r["n_cjk"],
                             r["n_cyrillic"], r["n_space"], r["n_other"],
                             r["dominant"])
               for r in script_mix(df).collect()}
        assert got == {1: (3, 3, 2, 1, 3, 1, "latin"),
                       2: (0, 0, 2, 3, 1, 0, "cyrillic"),
                       3: (0, 0, 0, 0, 2, 2, "none")}

    def test_source_temperature_hand_counted(self, spark):
        from bella_domify_spark.ops.textstats import source_temperature

        # a: 9 tokens -> sqrt_e6 = 3e6; b: 16 -> 4e6; tot = 7e6
        rows = [(1, "a", " ".join("t%d" % i for i in range(9))),
                (2, "b", " ".join("u%d" % i for i in range(16))),
                (3, None, "x"), (4, "c", None)]
        df = spark.createDataFrame(rows,
                                   "doc_id long, source string, text string")
        got = {r["source"]: (r["n_tokens"], r["sqrt_e6"], r["share_e9"])
               for r in source_temperature(df).collect()}
        assert got == {
            "a": (9, 3_000_000, 3_000_000 * 10**9 // 7_000_000),
            "b": (16, 4_000_000, 4_000_000 * 10**9 // 7_000_000)}

    def test_l_diversity_hand_counted(self, spark):
        from bella_domify_spark.ops.curate import L_DIVERSITY_L, l_diversity

        assert L_DIVERSITY_L == 3
        # class (en,100): 3 distinct sources -> safe;
        # class (en,200): one source twice -> at risk; null lang dropped
        rows = [(1, "en", "s1", 150), (2, "en", "s2", 160),
                (3, "en", "s3", 170), (4, "en", "s1", 250),
                (5, "en", "s1", 260), (6, None, "s1", 50)]
        df = spark.createDataFrame(
            rows, "doc_id long, lang string, source string, n_chars long")
        got = {(r["lang"], r["chars_bucket"]):
               (r["class_size"], r["n_sources"], r["at_risk"])
               for r in l_diversity(df).collect()}
        assert got == {("en", 100): (3, 3, False),
                       ("en", 200): (2, 1, True)}

    def test_t_closeness_hand_counted(self, spark):
        from bella_domify_spark.ops.curate import T_CLOSENESS_E9, t_closeness

        assert T_CLOSENESS_E9 == 350_000_000
        # global: s1 x6, s2 x2 (N=8). class (en,100) = 5 x s1:
        # t = 1/2(|1-3/4| + |0-1/4|) = 0.25 -> safe; class (en,200) =
        # 1 x s1 + 2 x s2: t = 1/2(|1/3-3/4| + |2/3-1/4|) = 5/12 -> risk
        rows = ([(i, "en", "s1", 100 + i) for i in range(5)]
                + [(10, "en", "s1", 250), (11, "en", "s2", 260),
                   (12, "en", "s2", 270), (13, None, "s1", 50)])
        df = spark.createDataFrame(
            rows, "doc_id long, lang string, source string, n_chars long")
        got = {(r["lang"], r["chars_bucket"]):
               (r["class_size"], r["t_e9"], r["at_risk"])
               for r in t_closeness(df).collect()}
        assert got == {("en", 100): (5, 250_000_000, False),
                       ("en", 200): (3, 416_666_666, True)}

    def test_char_entropy_hand_and_brute(self, spark):
        import math
        import random
        from collections import Counter

        from bella_domify_spark.ops.textstats import char_entropy

        def ref(text):
            n = len(text)
            s_e6 = sum(math.floor(c * math.log(c) * 1e6)
                       for c in Counter(text).values())
            return (n, len(set(text)),
                    math.floor((math.log(n) - (s_e6 / 1e6) / n) * 1e6))

        rng = random.Random(5)
        texts = ["aabb", "zzzz", "a", "line1\nline1\n"] + [
            "".join(rng.choice("abcde \n.!") for _ in range(rng.randint(1, 200)))
            for _ in range(20)]
        rows = [(i, t) for i, t in enumerate(texts)] + [(99, None), (98, "")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: (r["n_chars_counted"], r["n_distinct_chars"],
                             r["ent_e6"])
               for r in char_entropy(df).collect()}
        assert got == {i: ref(t) for i, t in enumerate(texts)}
        assert got[0] == (4, 2, 693147)   # 2 ln 2 exactly
        assert got[1] == (4, 1, 0)        # single-char runs score zero

    def test_negative_sampling_hand_counted(self, spark):
        import math

        from bella_domify_spark.ops.textstats import negative_sampling_table

        # "aa" x8, "bb" x8, "cc" x1 (cut by min_count=5)
        df = spark.createDataFrame(
            [(1, "aa bb " * 4), (2, "aa bb " * 4 + "cc")],
            "doc_id long, text string")
        got = {r["term"]: (r["freq"], r["w_e6"], r["share_e9"])
               for r in negative_sampling_table(df).collect()}
        w8 = math.floor(math.sqrt(8 * math.sqrt(8)) * 1e6)  # 8^0.75
        assert got == {"aa": (8, w8, 500_000_000),
                       "bb": (8, w8, 500_000_000)}

    def test_negative_sampling_flattens_zipf(self, spark):
        from bella_domify_spark.ops.textstats import negative_sampling_table

        # 100:5 raw ratio compresses to 100^.75/5^.75 ~ 9.46 under alpha=3/4
        df = spark.createDataFrame(
            [(1, "hot " * 100 + "cold " * 5)], "doc_id long, text string")
        got = {r["term"]: r["share_e9"]
               for r in negative_sampling_table(df).collect()}
        ratio = got["hot"] / got["cold"]
        assert 9.0 < ratio < 10.0

    def test_fertility_by_lang_hand_counted(self, spark):
        from bella_domify_spark.ops.textstats import fertility_by_lang

        # "don't stop." = 2 ws words, 5 regex tokens (don / ' / t /
        # stop / .), 11 bytes; "café" = caf + é (2 tokens — the accent
        # falls out of [A-Za-z0-9]+), 5 bytes (bytes > chars)
        df = spark.createDataFrame(
            [(1, "en", "don't stop."), (2, "fr", "café"), (3, None, "x")],
            "doc_id long, lang string, text string")
        got = {r["lang"]: (r["n_docs"], r["ws_tokens"], r["re_tokens"],
                           r["n_bytes"], r["fert_e6"], r["bytes_per_tok_e6"])
               for r in fertility_by_lang(df).collect()}
        assert got == {"en": (1, 2, 5, 11, 2_500_000, 2_200_000),
                       "fr": (1, 1, 2, 5, 2_000_000, 2_500_000)}

    def test_winnow_fingerprints_vs_reference(self, spark):
        import hashlib

        from bella_domify_spark.ops.dedup import (WINNOW_K, WINNOW_W,
                                                  winnow_fingerprints)

        def ref(text, k=WINNOW_K, w=WINNOW_W):
            t = text.lower()
            m = len(t) - k + 1
            keys = [int(hashlib.md5(t[i - 1:i - 1 + k].encode())
                        .hexdigest()[:15], 16) % 2**31 * 2**31
                    + (2**31 - 1 - i) for i in range(1, m + 1)]
            sel = {min(keys[j - w + 1:j + 1]) for j in range(w - 1, m)}
            return {(2**31 - 1 - mk % 2**31, mk >> 31) for mk in sel}

        texts = {1: "The quick brown fox jumps over the lazy dog",
                 2: "some OTHER doc with the quick brown fox inside",
                 3: "abcdefgh",   # exactly k+w-1 chars -> one window
                 4: "short"}      # len 5 = k but m=1 < w -> no window
        df = spark.createDataFrame(list(texts.items()),
                                   "doc_id long, text string")
        got = {}
        for r in winnow_fingerprints(df).collect():
            got.setdefault(r["doc_id"], set()).add((r["pos"], r["fp"]))
        assert got[1] == ref(texts[1])
        assert got[2] == ref(texts[2])
        assert got[3] == ref(texts[3])
        assert 4 not in got
        # the winnowing guarantee: the shared >= k+w-1 substring
        # "the quick brown fox" contributes a shared fingerprint
        assert {f for _, f in got[1]} & {f for _, f in got[2]}


class TestRound6Session8Ops:
    def test_ks_drift_fully_separated(self, spark):
        from datetime import datetime

        from bella_domify_spark.ops.analyze import ks_drift

        # ref half (ts 0,1s) values {1,2}; live half (9,10s) {3,4}:
        # CDFs never overlap -> D = 1, argmax at the last ref value 2.0
        t0 = datetime(2024, 1, 1)
        rows = [(t0.replace(second=0), 1.0), (t0.replace(second=1), 2.0),
                (t0.replace(second=9), 3.0), (t0.replace(second=10), 4.0)]
        df = spark.createDataFrame(rows, "ts timestamp, value double")
        got = ks_drift(df).collect()
        assert len(got) == 1
        r = got[0]
        assert (r["n_ref"], r["n_live"]) == (2, 2)
        assert r["d_e6"] == 1_000_000
        assert r["at_v_e6"] == 2_000_000
        assert r["crit_e6"] == 1_358_000   # 1.358*sqrt(4/4)*1e6

    def test_ks_drift_tie_breaks_to_smallest_value(self, spark):
        from datetime import datetime

        from bella_domify_spark.ops.analyze import ks_drift

        # ref {1,2,3} vs live {2,3,4}: D = 1/3 attained at v=1,2,3 ->
        # report the smallest grid point
        t0 = datetime(2024, 1, 1)
        rows = ([(t0.replace(second=s), float(v))
                 for s, v in ((0, 1), (1, 2), (2, 3))]
                + [(t0.replace(second=s), float(v))
                   for s, v in ((8, 2), (9, 3), (10, 4))])
        df = spark.createDataFrame(rows, "ts timestamp, value double")
        r = ks_drift(df).collect()[0]
        assert r["d_e6"] == 333_333
        assert r["at_v_e6"] == 1_000_000

    def test_ess_by_source_hand_counted(self, spark):
        from bella_domify_spark.ops.analyze import ess_by_source

        df = spark.createDataFrame(
            [(1, "a", 3), (2, "a", 4), (3, "b", 5),
             (4, None, 9), (5, "c", None)],
            "doc_id long, source string, n_chars long")
        got = {r["source"]: (r["n_docs"], r["sum_w"], r["ess_e6"],
                             r["ess_ratio_e6"])
               for r in ess_by_source(df).collect()}
        # a: (3+4)^2/ (9+16) = 49/25 = 1.96 effective docs of 2
        assert got == {"a": (2, 7, 1_960_000, 980_000),
                       "b": (1, 5, 1_000_000, 1_000_000)}

    def test_benford_audit_hand_counted(self, spark):
        from bella_domify_spark.ops.analyze import BENFORD_E6, benford_audit

        assert BENFORD_E6[1] == 301_029 and BENFORD_E6[9] == 45_757
        df = spark.createDataFrame(
            [(1.0,), (2.5,), (19.0,), (0.0000005,), (-3.0,), (None,)],
            "value double")
        got = {r["digit"]: (r["n_obs"], r["obs_e6"], r["exp_e6"],
                            r["dev_e6"])
               for r in benford_audit(df).collect()}
        assert got == {1: (2, 666_666, 301_029, 365_637),
                       2: (1, 333_333, 176_091, 157_242)}

    def test_zipf_fit_perfect_zipf_slope(self, spark):
        import math

        from bella_domify_spark.ops.textstats import zipf_fit

        # freq = 30/rank exactly: ln(freq) = ln 30 - ln(rank) -> OLS
        # slope -1; mirror the integer recipe for the exact expectation
        df = spark.createDataFrame(
            [(1, "a " * 30 + "b " * 15 + "c " * 10)],
            "doc_id long, text string")
        r = zipf_fit(df).collect()[0]
        xs = [math.floor(math.log(k) * 1e9) for k in (1, 2, 3)]
        ys = [math.floor(math.log(f) * 1e9) for f in (30, 15, 10)]
        n, sx, sy = 3, sum(xs), sum(ys)
        sxy = sum(x * y for x, y in zip(xs, ys))
        sxx = sum(x * x for x in xs)

        def tdiv(a, b):   # Spark div / DuckDB // truncate toward zero
            return abs(a) // abs(b) * (1 if (a < 0) == (b < 0) else -1)

        slope = tdiv((n * sxy - sx * sy) * 1_000_000, n * sxx - sx * sx)
        assert r["n_terms"] == 3
        assert r["slope_e6"] == slope
        assert abs(r["slope_e6"] + 1_000_000) <= 2
        assert r["xbar_e9"] == sx // n and r["ybar_e9"] == sy // n
        assert r["intercept_e9"] == sy // n - tdiv(slope * (sx // n),
                                                   1_000_000)

    def test_zipf_fit_single_rank_degenerate_empty(self, spark):
        from bella_domify_spark.ops.textstats import zipf_fit

        # one surviving term -> zero OLS denominator -> empty result
        df = spark.createDataFrame([(1, "a " * 9)],
                                   "doc_id long, text string")
        assert zipf_fit(df).count() == 0

    def test_ppjoin_pairs_hand_counted(self, spark):
        from bella_domify_spark.ops.dedup import ppjoin_pairs

        # d1/d2 share 2 of 4 distinct 3-gram shingles -> J = 0.5 kept;
        # d4 shares 1 with d1 (J = 0.2) dropped; d3 disjoint
        df = spark.createDataFrame(
            [(1, "a b c d e"), (2, "a b c d x"),
             (3, "z y x w v"), (4, "a b c q r")],
            "doc_id long, text string")
        got = [(r["id_a"], r["id_b"], r["n_a"], r["n_b"], r["n_common"],
                r["jacc_e6"]) for r in ppjoin_pairs(df).collect()]
        assert got == [(1, 2, 3, 3, 2, 500_000)]

    def test_ppjoin_prefix_filter_is_exact_vs_brute_force(self, spark):
        import itertools

        from bella_domify_spark.ops.dedup import ppjoin_pairs

        # 20 sliding-window docs over a shared word stream: many partial
        # overlaps straddling the threshold; the prefix filter must
        # reproduce brute force EXACTLY (no lost pairs)
        stream = [f"w{i % 13}" for i in range(40)]
        texts = {i: " ".join(stream[i:i + 8] + [f"u{i}"])
                 for i in range(20)}

        def shingles(t):
            w = t.split()
            return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}

        brute = {}
        for a, b in itertools.combinations(sorted(texts), 2):
            sa, sb = shingles(texts[a]), shingles(texts[b])
            inter = len(sa & sb)
            if 2 * inter >= len(sa) + len(sb) - inter:
                brute[(a, b)] = (len(sa), len(sb), inter,
                                 inter * 1_000_000
                                 // (len(sa) + len(sb) - inter))
        df = spark.createDataFrame(list(texts.items()),
                                   "doc_id long, text string")
        got = {(r["id_a"], r["id_b"]): (r["n_a"], r["n_b"], r["n_common"],
                                        r["jacc_e6"])
               for r in ppjoin_pairs(df).collect()}
        assert got == brute
        assert len(got) >= 3   # the fixture genuinely exercises pairs

    def test_theil_sen_hand_counted(self, spark):
        from datetime import datetime

        from bella_domify_spark.ops.analyze import theil_sen

        def day(d, n, typ):
            return [(datetime(2024, 1, 1 + d), typ)] * n

        rows = (day(0, 1, "a") + day(1, 3, "a") + day(2, 5, "a")
                # outlier day: OLS would chase 100, Theil-Sen stays at 1
                + day(0, 10, "b") + day(1, 11, "b") + day(2, 12, "b")
                + day(3, 100, "b")
                + day(0, 5, "c") + day(1, 2, "c"))
        df = spark.createDataFrame(rows, "ts timestamp, event_type string")
        got = {r["event_type"]: (r["n_days"], r["n_pairs"], r["slope_e6"])
               for r in theil_sen(df).collect()}
        assert got == {"a": (3, 3, 2_000_000),
                       "b": (4, 6, 1_000_000),
                       "c": (2, 1, -3_000_000)}

    def test_vocab_overlap_hand_counted(self, spark):
        from bella_domify_spark.ops.textstats import vocab_overlap

        df = spark.createDataFrame(
            [(1, "A", "x y z"), (2, "B", "x y q"), (3, "C", "x")],
            "doc_id long, source string, text string")
        got = {(r["src_a"], r["src_b"]):
               (r["v_a"], r["v_b"], r["inter"], r["jacc_e6"], r["ovl_e6"])
               for r in vocab_overlap(df).collect()}
        # C's vocabulary is a strict subset: ovl = 1e6 while jacc = 1/3
        assert got == {("A", "B"): (3, 3, 2, 500_000, 666_666),
                       ("A", "C"): (3, 1, 1, 333_333, 1_000_000),
                       ("B", "C"): (3, 1, 1, 333_333, 1_000_000)}

    def test_hill_tail_hand_counted(self, spark):
        import math

        from bella_domify_spark.ops.textstats import hill_tail

        df = spark.createDataFrame(
            [(1, 100), (2, 80), (3, 60), (4, 40), (5, 20)],
            "doc_id long, n_chars long")
        r = hill_tail(df, k=3).collect()
        assert len(r) == 1
        lns = [math.floor(math.log(v) * 1e9) for v in (100, 80, 60, 40)]
        hill = (sum(lns[:3]) - 3 * lns[3]) // 3
        assert (r[0]["k_used"], r[0]["x_ref"]) == (3, 40)
        assert r[0]["hill_e9"] == hill
        assert r[0]["alpha_e6"] == 10**15 // hill

    def test_hill_tail_needs_k_plus_one_docs(self, spark):
        from bella_domify_spark.ops.textstats import hill_tail

        df = spark.createDataFrame([(1, 100), (2, 80), (3, 60)],
                                   "doc_id long, n_chars long")
        assert hill_tail(df, k=3).count() == 0

    def test_freq_spectrum_hand_counted(self, spark):
        from bella_domify_spark.ops.textstats import freq_spectrum

        # shingle doc-frequencies: "x y z" in 3 docs, "y z w" in 2,
        # "y z q" in 1 -> N_1 = N_2 = N_3 = 1, V = 3
        df = spark.createDataFrame(
            [(1, "x y z w"), (2, "x y z q"), (3, "x y z w")],
            "doc_id long, text string")
        got = {r["r"]: (r["n_r"], r["share_e6"], r["gt_e6"])
               for r in freq_spectrum(df).collect()}
        # Good-Turing r* numerator: (r+1)·N_{r+1}/N_r; N_4 absent -> 0
        assert got == {1: (1, 333_333, 2_000_000),
                       2: (1, 333_333, 3_000_000),
                       3: (1, 333_333, 0)}

    def test_transition_entropy_hand_counted(self, spark):
        import math
        from datetime import datetime

        from bella_domify_spark.ops.temporal import transition_entropy

        t = lambda s: datetime(2024, 1, 1, 0, 0, s)
        rows = [(10, t(0), 1, "A"), (11, t(1), 1, "B"),
                (12, t(2), 1, "A"), (13, t(3), 1, "C"),
                (20, t(0), 2, "A"), (21, t(1), 2, "B"),
                # same-ts pair: event_id tie-break pins D -> E
                (30, t(5), 3, "D"), (31, t(5), 3, "E")]
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long,"
                  " event_type string")
        got = {r["prev_type"]: (r["c_p"], r["n_next"], r["h_e9"])
               for r in transition_entropy(df).collect()}
        sab = math.floor(-math.log(2 / 3) * 1e9)
        sac = math.floor(-math.log(1 / 3) * 1e9)
        assert got == {"A": (3, 2, (2 * sab + sac) // 3),
                       "B": (1, 1, 0), "D": (1, 1, 0)}

    def test_cross_source_dups_hand_counted(self, spark):
        from bella_domify_spark.ops.dedup import cross_source_dups

        # d3 copies d1 (intra-X pair); d2 extends d1 by one word
        # (J = 3/4 with both) -> matrix: (X,X)=1, (X,Y)=2
        df = spark.createDataFrame(
            [(1, "X", "a b c d e"), (2, "Y", "a b c d e f"),
             (3, "X", "a b c d e")],
            "doc_id long, source string, text string")
        got = {(r["src_lo"], r["src_hi"]): (r["n_pairs"], r["share_e6"])
               for r in cross_source_dups(df).collect()}
        assert got == {("X", "X"): (1, 333_333), ("X", "Y"): (2, 666_666)}

    def test_length_fences_hand_counted(self, spark):
        from bella_domify_spark.ops.analyze import length_fences

        rows = [(i, "s", v) for i, v in enumerate([1, 2, 3, 4, 5, 6, 7,
                                                   8, 100])]
        df = spark.createDataFrame(rows,
                                   "doc_id long, source string,"
                                   " n_chars long")
        r = length_fences(df).collect()
        assert len(r) == 1
        # n=9: Q1 at rank 3, med at rank 5, Q3 at rank 7; IQR=4 ->
        # high fence 13: only the 100-char whale is flagged
        assert tuple(r[0]) == ("s", 9, 3, 5, 7, 0, 1)

    def test_meta_mi_hand_counted(self, spark):
        import math

        from bella_domify_spark.ops.analyze import meta_mi

        df = spark.createDataFrame(
            [(1, "A", "en"), (2, "A", "en"), (3, "A", "fr"),
             (4, "B", "fr")],
            "doc_id long, source string, lang string")
        got = {(r["source"], r["lang"]): (r["c_xy"], r["pmi_e9"],
                                          r["mi_e9"])
               for r in meta_mi(df).collect()}

        def pmi(cxy, cx, cy, n):
            return math.floor((math.log(cxy / cx) - math.log(cy / n))
                              * 1e9)

        p_aen = pmi(2, 3, 2, 4)
        p_afr = pmi(1, 3, 2, 4)
        p_bfr = pmi(1, 1, 2, 4)
        mi = (2 * p_aen + p_afr + p_bfr) // 4   # positive: trunc = floor
        assert got == {("A", "en"): (2, p_aen, mi),
                       ("A", "fr"): (1, p_afr, mi),
                       ("B", "fr"): (1, p_bfr, mi)}

    def test_kcenter_coreset_hand_counted(self, spark):
        from bella_domify_spark.ops.ann import kcenter_coreset

        # seed = max-norm (tie 1 vs 3 -> min id 1); then farthest-point:
        # v3 at 36e12 from v1, then v2 at min(13e12, 13e12)
        df = spark.createDataFrame(
            [(1, [3.0, 0.0]), (2, [0.0, 2.0]),
             (3, [-3.0, 0.0]), (4, [0.0, 0.0])],
            "vec_id long, embedding array<double>")
        got = [(r["sel_idx"], r["vec_id"], r["d2_pick"])
               for r in kcenter_coreset(df, k=3)
               .orderBy("sel_idx").collect()]
        e12 = 10**12
        assert got == [(0, 1, 9 * e12), (1, 3, 36 * e12),
                       (2, 2, 13 * e12)]

    def test_props_keys_hand_counted(self, spark):
        from bella_domify_spark.ops.analyze import props_keys

        df = spark.createDataFrame(
            [(1, "a", '{"x": 1, "y": "z"}'), (2, "a", '{"x": 2}'),
             (3, "b", 'garbage "k":1 not json'), (4, "b", None)],
            "event_id long, event_type string, props string")
        got = {(r["event_type"], r["key"]): (r["n"], r["share_e6"])
               for r in props_keys(df).collect()}
        # NULL-props rows leave the denominator; malformed rows still
        # yield their key (regex, not a JSON parser)
        assert got == {("a", "x"): (2, 1_000_000),
                       ("a", "y"): (1, 500_000),
                       ("b", "k"): (1, 1_000_000)}

    def test_reshard_stats_vs_python_md5(self, spark):
        import hashlib

        from bella_domify_spark.ops.lakehouse import reshard_stats

        def h60(s):
            return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

        ids = list(range(1, 61))
        mv_mod = sum(1 for i in ids
                     if h60(str(i)) % 16 != h60(str(i)) % 17)
        mv_hrw = sum(1 for i in ids
                     if h60(f"{i}:16") > max(h60(f"{i}:{s}")
                                             for s in range(16)))
        df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
        r = reshard_stats(df).collect()[0]
        assert (r["n_docs"], r["moved_mod"], r["moved_hrw"]) == \
            (60, mv_mod, mv_hrw)
        assert r["frac_mod_e6"] == mv_mod * 1_000_000 // 60
        assert r["frac_hrw_e6"] == mv_hrw * 1_000_000 // 60
        # the whole point: consistent placement moves far less
        assert r["moved_hrw"] < r["moved_mod"]

    def test_blocking_quality_invariants(self, spark):
        import itertools

        from bella_domify_spark.ops.dedup import blocking_quality

        stream = [f"w{i % 13}" for i in range(40)]
        texts = {i: " ".join(stream[i:i + 8] + [f"u{i}"])
                 for i in range(20)}

        def shingles(t):
            w = t.split()
            return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}

        n_true = sum(
            1 for a, b in itertools.combinations(sorted(texts), 2)
            if (lambda sa, sb: len(sa & sb)
                >= 0.2 * (len(sa) + len(sb) - len(sa & sb)))
               (shingles(texts[a]), shingles(texts[b])))
        df = spark.createDataFrame(list(texts.items()),
                                   "doc_id long, text string")
        r = blocking_quality(df).collect()[0]
        assert r["n_docs"] == 20
        assert r["n_true"] == n_true > 0
        assert 0 <= r["n_found"] <= min(r["n_true"], r["n_cand"])
        assert r["pc_e6"] == r["n_found"] * 1_000_000 // r["n_true"]
        allp = 20 * 19 // 2
        assert r["rr_e6"] == (allp - r["n_cand"]) * 1_000_000 // allp

    def test_pareto_users_hand_counted(self, spark):
        from datetime import datetime

        from bella_domify_spark.ops.analyze import pareto_users

        t = datetime(2024, 1, 1)
        rows = ([(t, 1, 1.0)] * 3            # u1: (3, 3e6) frontier
                + [(t, 2, 5.0)] * 2          # u2: (2, 10e6) frontier
                + [(t, 3, 0.5)] * 3          # u3: dominated by u1
                + [(t, 4, 20.0)]             # u4: (1, 20e6) frontier
                + [(t, 5, 5.0)] * 2          # u5: twin of u2 -> kept
                + [(t, 6, 3.0)])             # u6: dominated by u4
        df = spark.createDataFrame(
            rows, "ts timestamp, user_id long, value double")
        got = {r["user_id"]: (r["n_events"], r["val_e6"])
               for r in pareto_users(df).collect()}
        assert got == {1: (3, 3_000_000), 2: (2, 10_000_000),
                       4: (1, 20_000_000), 5: (2, 10_000_000)}

    def test_type_affinity_hand_counted(self, spark):
        from bella_domify_spark.ops.analyze import type_affinity

        # baskets: u1 {a,b}, u2 {a,b,c}, u3 {a}, u4 {d}; N = 4
        rows = [(1, "a"), (1, "b"), (1, "a"),
                (2, "a"), (2, "b"), (2, "c"),
                (3, "a"), (4, "d")]
        df = spark.createDataFrame(rows, "user_id long, event_type string")
        got = {(r["type_a"], r["type_b"]):
               (r["n_ab"], r["n_a"], r["n_b"], r["support_e6"],
                r["lift_e6"])
               for r in type_affinity(df).collect()}
        # lift(a,b) = 2·4/(3·2) = 4/3; lift(b,c) = 1·4/(2·1) = 2
        assert got == {("a", "b"): (2, 3, 2, 500_000, 1_333_333),
                       ("a", "c"): (1, 3, 1, 250_000, 1_333_333),
                       ("b", "c"): (1, 2, 1, 250_000, 2_000_000)}

    def test_shard_balance_hand_counted(self, spark):
        import hashlib

        from bella_domify_spark.ops.lakehouse import shard_balance

        rows = [(i, 10 * (i + 1)) for i in range(12)]
        df = spark.createDataFrame(rows, "doc_id long, n_chars long")
        exp = {}
        for i, w in rows:
            s = int(hashlib.md5(str(i).encode()).hexdigest()[:15],
                    16) % 32
            d, b = exp.get(s, (0, 0))
            exp[s] = (d + 1, b + w)
        got = {r["shard"]: (r["n_docs"], r["n_bytes"])
               for r in shard_balance(df).collect()}
        assert got == exp
        mx = max(b for _, b in exp.values())
        tot = sum(b for _, b in exp.values())
        r0 = shard_balance(df).collect()[0]
        assert r0["skew_e6"] == mx * len(exp) * 1_000_000 // tot

    def test_ivf_balance_sums_to_corpus(self, spark):
        from bella_domify_spark.ops.ann import ivf_balance, kmeans_assign

        df = spark.createDataFrame(
            [(i, [float(i % 4), float(i // 4)]) for i in range(16)],
            "vec_id long, embedding array<double>")
        rows = ivf_balance(df, n_clusters=4).collect()
        assert sum(r["n_vecs"] for r in rows) == 16
        # shares sum to ~1e6 and imbalance = share·k exactly
        for r in rows:
            assert r["imb_e6"] == r["n_vecs"] * len(rows) * 10**6 // 16
        # cluster ids match the assignment op's own output
        a = {r["cluster_id"] for r in
             kmeans_assign(df, n_clusters=4).collect()}
        assert {r["cluster_id"] for r in rows} == a

    def test_weekday_profile_hand_counted(self, spark):
        from datetime import datetime, timedelta

        from bella_domify_spark.ops.temporal import weekday_profile

        sun = datetime(2024, 1, 7)          # a Sunday -> dow 0
        rows = [(sun, "a")] * 7             # all mass in one cell
        rows += [(sun + timedelta(days=d), "b") for d in range(7)]
        df = spark.createDataFrame(rows, "ts timestamp, event_type string")
        got = {(r["event_type"], r["dow"]): (r["c"], r["share_e6"],
                                             r["chi2_e6"])
               for r in weekday_profile(df).collect()}
        # a: chi2 = (7-1)²/1 + 6·1 = 42 (absent cells count!)
        assert got[("a", 0)] == (7, 1_000_000, 42_000_000)
        # b: perfectly uniform -> chi2 0, one event per dow
        for d in range(7):
            assert got[("b", d)] == (1, 142_857, 0)

    def test_conversion_lag_hand_counted(self, spark):
        from datetime import datetime

        from bella_domify_spark.ops.temporal import conversion_lag

        t = lambda s: datetime(2024, 1, 1, 0, 0, s)
        rows = [(1, t(0), "view"), (1, t(10), "purchase"),
                (2, t(0), "view"), (2, t(5), "purchase"),
                (3, t(0), "view"),                  # never converts
                (4, t(0), "purchase"),              # never exposed
                (5, t(5), "view"), (5, t(0), "purchase")]  # p before v
        df = spark.createDataFrame(
            rows, "user_id long, ts timestamp, event_type string")
        r = conversion_lag(df).collect()[0]
        assert (r["n_exposed"], r["n_converted"]) == (4, 2)
        assert r["conv_rate_e6"] == 500_000
        assert r["med_lag_us"] == 5_000_000    # lower median of {5s,10s}
        assert r["p90_lag_us"] == 10_000_000   # rank ceil(0.9·2) = 2

    def test_run_resumable_custom_bucket_expr_resumes(self, spark, tmp_path):
        import hashlib

        import pyspark.sql.functions as F

        from bella_domify_spark.engine.manifest import run_resumable
        from bella_domify_spark.ops.hashfamily import md5_int60_col

        df = spark.createDataFrame(
            [(str(i), 0, f"text {i}") for i in range(20)],
            "conv_id string, turn_idx int, text string")
        bexpr = F.pmod(md5_int60_col(F.concat_ws(":", F.col("conv_id"),
                                                 F.col("turn_idx"))),
                       F.lit(4))
        out = str(tmp_path / "mstats")
        first = run_resumable(df, out, n_buckets=4, bucket_expr=bexpr)
        second = run_resumable(df, out, n_buckets=4, bucket_expr=bexpr)
        assert first["rows"] == 20 and second["buckets_written"] == 0
        # routing matches the md5 recipe exactly
        m = spark.read.json(f"{out}/_manifests/bucket-*.json")
        got = {r["bucket"]: r["rows"] for r in m.collect()}
        exp = {}
        for i in range(20):
            b = int(hashlib.md5(f"{i}:0".encode()).hexdigest()[:15],
                    16) % 4
            exp[b] = exp.get(b, 0) + 1
        assert got == exp

    def test_lookup_refuses_custom_bucket_layout(self, spark, tmp_path):
        import pyspark.sql.functions as F
        import pytest

        from bella_domify_spark.engine.manifest import (lookup_turn,
                                                        run_resumable)
        from bella_domify_spark.ops.hashfamily import md5_int60_col

        df = spark.createDataFrame(
            [(str(i), 0, f"text {i}") for i in range(8)],
            "conv_id string, turn_idx int, text string")
        bexpr = F.pmod(md5_int60_col(F.col("conv_id")), F.lit(4))
        out = str(tmp_path / "custom")
        run_resumable(df, out, n_buckets=4, bucket_expr=bexpr)
        with pytest.raises(ValueError, match="bucket_expr"):
            lookup_turn(spark, out, "3", 0)
        # and a default-hash resume against the custom layout fails loud
        with pytest.raises(ValueError, match="mismatch"):
            run_resumable(df, out, n_buckets=4)

    def test_tool_latency_tail_hand_counted(self, spark):
        from datetime import datetime

        from bella_domify_spark.ops.transcript import tool_latency_tail

        rows = []
        for i in range(1, 11):          # gaps 1s..10s on one tool
            t0 = datetime(2024, 1, 1, i)
            rows += [(f"c{i}", 0, "user", "", t0),
                     (f"c{i}", 1, "tool", "tool_x",
                      t0.replace(second=i))]
        df = spark.createDataFrame(
            rows, "conv_id string, turn_idx int, role string,"
                  " tool string, ts timestamp")
        r = tool_latency_tail(df).collect()
        assert len(r) == 1
        assert (r[0]["tool"], r[0]["n_calls"]) == ("tool_x", 10)
        assert r[0]["p50_us"] == 5_000_000      # rank (10+1) div 2 = 5
        assert r[0]["p95_us"] == 10_000_000     # rank ceil(9.5) = 10
        assert r[0]["p99_us"] == 10_000_000

    def test_bottomk_estimate_exact_on_identical_docs(self, spark):
        from bella_domify_spark.ops.sketches import bottomk_estimate

        # identical docs: sketches identical -> est = k_eff/k_eff = 1e6,
        # true = 1e6, err 0; the near pair estimates within 1/k
        base = " ".join(f"w{i}" for i in range(40))
        df = spark.createDataFrame(
            [(1, base), (2, base), (3, base + " extra tail words here")],
            "doc_id long, text string")
        got = {(r["id_a"], r["id_b"]): (r["true_e6"], r["est_e6"],
                                        r["err_e6"])
               for r in bottomk_estimate(df).collect()}
        assert got[(1, 2)] == (1_000_000, 1_000_000, 0)
        for pair in ((1, 3), (2, 3)):
            true_e6, est_e6, err = got[pair]
            assert true_e6 < 1_000_000
            assert err == abs(est_e6 - true_e6) < 200_000  # within ~k/32

    def test_postings_compression_hand_counted(self, spark):
        from bella_domify_spark.ops.retrieval import postings_compression

        # x in docs 1,2,3 (gaps 2,1,1 -> 3 B); y in 1,300 (gaps 2,299 ->
        # 1+2 B; bin(299) is 9 bits); z in 3 only (gap 4 -> 1 B)
        df = spark.createDataFrame(
            [(1, "x y"), (2, "x"), (3, "x z"), (300, "y")],
            "doc_id long, text string")
        got = {r["df_bucket"]: (r["n_terms"], r["n_postings"],
                                r["raw_bytes"], r["varint_bytes"],
                                r["ratio_e6"])
               for r in postings_compression(df).collect()}
        assert got == {10: (2, 5, 40, 6, 150_000),
                       1: (1, 1, 8, 1, 125_000)}

    def test_apportion_sample_sums_exactly(self, spark):
        from bella_domify_spark.ops.curate import apportion_sample

        rows = ([(i, "a") for i in range(5)] + [(10 + i, "b")
                                                for i in range(4)]
                + [(20, "c")])
        df = spark.createDataFrame(rows, "doc_id long, source string")
        got = {r["source"]: (r["base_quota"], r["extra"], r["quota"])
               for r in apportion_sample(df, n_target=7).collect()}
        # q = 7·n/10: a 3 rem 5, b 2 rem 8, c 0 rem 7; deficit 2 -> b, c
        assert got == {"a": (3, 0, 3), "b": (2, 1, 3), "c": (0, 1, 1)}
        assert sum(q for _, _, q in got.values()) == 7

    def test_assortativity_star_is_minus_one(self, spark):
        from bella_domify_spark.ops.graph import assortativity

        star = spark.createDataFrame([(1, 2), (1, 3), (1, 4)],
                                     "id_a long, id_b long")
        r = assortativity(star).collect()
        assert len(r) == 1
        assert (r[0]["n_edges"], r[0]["n_nodes"]) == (3, 4)
        assert r[0]["r_e6"] == -1_000_000   # perfect disassortativity

    def test_assortativity_regular_graph_is_degenerate(self, spark):
        from bella_domify_spark.ops.graph import assortativity

        tri = spark.createDataFrame([(1, 2), (2, 3), (1, 3)],
                                    "id_a long, id_b long")
        assert assortativity(tri).count() == 0

    def test_cluster_label_mi_perfect_separation(self, spark):
        from bella_domify_spark.ops.ann import cluster_label_mi

        # two tight groups, labels match -> MI = ln 2 exactly (e9 grid)
        df = spark.createDataFrame(
            [(1, [0.0, 0.0], "a"), (2, [10.0, 10.0], "b"),
             (3, [0.1, 0.0], "a"), (4, [10.0, 10.1], "b")],
            "vec_id long, embedding array<double>, label string")
        rows = cluster_label_mi(df, n_clusters=2).collect()
        assert len(rows) == 2                    # diagonal cells only
        assert all(r["c_xy"] == 2 for r in rows)
        assert all(r["mi_e9"] == 693_147_180 for r in rows)
        assert all(r["pmi_e9"] == 693_147_180 for r in rows)

    def test_vocab_delta_hand_counted(self, spark):
        from bella_domify_spark.ops.textstats import vocab_delta

        df = spark.createDataFrame(
            [(2, "x x y"), (1, "x z z z")], "doc_id long, text string")
        got = [(r["rnk"], r["term"], r["c_a"], r["c_b"], r["gap_e9"])
               for r in vocab_delta(df).orderBy("rnk").collect()]
        assert got == [(1, "z", 0, 3, 750_000_000),
                       (2, "x", 2, 1, 416_666_666),
                       (3, "y", 1, 0, 333_333_333)]

    def test_conformal_threshold_matches_python_mirror(self, spark):
        from bella_domify_spark.ops.classifier import (conformal_threshold,
                                                       quality_classifier)

        rows = [(i, "en" if i % 3 else "fr",
                 f"w{i} common words here doc {i} tail t{i % 7}")
                for i in range(1, 61)]
        df = spark.createDataFrame(rows,
                                   "doc_id long, lang string, text string")
        m = {r["doc_id"]: r["margin"]
             for r in quality_classifier(df).collect()}
        en = [i for i, l, _ in rows if l == "en"]
        cal = sorted(m[i] for i in en if i % 2 == 0)
        test = [m[i] for i in en if i % 2 == 1]
        k = (len(cal) + 1) // 10
        assert k >= 1
        tau = cal[k - 1]
        cov = sum(1 for x in test if x >= tau)
        r = conformal_threshold(df).collect()
        assert len(r) == 1
        assert (r[0]["n_cal"], r[0]["n_test"]) == (len(cal), len(test))
        assert r[0]["tau_margin"] == tau
        assert r[0]["n_covered"] == cov
        assert r[0]["coverage_e6"] == cov * 1_000_000 // len(test)

    def test_survival_curve_hand_counted(self, spark):
        import math
        from datetime import datetime, timedelta

        from bella_domify_spark.ops.temporal import survival_curve

        d0 = datetime(2024, 1, 1)

        def ev(uid, *days):
            return [(uid, d0 + timedelta(days=d)) for d in days]

        # u2 runs to the corpus max -> censored; u3 span 0, u4 120h,
        # u1 240h are uncensored deaths
        rows = (ev(1, 0, 10) + ev(2, 0, 15, 30) + ev(3, 0) + ev(4, 0, 5))
        df = spark.createDataFrame(rows, "user_id long, ts timestamp")
        got = [(r["t_hours"], r["n_risk"], r["d"], r["c"], r["haz_e9"],
                r["ln_surv_e9"]) for r in
               survival_curve(df).orderBy("t_hours").collect()]
        ln = lambda num, den: math.floor(math.log(num / den) * 1e9)
        assert got == [
            (0, 4, 1, 0, 250_000_000, ln(3, 4)),
            (120, 3, 1, 0, 333_333_333, ln(3, 4) + ln(2, 3)),
            (240, 2, 1, 0, 500_000_000,
             ln(3, 4) + ln(2, 3) + ln(1, 2)),
        ]

    def test_trimmed_mean_hand_counted(self, spark):
        from bella_domify_spark.ops.analyze import trimmed_mean

        rows = ([(i, "s", i) for i in range(1, 11)]
                + [(100 + i, "w", v)
                   for i, v in enumerate([1, 2, 3, 4, 5, 6, 7, 8, 9,
                                          1000])])
        df = spark.createDataFrame(rows,
                                   "doc_id long, source string,"
                                   " n_chars long")
        got = {r["source"]: (r["n_docs"], r["mean_all"], r["n_kept"],
                             r["mean_trimmed"])
               for r in trimmed_mean(df).collect()}
        # the whale source: raw mean 104, trimmed mean 5
        assert got == {"s": (10, 5, 8, 5), "w": (10, 104, 8, 5)}

    def test_spearman_length_quality_mirror(self, spark):
        from bella_domify_spark.ops.classifier import (
            quality_classifier, spearman_length_quality)

        rows = [(i, f"doc {i} words w{i % 5} tail " + "pad " * i, 0)
                for i in range(1, 13)]
        df = spark.createDataFrame(
            [(i, t, len(t)) for i, t, _ in rows],
            "doc_id long, text string, n_chars long")
        m = {r["doc_id"]: r["margin"]
             for r in quality_classifier(df).collect()}
        xs = sorted((len(t), i) for i, t, _ in rows)
        ms = sorted((m[i], i) for i, t, _ in rows)
        rx = {i: k + 1 for k, (_, i) in enumerate(xs)}
        rm = {i: k + 1 for k, (_, i) in enumerate(ms)}
        n = len(rows)
        d2 = sum((rx[i] - rm[i]) ** 2 for i in rx)
        rho = (n * (n * n - 1) - 6 * d2) * 10**6 // (n * (n * n - 1))
        r = spearman_length_quality(df).collect()[0]
        assert (r["n_docs"], r["sum_d2"], r["rho_e6"]) == (n, d2, rho)

    def test_dedup_savings_hand_counted(self, spark):
        from bella_domify_spark.ops.dedup import dedup_savings

        t = "a b c d e"
        df = spark.createDataFrame(
            [(1, t, 9), (2, t, 9), (3, "a b c d q", 9),
             (4, "zzz yyy xxx www vvv", 19)],
            "doc_id long, text string, n_chars long")
        got = {r["tier"]: (r["n_groups"], r["n_docs_grouped"],
                           r["bytes_saved"], r["save_ratio_e6"])
               for r in dedup_savings(df).collect()}
        # exact: one md5 group of 2, saves 9 of 46 corpus bytes;
        # cluster {1,2,3} keeps canonical 1, saves 18
        assert got == {"exact": (1, 2, 9, 9 * 10**6 // 46),
                       "cluster": (1, 3, 18, 18 * 10**6 // 46)}

    def test_source_jsd_hand_counted(self, spark):
        import math

        from bella_domify_spark.ops.textstats import LN2_E12, source_jsd

        assert LN2_E12 == math.floor(math.log(2.0) * 1e12)
        # A and B identical distributions -> JSD 0; A and C share only
        # "x" (A: x 1/2, C: x 1/3) -> hand-mirror the quantized chain
        df = spark.createDataFrame(
            [(1, "A", "x y"), (2, "B", "x y"), (3, "C", "x z z")],
            "doc_id long, source string, text string")
        got = {(r["src_a"], r["src_b"]): (r["n_shared"], r["jsd_e12"])
               for r in source_jsd(df).collect()}
        assert got[("A", "B")] == (2, 0)

        def jsd(ca, ta, cb, tb, shared_mass):
            p, q = ca / ta, cb / tb
            s = (math.floor(p * math.log(2 * p / (p + q)) * 1e12)
                 + math.floor(q * math.log(2 * q / (p + q)) * 1e12))
            ua, ub = shared_mass
            return (s + (ta - ua) * LN2_E12 // ta
                    + (tb - ub) * LN2_E12 // tb) // 2

        expected_ac = jsd(1, 2, 1, 3, (1, 1))
        assert got[("A", "C")] == (1, expected_ac)
        assert got[("B", "C")] == (1, expected_ac)
        assert 0 < expected_ac < LN2_E12


class TestStopShingleCap:
    # 3-gram shingles; "x y z" occurs in three documents, so a cap of 2
    # makes it a stop-shingle. Docs 0 and 1 also share "p q r" and
    # "q r s"; doc 2 shares only "x y z" with them.
    ROWS = [(0, "p q r s x y z"),        # 5 shingles
            (1, "p q r s t x y z"),      # 6 shingles
            (2, "x y z m n o")]          # 4 shingles

    @pytest.fixture(scope="class")
    def capdocs(self, spark):
        return spark.createDataFrame(self.ROWS, ["doc_id", "text"])

    def test_jaccard_pairs_drop_the_stop_shingle(self, capdocs):
        from bella_domify_spark.ops.dedup import jaccard_pairs

        def pairs(cap):
            return {(r["id_a"], r["id_b"]): r["jaccard"]
                    for r in jaccard_pairs(capdocs, threshold=0.0,
                                           max_shingle_freq=cap).collect()}

        # capped: only (0, 1) survives, with n_common 2 over the
        # uncapped set sizes (5 + 6 - 2)
        assert pairs(2) == {(0, 1): 2 / 9}
        assert pairs(3) == {(0, 1): 3 / 8, (0, 2): 1 / 8, (1, 2): 1 / 9}

    def test_containment_pairs_drop_the_stop_shingle(self, capdocs):
        from bella_domify_spark.ops.dedup import containment_pairs

        def pairs(cap):
            return {(r["id_a"], r["id_b"]): (r["n_common"], r["n_a"],
                                             r["containment"])
                    for r in containment_pairs(
                        capdocs, threshold=0.0, max_shingle_freq=cap,
                        min_shingles=1).collect()}

        assert pairs(2) == {(0, 1): (2, 5, 2 / 5), (1, 0): (2, 6, 2 / 6)}
        got = pairs(3)
        assert got[(0, 1)] == (3, 5, 3 / 5)
        assert got[(2, 0)] == (1, 4, 1 / 4)

    def test_cooccurrence_pairs_drop_the_stop_shingle(self, capdocs):
        from bella_domify_spark.ops.dedup import cooccurrence_pairs

        def pairs(cap):
            return {(r["id_a"], r["id_b"]): r["n_common"]
                    for r in cooccurrence_pairs(
                        capdocs, min_common=1,
                        max_shingle_freq=cap).collect()}

        assert pairs(2) == {(0, 1): 2}
        assert pairs(3) == {(0, 1): 3, (0, 2): 1, (1, 2): 1}
