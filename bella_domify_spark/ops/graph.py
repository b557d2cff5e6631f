"""Distributed connected components over a near-duplicate pair list.

Two interchangeable algorithms, both pure DataFrame ops (no RDDs, no
driver-side graph):

- ``label_prop`` — min-label propagation to fixpoint. One shuffle per
  round over (edges ∪ labels) keyed by node id; rounds = component
  diameter. The right default for near-dup graphs, whose components are
  short chains.
- ``two_star`` — alternating large-star / small-star edge rewriting
  (Kiveris et al., "Connected Components in MapReduce and Beyond",
  SoCC'14). Converges in O(log n) rounds regardless of diameter, at the
  cost of two grouped shuffles per round; the escape hatch when a
  pathological chain blows past ``label_prop``'s round budget.

Both return ``(node, canonical_id, cluster_size)`` for every node that
appears in the edge list; canonical = min node id per component.

Scale notes (100 TB): the input is the *pair* output of a candidate
generator (LSH bands, simhash chunks, hyperplane buckets) — orders of
magnitude smaller than the corpus. Every round shuffles only edges +
labels keyed by node id, broadcast-free and skew-tolerant (messages group
by node, not by cluster, so a giant cluster salts naturally). Each
round's frontier is an eager checkpoint taken through ``ops.pins.Pins``,
which keeps the plan one round deep and releases the round it replaced;
the result is materialized through the same scope, so once an op returns
nothing but its result stays pinned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from bella_domify_spark.ops.pins import Pins


def _symmetrize(pairs: DataFrame, src: str, dst: str) -> DataFrame:
    return (pairs.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
            .unionAll(pairs.select(F.col(dst).alias("src"),
                                   F.col(src).alias("dst"))))


def _finish(labels: DataFrame, node_out: str, pins: Pins) -> DataFrame:
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (labels.join(sizes, "label")
            .select(F.col("node").alias(node_out),
                    F.col("label").alias("canonical_id"),
                    "cluster_size")
            .transform(pins.result))


def _label_prop(sym: DataFrame, max_iter: int, pins: Pins) -> DataFrame:
    """Min-label propagation; returns (node, label) at fixpoint or raises."""
    labels = (sym.select(F.col("src").alias("node")).distinct()
              .withColumn("label", F.col("node"))
              .transform(pins.materialize))
    for _ in range(max_iter):
        msgs = (sym.join(labels, sym.src == labels.node)
                .select(F.col("dst").alias("node"), F.col("label")))
        # eager checkpoint (not persist): truncates the logical plan
        # so per-round analysis cost stays constant across iterations
        new = (labels.unionAll(msgs).groupBy("node")
               .agg(F.min("label").alias("label"))
               .transform(pins.materialize))
        changed = (new.alias("n").join(labels.alias("o"), "node")
                   .filter(F.col("n.label") != F.col("o.label"))
                   .limit(1).count())
        pins.release(labels)
        labels = new
        if changed == 0:
            return labels
    # silently-split clusters are wrong output; fail loudly instead
    raise RuntimeError(
        f"connected_components(label_prop) did not converge in {max_iter} "
        "rounds — component diameter exceeds max_iter; raise it or use "
        "algorithm='two_star'")


def _two_star(sym: DataFrame, max_iter: int, pins: Pins) -> DataFrame:
    """Large-star/small-star alternation; returns (node, label) at fixpoint.

    large-star: per node u over its full neighborhood N(u), connect every
    strictly-larger neighbor to m = min(N(u) ∪ {u}).
    small-star: orient edges (big, small), then per node u over its ≤
    neighbors, connect them and u to their min.
    The edge set monotonically approaches a forest of stars rooted at each
    component's min; fixpoint = edge set unchanged.
    """
    # each round's output is eagerly checkpointed: unlike persist, this
    # truncates the *logical* plan too, so Catalyst analysis cost stays
    # constant per round instead of compounding (the classic
    # iterative-DataFrame blowup — measured seconds-per-round growth on a
    # 12-edge graph without it)
    edges = (sym.filter(F.col("src") != F.col("dst"))
             .select(F.greatest("src", "dst").alias("src"),
                     F.least("src", "dst").alias("dst"))
             .distinct().transform(pins.materialize))

    for _ in range(max_iter):
        # ---- large-star ----
        both = edges.unionAll(edges.select(F.col("dst").alias("src"),
                                           F.col("src").alias("dst")))
        m = (both.groupBy("src")
             .agg(F.least(F.min("dst"), F.first("src")).alias("m")))
        ls = (both.join(m, "src")
              .filter(F.col("dst") > F.col("src"))
              .select(F.col("dst").alias("src"), F.col("m").alias("dst")))
        # keep (u, m) so u itself stays attached to its component min
        ls = ls.unionAll(m.select("src", F.col("m").alias("dst")))
        # ---- small-star ----
        oriented = ls.select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst")).distinct()
        m2 = (oriented.groupBy("src")
              .agg(F.least(F.min("dst"), F.first("src")).alias("m")))
        ss = (oriented.join(m2, "src")
              .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
              .unionAll(m2.select("src", F.col("m").alias("dst"))))
        new = (ss.filter(F.col("src") != F.col("dst"))
               .select(F.greatest("src", "dst").alias("src"),
                       F.least("src", "dst").alias("dst"))
               .distinct().transform(pins.materialize))
        changed = (new.exceptAll(edges).unionAll(edges.exceptAll(new))
                   .limit(1).count())
        pins.release(edges)
        edges = new
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components(two_star) did not converge in {max_iter} "
            "rounds")

    # stars: every non-root points at its root; roots label themselves
    nodes = (edges.select(F.col("src").alias("node"))
             .unionAll(edges.select(F.col("dst").alias("node"))).distinct())
    root_of = edges.groupBy("src").agg(F.min("dst").alias("label"))
    return (nodes.join(root_of, nodes.node == root_of.src, "left")
            .select("node", F.coalesce("label", "node").alias("label"))
            .transform(pins.materialize))


def connected_components(pairs: DataFrame, src: str = "id_a",
                         dst: str = "id_b", node_out: str = "doc_id",
                         algorithm: str = "label_prop",
                         max_iter: int = 25,
                         checkpoint: str = "local") -> DataFrame:
    """Cluster an undirected pair list into components: ``(node_out,
    canonical_id, cluster_size)`` for every node with at least one edge.

    ``pairs`` is any near-dup candidate output (jaccard_pairs,
    simhash_near_dups, embedding_near_dups, minhash_lsh_pairs). See module
    docstring for the algorithm trade-off, and ``pins.materialize`` for the
    ``checkpoint`` mode ("local" default; "reliable" uses the cluster
    checkpoint dir and survives executor loss on long loops)."""
    with Pins(checkpoint) as p:
        sym = p.pin(_symmetrize(pairs, src, dst))
        if algorithm == "label_prop":
            labels = _label_prop(sym, max_iter, p)
        elif algorithm == "two_star":
            labels = _two_star(sym, max_iter, p)
        else:
            raise ValueError(f"unknown algorithm {algorithm!r}")
        return _finish(labels, node_out, p)


def pagerank(pairs: DataFrame, nodes: DataFrame,
             node_col: str = "doc_id", iters: int = 3,
             scale: int = 10 ** 12) -> DataFrame:
    """Integer-exact PageRank over the undirected near-duplicate graph —
    the canonical-copy chooser: within a duplicate cluster, the highest
    rank is the most central copy, a better keep-policy than min-id when
    duplicates differ in quality.

    Fixed ``iters`` power iterations with damping 17/20 (= 0.85 as an
    exact rational), all arithmetic BIGINT on a ``scale`` grid:
    r0 = scale div N; r' = (3*scale div 20) div N
    + 17 * sum_in(r_u div deg_u) div 20. Truncating integer division is
    identical in Spark (``div``) and DuckDB (``//``) for nonnegative
    operands, so the result is bit-identical to the oracle at any SF.
    Singleton documents (no near-dup edges) keep the base rank; dangling
    mass is NOT redistributed (deliberate, documented — the graph is
    symmetric so every edge endpoint has deg >= 1, and singletons'
    leaked mass only shifts all ranks by a shared constant).

    Scale notes (100 TB): the edge list is candidate-generator output
    (corpus-sized at worst, usually much smaller). Each iteration is one
    shuffle of edges+ranks keyed by node (sort/hash join) and one
    map-side-combined sum keyed by dst; ranks are node-sized and never
    broadcast or collected. Plan depth is linear in the fixed iteration
    count (localCheckpoint is the deep-iteration escape hatch, as in
    connected_components).
    """
    sym = _symmetrize(pairs, "id_a", "id_b")
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # persist: the edge list's lineage is the whole candidate-generator
    # DAG (shingle explode + self-join for the jaccard edges); without
    # pinning it, every iteration's join AND the degree table re-run that
    # DAG (~iters+2 recomputes). Both pins go once the result is
    # materialized.
    with Pins() as p:
        edges = p.pin(sym.join(deg, "src"))
        nn = nodes.select(F.col(node_col).alias("node"))
        nt = nn.agg(F.count(F.lit(1)).alias("n"))
        base = p.pin(nn.crossJoin(F.broadcast(nt)).select(
            "node",
            F.expr(f"({scale} div n) ").alias("r0"),
            F.expr(f"((3 * {scale}) div 20) div n").alias("base"),
        ))
        r = base.select("node", F.col("r0").alias("rank"))
        for _ in range(iters):
            contrib = (edges.join(r, edges["src"] == r["node"])
                            .select(F.col("dst"),
                                    F.expr("rank div deg").alias("m"))
                            .groupBy("dst").agg(F.sum("m").alias("c")))
            r = (base.join(contrib, base["node"] == contrib["dst"], "left")
                     .select(base["node"],
                             (F.col("base")
                              + F.expr("(17 * coalesce(c, 0L)) div 20"))
                             .alias("rank")))
        deg_only = edges.select("src", "deg").groupBy("src").agg(
            F.first("deg").alias("deg"))
        return p.result(
            r.join(deg_only, r["node"] == deg_only["src"], "left")
             .select(F.col("node").alias(node_col),
                     F.coalesce("deg", F.lit(0)).cast("long").alias("deg"),
                     F.col("rank").alias("rank_e12")))


def triangle_stats(pairs: DataFrame) -> DataFrame:
    """Triangle count + global clustering coefficient of the near-dup
    graph — cluster-cohesion evidence (chains of borderline pairs vs
    dense duplicate cliques score very differently).

    The degree-ordered orientation algorithm (Schank/Wagner "forward"):
    each undirected edge orients from the (degree, id)-smaller endpoint
    to the larger, so every wedge is generated exactly once at its
    lowest-ordered apex and each triangle is counted exactly once. The
    self-join that lists wedges is bounded by Σ out_deg² where
    out-degree is O(√m) under this orientation — the standard bound that
    makes distributed triangle counting feasible on skewed graphs (a
    celebrity node never becomes a wedge apex). Measured on the pinned
    Zipf-hub fuzz graph (tests/test_graph_rank.py TestZipfSkewGraph: one
    hub holding 150 of m=292 edges): naive Σ deg² = 23,830 vs oriented
    Σ out_deg² = 576 (41×), max out-degree 3 ≤ √(2m) ≈ 24, hub
    out-degree 0.

    Output (one row): n_edges, n_wedges (undirected length-2 paths,
    Σ C(deg,2)), n_triangles, global_cc_e6 = floor(3T / n_wedges · 1e6).
    All integer except the final floor-quantized ratio.

    PRECONDITION: node ids < 2^32. The (deg, id) orientation key is
    bit-packed as deg·2^32 + id for a single-BIGINT comparison; an id
    ≥ 2^32 would alias into the degree field, making the key
    non-injective and silently breaking the strict k1 < k2 wedge dedup
    (both engines would agree, so the oracle can't catch it). doc_ids in
    this pipeline are content-hash-mod-bounded well below that; for an
    open-world id space swap the pack for a two-column (deg, id)
    struct comparison at ~15% extra shuffle width.
    """
    # deliberately NOT persisted: caching the pair list here LOSES —
    # reads from an InMemoryRelation carry no runtime exchange stats, so
    # AQE stops broadcast-converting the tiny oriented-edge joins and
    # they fall back to static 64-partition sort-merge (measured
    # back-to-back at sf0.1: cached 9.09 s vs recomputed 6.75 s).
    # Opposite call from pagerank, where the per-iteration loop amplifies
    # the recompute and the joins are node-table-sized anyway.
    e = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    sym = e.select(F.col("a").alias("src"), F.col("b").alias("dst")) \
           .unionAll(e.select(F.col("b").alias("src"),
                              F.col("a").alias("dst")))
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # total-order orientation key: (deg, id) packed into one BIGINT
    k = deg.select(F.col("src").alias("v"),
                   (F.col("deg") * F.lit(1 << 32) + F.col("src"))
                   .alias("k"))
    ek = (e.join(k.select(F.col("v").alias("a"), F.col("k").alias("ka")),
                 "a")
           .join(k.select(F.col("v").alias("b"), F.col("k").alias("kb")),
                 "b"))
    oe = ek.select(
        F.when(F.col("ka") < F.col("kb"), F.col("a")).otherwise(F.col("b"))
         .alias("s"),
        F.when(F.col("ka") < F.col("kb"), F.col("b")).otherwise(F.col("a"))
         .alias("d"),
        F.when(F.col("ka") < F.col("kb"), F.col("kb")).otherwise(F.col("ka"))
         .alias("kd"))
    w1 = oe.select(F.col("s"), F.col("d").alias("d1"), F.col("kd").alias("k1"))
    w2 = oe.select(F.col("s"), F.col("d").alias("d2"), F.col("kd").alias("k2"))
    wedges = w1.join(w2, "s").filter(F.col("k1") < F.col("k2"))
    closing = oe.select(F.col("s").alias("d1"), F.col("d").alias("d2"))
    tri = wedges.join(closing, ["d1", "d2"]).agg(
        F.count(F.lit(1)).alias("n_triangles"))
    ne = e.agg(F.count(F.lit(1)).alias("n_edges"))
    nw = deg.agg(F.sum(F.expr("deg * (deg - 1) div 2")).alias("n_wedges"))
    return (ne.crossJoin(nw).crossJoin(tri).select(
        "n_edges", "n_wedges", "n_triangles",
        F.when(F.col("n_wedges") > 0,
               F.floor(3 * F.col("n_triangles").cast("double")
                       / F.col("n_wedges").cast("double") * 1e6))
         .otherwise(F.lit(0)).cast("long").alias("global_cc_e6")))


def link_prediction(pairs: DataFrame, max_center_deg: int = 1000,
                    min_common: int = 1) -> DataFrame:
    """Common-neighbor link prediction over the near-dup graph: for every
    NON-adjacent pair (a, b) sharing >= ``min_common`` neighbors, the
    shared-neighbor count, both degrees, and the neighborhood-Jaccard
    score floor(|N(a)∩N(b)| / |N(a)∪N(b)| · 1e9). On a duplication graph
    these are exactly the pairs a thresholded detector MISSED but
    transitivity implicates — the recall-repair list a curation pipeline
    reviews before closing dup clusters (connected_components closes them
    blindly; this ranks the evidence).

    Scale notes (100 TB): the wedge join is Σ deg(center)² — unbounded on
    hub nodes — so wedge CENTERS above ``max_center_deg`` are dropped
    (the standard hub cap: a node adjacent to everything certifies
    nothing about any particular pair). The cap is part of the contract
    and mirrored in the oracle; with it, the join is two hash joins on
    node id plus one map-side-combinable pair aggregate. The non-edge
    check is a LEFT ANTI join on the (already-shuffled-by) pair key.

    Output: (id_a, id_b, n_common, deg_a, deg_b, nb_jaccard_e9),
    id_a < id_b.
    """
    # deliberately NOT checkpointed (walk_centrality rationale: single
    # plan, Catalyst exchange reuse already computes the pair DAG once —
    # an eager localCheckpoint measured 8.3 → 10.2 s at sf0.1)
    e = pairs.select("id_a", "id_b")
    sym = _symmetrize(e, "id_a", "id_b")
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    centers = deg.filter(F.col("deg") <= max_center_deg) \
                 .select(F.col("src").alias("w"))
    nb = (sym.select(F.col("src").alias("w"), F.col("dst").alias("n"))
             .join(centers, "w"))
    x = nb.select("w", F.col("n").alias("id_a"))
    y = nb.select("w", F.col("n").alias("id_b"))
    cand = (x.join(y, "w")
             .filter(F.col("id_a") < F.col("id_b"))
             .groupBy("id_a", "id_b")
             .agg(F.count(F.lit(1)).alias("n_common"))
             .filter(F.col("n_common") >= min_common))
    non_edges = cand.join(e, ["id_a", "id_b"], "left_anti")
    return (non_edges
            .join(deg.select(F.col("src").alias("id_a"),
                             F.col("deg").alias("deg_a")), "id_a")
            .join(deg.select(F.col("src").alias("id_b"),
                             F.col("deg").alias("deg_b")), "id_b")
            .select("id_a", "id_b", "n_common", "deg_a", "deg_b",
                    F.floor(F.col("n_common").cast("double")
                            / (F.col("deg_a") + F.col("deg_b")
                               - F.col("n_common")).cast("double") * 1e9)
                     .cast("long").alias("nb_jaccard_e9")))


def walk_centrality(pairs: DataFrame, iters: int = 3) -> DataFrame:
    """Unnormalized power-iteration centrality: walks(v) = (Aᵏ·1)(v), the
    number of length-``iters`` walks ending at v over the symmetrized
    near-dup graph. Same ranking as eigenvector centrality after k
    iterations but with NO normalization step — the iterate stays an
    exact integer (a float 1/λ rescale would not hash across engines),
    and on a duplication graph the big-walk-count nodes are the template
    cores that PageRank also surfaces, at a third of its cost (no
    dangling-mass redistribution, no teleport arithmetic).

    Scale notes (100 TB): one groupBy-node shuffle per iteration
    (messages combine map-side exactly like pagerank's rank spread,
    graph.py:180-249); the iterate is node-sized, never collected.
    DECIMAL(38,0) accumulators — walk counts grow like deg^k, so int64
    (~9·10¹⁸) would overflow at hub degree ~2·10⁶ with k=3; decimal
    holds to ~10¹². Output: (id, walks) cast to BIGINT — the oracle
    transport is int64 (DuckDB decimals decay to float64 in pandas), so
    the OUTPUT contract is walks < 2^63 (hub degree ≲ 2·10⁶ at k=3;
    ANSI mode throws rather than wraps if exceeded — raise the cast to
    decimal output and re-pin the oracle if a corpus ever hits that).
    """
    # deliberately NOT checkpointed: this is ONE final plan, so Catalyst
    # reuses the pair-generator exchange across the iteration joins and
    # AQE keeps its runtime stats; an eager localCheckpoint was measured
    # SLOWER at sf0.1 (3.1 → 4.9 s) — the kcore/lpa loops differ because
    # their per-round eager checkpoints split execution into many actions
    sym = _symmetrize(pairs.select("id_a", "id_b"), "id_a", "id_b")
    x = (sym.groupBy(F.col("dst").alias("id"))
         .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("s")))
    for _ in range(iters - 1):
        x = (sym.join(x, sym["src"] == x["id"])
             .groupBy(sym["dst"].alias("id"))
             .agg(F.sum("s").cast("decimal(38,0)").alias("s")))
    return x.select("id", F.col("s").cast("long").alias("walks"))


def attribute_modularity(pairs: DataFrame, labels: DataFrame,
                         id_col: str = "id",
                         label_col: str = "lab") -> DataFrame:
    """Newman modularity of an ATTRIBUTE partition over the near-dup
    graph — the curation diagnostic "is duplication mostly intra-X?"
    (X = source, language, shard …): per label c,
    ``q_term = e_c/m − (d_c/2m)²`` where e_c = intra-label edges, d_c =
    summed degree of c's nodes, m = total edges; Q = Σ q_term. Q near 0
    means dup pairs ignore the attribute (cross-source contamination —
    the expensive kind); Q near 1 means dedup can run per-partition.

    Exactness: e_c, d_c, m are exact BIGINTs; q_term is one fixed-shape
    IEEE double expression floor-e9 quantized (the PSI convention).

    Scale notes (100 TB): two broadcast-label joins on the edge list, a
    degree aggregate, and label-count-sized frames after — the 1-row m
    aggregate rides a broadcast crossJoin (cuped_adjusted precedent).
    Nodes without a label drop (both engines agree); an edge counts
    intra only when BOTH endpoints carry the same label.

    Output: (lab, n_nodes, e_intra, d_sum, q_term_e9).
    """
    e = pairs.select("id_a", "id_b")
    lab = labels.select(F.col(id_col).alias("_lid"),
                        F.col(label_col).alias("lab"))
    m = e.agg(F.count(F.lit(1)).alias("m"))
    deg = (_symmetrize(e, "id_a", "id_b")
           .groupBy("src").agg(F.count(F.lit(1)).alias("deg")))
    node_lab = deg.join(F.broadcast(lab), deg["src"] == lab["_lid"])
    per_lab = (node_lab.groupBy("lab")
               .agg(F.count(F.lit(1)).alias("n_nodes"),
                    F.sum("deg").alias("d_sum")))
    la = lab.select(F.col("_lid").alias("id_a"), F.col("lab").alias("la"))
    lb = lab.select(F.col("_lid").alias("id_b"), F.col("lab").alias("lb"))
    intra = (e.join(F.broadcast(la), "id_a").join(F.broadcast(lb), "id_b")
             .filter(F.col("la") == F.col("lb"))
             .groupBy(F.col("la").alias("lab"))
             .agg(F.count(F.lit(1)).alias("e_intra")))
    j = (per_lab.join(intra, "lab", "left")
         .crossJoin(F.broadcast(m)))
    ec = F.coalesce(F.col("e_intra"), F.lit(0))
    md = F.col("m").cast("double")
    frac = F.col("d_sum").cast("double") / (F.lit(2.0) * md)
    q = ec.cast("double") / md - frac * frac
    return j.select("lab", F.col("n_nodes").cast("long").alias("n_nodes"),
                    ec.cast("long").alias("e_intra"),
                    F.col("d_sum").cast("long").alias("d_sum"),
                    F.floor(q * 1e9).cast("long").alias("q_term_e9"))


def modularity_oracle_sql() -> str:
    """DuckDB twin of attribute_modularity over the ``pairs`` CTE with
    documents.source as the label (the q_term operand order pinned
    beside the Spark code)."""
    return """
            msym AS (
                SELECT id_a AS src, id_b AS dst FROM pairs
                UNION ALL
                SELECT id_b, id_a FROM pairs
            ),
            mtot AS (SELECT count(*) AS m FROM pairs),
            mdeg AS (SELECT src, count(*) AS deg FROM msym GROUP BY src),
            mlab AS (SELECT doc_id AS lid, source AS lab FROM documents),
            mnl AS (
                SELECT l.lab, count(*) AS n_nodes, sum(d.deg) AS d_sum
                FROM mdeg d JOIN mlab l ON l.lid = d.src
                GROUP BY l.lab
            ),
            mintra AS (
                SELECT la.lab, count(*) AS e_intra
                FROM pairs p
                JOIN mlab la ON la.lid = p.id_a
                JOIN mlab lb ON lb.lid = p.id_b
                WHERE la.lab = lb.lab
                GROUP BY la.lab
            )
            SELECT n.lab, n.n_nodes::BIGINT AS n_nodes,
                   COALESCE(i.e_intra, 0)::BIGINT AS e_intra,
                   n.d_sum::BIGINT AS d_sum,
                   floor((COALESCE(i.e_intra, 0)::DOUBLE / t.m::DOUBLE
                          - (n.d_sum::DOUBLE / (2.0 * t.m::DOUBLE))
                            * (n.d_sum::DOUBLE / (2.0 * t.m::DOUBLE)))
                         * 1e9)::BIGINT AS q_term_e9
            FROM mnl n
            LEFT JOIN mintra i ON i.lab = n.lab
            CROSS JOIN mtot t"""


def kcore_peel(pairs: DataFrame, k: int = 2, rounds: int = 3) -> DataFrame:
    """k-core peeling over the near-dup graph: iteratively delete nodes
    whose degree in the surviving induced subgraph is < k. Survivors of
    the k-core are the DENSE duplication communities — template farms and
    mirror clusters that pairwise thresholds alone under-rank (a chain of
    borderline pairs dies in the first peel; a clique never does). The
    triangle/clustering readout (triangle_stats) scores cohesion
    globally; this names the cohesive nodes.

    ``rounds`` is a FIXED unrolled peel count so the DuckDB twin can
    mirror it CTE-for-CTE (recursive SQL cannot aggregate over its own
    recursive table); production loops the same body to fixpoint —
    at most max-degree rounds, in practice <10 on near-dup graphs —
    exactly like connected_components' bounded label-prop loop.

    Plan per round: two semijoin-shaped hash joins prune the edge list to
    the induced subgraph (both sides keyed on node id; the alive set
    SHRINKS monotonically so AQE broadcast-converts it once it fits),
    then one map-side-combining degree aggregate. The alive frontier is
    localCheckpoint-ed per round — same plan-truncation discipline as
    connected_components/pagerank.

    Output: (node_id, core_deg) for nodes surviving ``rounds`` peels,
    with their degree entering the final peel (>= k by construction).
    """
    e = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    # materialize the symmetrized edge list ONCE: its lineage is the whole
    # candidate-generator DAG (shingle explode + self-join), and every
    # round's eager checkpoint would otherwise re-run it from the scan —
    # rounds+1 recomputes of the most expensive subtree (guide §2.4:
    # remove repeated work feeding a loop). Measured at sf0.1:
    # 13.6 s → 5.4 s for the 3-round peel.
    with Pins() as p:
        sym = p.materialize(_symmetrize(e, "a", "b"))
        alive = sym.select("src").distinct()
        deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        for r in range(rounds):
            if r == 0:
                # round 1's alive set is ALL endpoints, so the induced
                # subgraph is sym itself — skip the two no-op semijoins
                induced = sym
            else:
                induced = (sym.join(alive.select("src"), "src")
                              .join(alive.select(F.col("src").alias("dst")),
                                    "dst"))
            deg = induced.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
            alive = p.materialize(deg.filter(F.col("deg") >= k).select("src"))
        # the last degree table reads sym and the last two frontiers:
        # materialize the result so that every pin can go
        return p.result(deg.join(alive, "src")
                        .select(F.col("src").alias("node_id"),
                                F.col("deg").alias("core_deg")))


def lpa_communities(pairs: DataFrame, rounds: int = 3) -> DataFrame:
    """Synchronous label-propagation communities (Raghavan's LPA) over
    the near-dup graph: every node starts as its own label; each round
    every node adopts the MODAL label among its neighbors (ties → min
    label). Where connected_components answers "which nodes touch at
    all", LPA splits a component into its densely-linked cores — two
    template farms bridged by one borderline pair stay separate
    communities but one CC.

    ``rounds`` is a FIXED unrolled count (the kcore_peel convention) so
    the DuckDB twin mirrors it CTE-for-CTE, and because synchronous LPA
    can oscillate on bipartite-ish structures a fixed horizon is also
    the determinism guarantee — no run-order-dependent fixpoint test.
    The modal pick is exact: per (node, candidate-label) counts, then
    one row_number window ordered (count DESC, label ASC).

    Plan per round: one hash join ships each node's label across its
    edges (shuffle keyed on node id — corpus-cardinality, skew bounded
    by the max near-dup degree), one map-side-combined count aggregate,
    one per-node window on the (node, label) pairs; the label frontier
    localCheckpoint-s per round (constant plan depth).

    Output: (node_id, community) for every node with an edge.
    """
    # one-shot materialization of the edge list (the kcore_peel rationale:
    # every round's checkpoint would re-run the pair-generator DAG)
    with Pins() as p:
        sym = p.materialize(_symmetrize(pairs, "id_a", "id_b"))
        labels = (sym.select(F.col("src").alias("node")).distinct()
                  .withColumn("lab", F.col("node"))
                  .transform(p.materialize))
        for _ in range(rounds):
            msgs = (sym.join(labels, sym.dst == labels.node)
                    .select("src", "lab"))
            counts = msgs.groupBy("src", "lab").agg(
                F.count(F.lit(1)).alias("c"))
            # modal pick as one hash aggregate: max of (c, −lab) structs ≡
            # the former row_number window ordered (c DESC, lab ASC), minus
            # its per-partition sort — a hash agg with map-side combine
            # replaces the window's sort pass (guide §2.3)
            new = (counts.groupBy("src")
                   .agg(F.max(F.struct(F.col("c"),
                                       (-F.col("lab")).alias("nl")))
                        .alias("m"))
                   .select(F.col("src").alias("node"),
                           (-F.col("m.nl")).alias("lab"))
                   .transform(p.materialize))
            p.release(labels)
            labels = new
        return p.keep(labels).select(F.col("node").alias("node_id"),
                                     F.col("lab").alias("community"))


def neighborhood_sizes(pairs: DataFrame, radius: int = 2) -> DataFrame:
    """Exact ball sizes |B(v, r)| — how many OTHER nodes sit within
    ``radius`` hops of each node in the near-dup graph (the r-hop
    neighborhood function; radius=2 is the dedup-blast-radius readout:
    removing one template hub touches its 2-ball). Where degree answers
    "how many direct near-dups", the 2-ball exposes chained duplication
    a pairwise threshold hides.

    ``radius`` is a FIXED unrolled count (the kcore_peel/lpa convention)
    so the DuckDB twin mirrors it CTE-for-CTE. Self is excluded.

    Plan per extra hop: one hash join extends the current ball by one
    edge (row count bounded by Σ_v deg(v)·|B(v,r-1)| ≤ Σ deg² at r=2 —
    the same wedge bound triangle_stats relies on, capped on near-dup
    graphs by the stop-shingle frequency cut), then one distinct
    (shuffle keyed (src, dst) — map-side combinable). The ball
    localCheckpoint-s per hop (constant plan depth).

    Output: (node_id, ball_size) for every node with an edge.
    """
    # one-shot materialization (kcore_peel rationale): each hop extension
    # joins sym again, and the per-hop checkpoints would re-run the
    # pair-generator DAG once per hop otherwise
    with Pins() as p:
        sym = p.materialize(_symmetrize(pairs, "id_a", "id_b"))
        ball = sym.distinct().transform(p.materialize)
        for _ in range(radius - 1):
            ext = (ball.alias("b")
                   .join(sym.alias("e"), F.col("b.dst") == F.col("e.src"))
                   .select(F.col("b.src").alias("src"),
                           F.col("e.dst").alias("dst"))
                   .filter(F.col("src") != F.col("dst")))
            new = ball.unionByName(ext).distinct().transform(p.materialize)
            p.release(ball)
            ball = new
        return p.keep(ball).groupBy(F.col("src").alias("node_id")).agg(
            F.count(F.lit(1)).cast("long").alias("ball_size"))


def assortativity(pairs: DataFrame) -> DataFrame:
    """Degree assortativity of the near-dup graph (Newman's r): the
    Pearson correlation of endpoint degrees over directed edge copies —
    do hub documents duplicate OTHER hubs (assortative, template farms
    cross-linking, r > 0) or mostly leaves (disassortative star/
    plagiarism topology, r < 0)? The topology number that decides
    whether removing a few hubs even helps (see kcore/triangle views of
    the same graph).

    Integer recipe: degrees are exact counts; over the 2m directed
    copies Sy = Sx and Syy = Sxx by symmetry, so
    r = (2m·Sxy − Sx²) / (2m·Sxx − Sx²) with every product in
    DECIMAL(38,0) (Sxy ~ deg²·m — far past int64 on a hub graph);
    r_e6 is one truncating div of possibly-negative exact integers —
    identical in both engines. Degenerate regular graphs (denominator
    0) emit no row.

    Scale: one degree aggregate, one broadcast-joinable degree lookup
    per endpoint (the degree table is node-sized), one global sum.

    Output: one row (n_edges, n_nodes, r_e6).
    """
    # deliberately NOT checkpointed (walk_centrality rationale: single
    # plan, exchange reuse beats materialization — measured 3.9 → 4.9 s
    # with an eager localCheckpoint at sf0.1)
    sym = _symmetrize(pairs, "id_a", "id_b")
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).cast("long")
                                 .alias("d"))
    e = (sym.join(deg.withColumnRenamed("src", "_s")
                  .withColumnRenamed("d", "dx"),
                  F.col("src") == F.col("_s"))
         .join(deg.withColumnRenamed("src", "_t")
               .withColumnRenamed("d", "dy"),
               F.col("dst") == F.col("_t"))
         .select("dx", "dy"))
    dec = "decimal(38,0)"
    s = e.agg(F.count(F.lit(1)).cast("long").alias("m2"),
              F.sum("dx").cast("long").alias("sx"),
              F.sum(F.col("dx").cast(dec) * F.col("dy").cast(dec))
               .cast(dec).alias("sxy"),
              F.sum(F.col("dx").cast(dec) * F.col("dx").cast(dec))
               .cast(dec).alias("sxx"))
    nn = deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    return (s.crossJoin(F.broadcast(nn))
            .filter(F.expr("cast(m2 as decimal(38,0)) * sxx"
                           " - cast(sx as decimal(38,0)) * sx != 0"))
            .select(F.expr("m2 div 2").alias("n_edges"), "n_nodes",
                    F.expr("(cast(m2 as decimal(38,0)) * sxy"
                           " - cast(sx as decimal(38,0)) * sx) * 1000000"
                           " div (cast(m2 as decimal(38,0)) * sxx"
                           "      - cast(sx as decimal(38,0)) * sx)")
                     .alias("r_e6")))


def assortativity_oracle_sql() -> str:
    """DuckDB twin of assortativity (HUGEINT moments, // truncating
    division). Assembled on a `pairs` CTE by the caller."""
    return """
            asym AS (
                SELECT id_a AS src, id_b AS dst FROM pairs
                UNION ALL SELECT id_b, id_a FROM pairs
            ),
            adeg AS (SELECT src, count(*)::BIGINT AS d FROM asym
                     GROUP BY src),
            ae AS (
                SELECT da.d AS dx, db.d AS dy
                FROM asym
                JOIN adeg da ON da.src = asym.src
                JOIN adeg db ON db.src = asym.dst
            ),
            asm AS (
                SELECT count(*)::BIGINT AS m2, sum(dx)::BIGINT AS sx,
                       sum(dx::HUGEINT * dy) AS sxy,
                       sum(dx::HUGEINT * dx) AS sxx
                FROM ae
            ),
            ann_ AS (SELECT count(*)::BIGINT AS n_nodes FROM adeg)
            SELECT (m2 // 2)::BIGINT AS n_edges, n_nodes,
                   ((m2::HUGEINT * sxy - sx::HUGEINT * sx) * 1000000
                    // (m2::HUGEINT * sxx - sx::HUGEINT * sx))::BIGINT
                       AS r_e6
            FROM asm CROSS JOIN ann_
            WHERE m2::HUGEINT * sxx - sx::HUGEINT * sx != 0
    """
