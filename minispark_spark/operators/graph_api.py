"""GraphFrames-style property-graph facade.

API modeled on the public GraphFrames package surface (a graph is a
pair of DataFrames: ``vertices(id, ...)`` and ``edges(src, dst, ...)``
with degrees / pageRank / connectedComponents / triangleCount views),
re-expressed purely with the engine's DataFrame primitives — no
external package. Every algorithm method is a veneer: it prepares the
edge frame (symmetric, or canonical undirected u < v), calls the
registry-verified kernel in operators/graph.py, and renames the output
to ``id``. The kernels' scale notes therefore apply unchanged.

Connected components live here, as the one implementation that the
facade, the graph_components_star entry, dedup and corpus share: a
driver union-find for bounded edge sets, large-star/small-star
contraction (O(log n) rounds) above that.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from minispark_spark.operators.graph import (
    SCALE,
    assortativity,
    bfs,
    canonical_edges,
    clustering,
    kcore,
    kcore_degrees,
    label_propagation,
    link_prediction_scores,
    modularity,
    pagerank_fixed,
    personalized_pagerank,
    symmetric_edges,
    triangle_corners,
    triangles,
)


DRIVER_CC_MAX_EDGES = 200_000
CC_STAR_MAX_ROUNDS = 64  # ~log2(n) rounds suffice; 64 is a runaway stop,
# not a truncation — hitting it raises rather than returning wrong labels.


def star_connected_components(
    sym_edges: DataFrame, max_rounds: int = CC_STAR_MAX_ROUNDS
) -> tuple[DataFrame, int]:
    """Distributed connected components by alternating large-star /
    small-star rounds (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14 — the published MapReduce CC
    recipe), over a SYMMETRIC self-loop-free edge list ``(a, b)``.
    Returns ``((node, label) for every endpoint, rounds run)``;
    label = the component's minimum node id.

    Why this exists: the naive min-label fixpoint moves labels ONE hop
    per round, so a long-chain component (mirror farms in a dup graph)
    costs O(diameter) shuffles — hundreds of rounds on a 1000-link
    chain. Star contraction re-points nodes at their neighborhood
    minimum each round, halving (at least) the depth of every tree:
    O(log n) rounds on any topology. Measured on an adversarial
    4096-link chain: 13 rounds vs 4095 (BASELINE.md long-chain CC
    ledger). Per round: two groupBy shuffles on the 8/16-byte edge
    key (large-star then small-star) + a 1-row convergence aggregate;
    lineage truncated per round via localCheckpoint.

    Convergence detection: the edge multiset is a star forest iff one
    more large-star round leaves it unchanged; compared via
    (count, sum(xxhash64)) — a 1-row aggregate, no driver edge
    collect. At convergence every non-root points directly at its
    component min, so labels fall out without propagation.

    Round materialization is a RELIABLE (disk) checkpoint, not
    localCheckpoint — found at sf10 (60M-edge purchase graph): local
    checkpoints pin every round's EDGE-SIZED block set in the unified
    memory pool (truncated lineage makes them the only copy, so the
    block manager cannot evict them), and a few 1-2 GB rounds starve
    execution memory into UNABLE_TO_ACQUIRE task failures. Disk
    checkpoints keep the same lineage truncation (the plan otherwise
    quadruples per round — each round references ``cur`` four times)
    with zero storage-pool footprint; per-round files are dropped as
    soon as the next round materializes, so disk usage is ~2 rounds'
    edges. The node-sized loops (pagerank, min-label fixpoint) keep
    localCheckpoint — their per-round state is KBs-to-MBs. On a
    cluster, set ``spark.sparkContext.setCheckpointDir`` to shared
    storage first; this function sets a local default only when none
    is configured.
    """
    import os
    import shutil
    import tempfile

    spark = sym_edges.sparkSession
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    if jsc.getCheckpointDir().isEmpty():
        sc.setCheckpointDir(
            os.path.join(
                tempfile.gettempdir(), f"starcc-ckpt-{sc.applicationId}"
            )
        )
    ck_root = jsc.getCheckpointDir().get()

    def _ckpt_files(df: DataFrame) -> set[str]:
        if not ck_root.startswith("file:") and "://" in ck_root:
            return set()  # non-local FS: leave cleanup to storage policy
        root = ck_root[5:] if ck_root.startswith("file:") else ck_root
        if not os.path.isdir(root):
            return set()
        return {os.path.join(root, d) for d in os.listdir(root)}
    edges = sym_edges.select("a", "b").filter(F.col("a") != F.col("b"))
    # Nodes come from the PRE-self-loop-filter edge list (sym_edges is
    # symmetric, so every endpoint appears as ``a``): a node whose only
    # edges are self loops must still appear in the output, labeled by
    # itself — matching the driver union-find path.
    nodes = sym_edges.select(F.col("a").alias("node")).distinct().cache()

    def _sym(e: DataFrame) -> DataFrame:
        return e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))

    def _sig(e: DataFrame):
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal(38,0) sum: a long sum of 64-bit hashes overflows
            # under ANSI mode on as few as two edges.
            F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return row["n"], row["h"]

    def _large_star(e: DataFrame) -> DataFrame:
        nbr = _sym(e)
        mins = nbr.groupBy("a").agg(F.min("b").alias("mb"))
        m = F.least(F.col("mb"), F.col("a"))
        return (
            nbr.join(mins, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), m.alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )

    def _small_star(e: DataFrame) -> DataFrame:
        # Neighbors <= u plus u itself all re-point at their min. Every
        # undirected edge appears in ``le`` under its larger endpoint,
        # so no connectivity is dropped.
        le = _sym(e).filter(F.col("b") < F.col("a"))
        mins = le.groupBy("a").agg(F.min("b").alias("m"))  # m < a always
        with_m = le.join(mins, "a")
        repointed = with_m.select(F.col("b").alias("a"), F.col("m").alias("b")).filter(
            F.col("a") != F.col("b")
        )
        anchor = mins.select("a", F.col("m").alias("b"))
        return repointed.unionByName(anchor).distinct()

    def _ckpt_round(df: DataFrame) -> tuple[DataFrame, tuple]:
        """One round's materialization: LAZY reliable checkpoint with
        the convergence signature as the first (materializing) action.
        The eager spelling ran a dedicated count job per round before
        the signature job; marking lazily makes the signature aggregate
        that first action, and doCheckpoint's file-writing pass that
        follows it re-reads the round's already-materialized shuffle
        output (exchange reuse), not the parquet lineage — the
        contraction's wide work still runs once and the round drops
        from three jobs (eager count, checkpoint write, signature) to
        two. (A persist-before-checkpoint variant was tried and
        REVERTED: the in-memory columnar cache write+read cost MORE
        than the shuffle-reuse recompute it avoided — measured +67%
        wall on the sf0.1 star contraction — and re-introduced
        round-sized storage blocks, which the sf10 ledger showed
        starving execution memory.)"""
        out = df.checkpoint(eager=False)
        s = _sig(out)  # materializes: computes plan once, writes files
        return out, s

    base = _ckpt_files(edges)
    cur, sig = _ckpt_round(edges.distinct())
    cur_dirs = _ckpt_files(cur) - base
    rounds = 0
    while rounds < max_rounds:
        before = _ckpt_files(cur)
        cur, new_sig = _ckpt_round(_small_star(_large_star(cur)))
        new_dirs = _ckpt_files(cur) - before
        # The new round is materialized on disk; the previous round's
        # files are dead weight — drop them now so peak disk is ~2
        # rounds of edges, not the whole contraction history.
        for d in cur_dirs:
            shutil.rmtree(d, ignore_errors=True)
        cur_dirs = new_dirs
        rounds += 1
        if new_sig == sig:
            break
        sig = new_sig
    else:
        raise RuntimeError(
            f"star_connected_components: no fixpoint after {max_rounds} rounds"
        )
    labels = cur.select(F.col("a").alias("node"), F.col("b").alias("label")).unionByName(
        cur.select(F.col("b").alias("node"), F.col("b").alias("label"))
    ).groupBy("node").agg(F.min("label").alias("label"))
    # Isolated-within-input nodes (every edge a self loop, filtered
    # above) label themselves.
    full = nodes.join(labels, "node", "left").select(
        "node", F.coalesce(F.col("label"), F.col("node")).alias("label")
    )
    return full, rounds


def connected_components_labels(
    sym_edges: DataFrame, driver_max_edges: int = DRIVER_CC_MAX_EDGES
) -> DataFrame:
    """Min-label connected components over a SYMMETRIC edge list
    ``(a, b)``. Returns ``(node, label)`` for every node appearing in
    the edges; label = the component's minimum node id.

    Two regimes, same exact result:

    * **Bounded edge sets** (<= ``driver_max_edges`` rows, the usual
      case for near-dup candidate graphs, which are a sub-percent
      fraction of the corpus even at 100 TB) — collect once and run a
      driver-side union-find with min-root tracking. This replaces
      distributed rounds x 3 jobs each with one bounded collect: the
      same bounded-driver-state trick the distributed-ranking
      histogram and the k-means centroid update use.
    * **Large edge sets** — alternating large-star/small-star
      contraction (:func:`star_connected_components`): O(log n)
      rounds of two shuffles each, diameter-independent — a
      long-chain dup graph (mirror farms) costs 13 rounds where the
      one-hop min-label fixpoint this replaced cost O(diameter)
      (hundreds). Rounds measured in BASELINE.md's long-chain ledger.
    """
    sym = sym_edges.cache()
    n_edges = sym.count()  # also materializes the cache for both paths
    if n_edges <= driver_max_edges:
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        rows = sym.collect()
        for r in rows:
            a, b = r["a"], r["b"]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by MIN so the root IS the component minimum
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        labels = [(n, find(n)) for n in parent]
        return sym.sparkSession.createDataFrame(labels, "node long, label long")
    labels, _rounds = star_connected_components(sym)
    return labels


class Graph:
    """A property graph: ``vertices`` has an ``id`` column, ``edges``
    has ``src``/``dst`` columns (extra columns ride along untouched)."""

    def __init__(self, vertices: DataFrame, edges: DataFrame) -> None:
        self.vertices = vertices
        self.edges = edges

    @classmethod
    def from_edges(cls, edges: DataFrame) -> "Graph":
        """Derive the vertex set from the edge endpoints."""
        vertices = (
            edges.select(F.col("src").alias("id"))
            .unionByName(edges.select(F.col("dst").alias("id")))
            .distinct()
        )
        return cls(vertices, edges)

    # -- degree views -----------------------------------------------------

    def out_degrees(self) -> DataFrame:
        return self.edges.groupBy(F.col("src").alias("id")).agg(
            F.count(F.lit(1)).alias("out_degree")
        )

    def in_degrees(self) -> DataFrame:
        return self.edges.groupBy(F.col("dst").alias("id")).agg(
            F.count(F.lit(1)).alias("in_degree")
        )

    def degrees(self) -> DataFrame:
        """Total degree per vertex (isolated vertices included, 0)."""
        both = self.edges.select(F.col("src").alias("node")).unionByName(
            self.edges.select(F.col("dst").alias("node"))
        )
        counted = both.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
        return self._per_vertex(counted, "degree", F.lit(0))

    def _per_vertex(self, df: DataFrame, col: str, default: Column) -> DataFrame:
        """``(id, col)`` for EVERY vertex from a ``(node, col)`` frame;
        vertices absent from it get ``default``."""
        return self.vertices.select("id").join(
            df.withColumnRenamed("node", "id"), "id", "left"
        ).select("id", F.coalesce(F.col(col), default).alias(col))

    # -- algorithms -------------------------------------------------------

    def page_rank(self, n_iter: int = 3) -> DataFrame:
        """Fixed-iteration PageRank; returns ``(id, rank)`` with rank as
        a double (the deterministic integer fixed-point divided by its
        scale — one exact IEEE division)."""
        ranks = pagerank_fixed(self.edges.select("src", "dst"), n_iter=n_iter)
        return ranks.select(
            F.col("node").alias("id"),
            (F.col("rank").cast("double") / F.lit(float(SCALE))).alias("rank"),
        )

    def bfs(self, source, max_hops: int = 4) -> DataFrame:
        """``(id, hops)`` — shortest hop counts from ``source`` over the
        symmetrized edge set, ``max_hops`` min-fold levels (the
        graph_bfs_hops kernel)."""
        reached = bfs(symmetric_edges(self.edges.select("src", "dst")), source, max_hops)
        return reached.select(F.col("node").alias("id"), F.col("h").alias("hops"))

    def label_propagation(self, n_rounds: int = 3) -> DataFrame:
        """``(id, community)`` — synchronous label propagation with the
        deterministic min-label tie-break (the graph_label_propagation
        kernel). Isolated vertices keep their own label. Known
        synchronous-LP caveat (GraphFrames documents the same): a
        bipartite component can OSCILLATE between two labelings —
        communities are meaningful within a round parity, not a
        fixpoint."""
        sym = symmetric_edges(self.edges.select("src", "dst"))
        labels = label_propagation(sym, n_rounds).withColumnRenamed("label", "community")
        return self._per_vertex(labels, "community", F.col("id"))

    def connected_components(self) -> DataFrame:
        """``(id, component)`` for EVERY vertex; component = min vertex
        id in the component (isolated vertices map to themselves)."""
        undirected = self.edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
        sym = undirected.select(
            F.col("src").alias("a"), F.col("dst").alias("b")
        ).unionByName(undirected.select(F.col("dst").alias("a"), F.col("src").alias("b")))
        labels = connected_components_labels(sym).withColumnRenamed("label", "component")
        return self._per_vertex(labels, "component", F.col("id"))

    def triangle_count(self) -> DataFrame:
        """Per-vertex triangle participation count ``(id, count)``,
        treating edges as undirected (GraphFrames semantics). Each
        triangle is enumerated once via vertex-ordered canonical edges,
        then contributes 1 to each of its three corners."""
        corners = triangle_corners(triangles(canonical_edges(self.edges).cache()))
        return self._per_vertex(
            corners.withColumnRenamed("t", "count"), "count", F.lit(0)
        )

    def link_prediction(self, deg_cap: int = 40, min_cn: int = 2) -> DataFrame:
        """``(u, v, common_neighbors, jaccard_lb)`` for NON-adjacent
        vertex pairs scored by common-neighbor count (friend-of-a-friend
        recommendation), treating edges as undirected. Middles with
        degree > ``deg_cap`` are excluded from the intersection count —
        the standard hub guard that keeps the pair expansion from going
        quadratic on celebrity nodes — so the Jaccard is a lower bound
        (the graph_link_prediction kernel)."""
        return link_prediction_scores(
            canonical_edges(self.edges), deg_cap=deg_cap, min_cn=min_cn
        )

    def k_core(self, k: int = 4, max_rounds: int = 4) -> DataFrame:
        """``(id, degree)`` for vertices surviving ``max_rounds`` peels
        of the k-core decomposition (drop degree < k, repeat), edges
        undirected — the graph_kcore kernel. Production loops until no
        vertex drops (graph_kcore_converged, same peel round)."""
        degrees = kcore_degrees(kcore(canonical_edges(self.edges), k, max_rounds))
        return degrees.withColumnRenamed("node", "id")

    def modularity(self, communities: DataFrame | None = None) -> DataFrame:
        """``(community, d_c, l_c, q_term)`` — Newman modularity terms of
        a community assignment over the undirected view of this graph
        (the graph_modularity kernel). ``communities`` is any (id,
        community) frame; defaults to :meth:`label_propagation`. Total Q
        is the sum of ``q_term`` — left to the caller so no float
        summation hides in the engine."""
        comm = (communities or self.label_propagation()).select(
            F.col("id").alias("node"), "community"
        )
        und = canonical_edges(self.edges)
        return modularity(und.select(F.col("u").alias("src"), F.col("v").alias("dst")), comm)

    def clustering_coefficient(self) -> DataFrame:
        """``(id, degree, triangles, cc)`` for vertices of undirected
        degree >= 2: cc = 2*T / (d*(d-1)) from exact integer counts
        (the graph_clustering_coefficient kernel). Vertices of degree
        < 2 have no defined coefficient and are omitted."""
        return clustering(canonical_edges(self.edges).cache()).withColumnRenamed("node", "id")

    def assortativity(self) -> DataFrame:
        """``(n_ends, r)`` — Newman degree assortativity over the
        undirected view (the graph_assortativity kernel): Pearson
        correlation of endpoint degrees with both orientations of every
        edge, from exact integer cross-multiplied sums."""
        return assortativity(canonical_edges(self.edges).cache())

    def personalized_page_rank(self, seeds, n_iter: int = 3) -> DataFrame:
        """``(id, rank)`` — personalized PageRank: teleport mass is
        restricted to ``seeds`` (a list of vertex ids or a 1-column
        DataFrame, collected — seed sets are small), damping 0.85,
        BIGINT fixed-point (the graph_personalized_pagerank kernel).
        Vertices unreachable from the seeds hold rank 0 and are
        filtered."""
        if isinstance(seeds, DataFrame):
            seeds = [r[0] for r in seeds.select(seeds.columns[0]).distinct().collect()]
        is_seed = F.col("node").isin(list(seeds))
        ranks = personalized_pagerank(self.edges.select("src", "dst"), is_seed, n_iter)
        return ranks.select(F.col("node").alias("id"), "rank")
