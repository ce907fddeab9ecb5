"""Query layer over the canonical nodes/edges tables.

The reference's downstream consumption pattern (examples/bel_graph_rag.ipynb:
merge networks, look up entities, walk neighborhoods for RAG context) maps
to relational graph queries over the two tables:

  * neighbors / k-hop expansion — iterative self-joins (breadth-first
    frontier, dedup per hop; k is small and fixed, so no Pregel needed)

All pure DataFrame ops; at scale the edges table is bucketed by ``s`` so
the frontier join co-locates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def truncated_checkpoint(df: DataFrame) -> DataFrame:
    """localCheckpoint that ALSO severs the plan-metadata chain.

    ``Dataset.localCheckpoint`` truncates the RDD lineage but the
    resulting LogicalRDD keeps ``originStats``/``originConstraints``
    pointing at the PRE-checkpoint logical plan. An iterative algorithm
    whose per-step plan references the previous checkpoint several
    times (labels joined 3-4x per round) therefore builds a chain that
    Catalyst's stats/constraint walks traverse with exponential fanout
    — measured here as driver-side planning time (zero active jobs)
    growing ~4x per iteration once the chain spans a round boundary,
    reaching minutes on a 128-node graph. Rebuilding the Dataset from
    the checkpointed INTERNAL RDD drops that metadata, restoring flat
    per-iteration cost (28s total vs >600s for the same SCC loop).

    Falls back to the plain localCheckpoint if the internal rebuild API
    is unavailable (non-JVM backends).
    """
    ck = df.localCheckpoint(True)
    try:
        jdf = ck._jdf
        jspark = df.sparkSession._jsparkSession
        clean = jspark.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False
        )
        return DataFrame(clean, df.sparkSession)
    except Exception:  # pragma: no cover - connect/alt backends
        return ck


def undirected_edges(edges: DataFrame) -> DataFrame:
    """(s, t) plus (t, s) — neighborhood queries ignore direction.
    Only the endpoint columns are kept (works for any edge-like input)."""
    fwd = edges.select("s", "t")
    rev = edges.select(F.col("t").alias("s"), F.col("s").alias("t"))
    return fwd.unionByName(rev)


def k_hop_neighborhood(
    edges: DataFrame, seed_node_ids: list[int], k: int = 2
) -> DataFrame:
    """All nodes within k undirected hops of the seeds.

    Returns (node_id, hop) with the minimal hop distance (0 = seed).
    Iterative frontier expansion: k self-joins, frontier deduped against
    the visited set each hop (left_anti), so work is proportional to the
    neighborhood, not the graph.
    """
    spark = edges.sparkSession
    und = undirected_edges(edges)
    visited = spark.createDataFrame(
        [(int(i), 0) for i in seed_node_ids], "node_id long, hop int"
    )
    frontier = visited.select("node_id")
    prev_persisted = None
    for hop in range(1, k + 1):
        nxt = (
            und.join(frontier.withColumnRenamed("node_id", "s"), "s")
            .select(F.col("t").alias("node_id"))
            .distinct()
            .join(visited.select("node_id"), "node_id", "left_anti")
            .withColumn("hop", F.lit(hop))
        )
        nxt = nxt.persist()
        empty = nxt.isEmpty()
        # the previous frontier fed this round's join and is now superseded
        # — unpersist it so a long session doesn't leak one cached frontier
        # per hop (its rows live on inside `visited`'s lineage via the
        # already-materialized persist, so correctness is unaffected)
        if prev_persisted is not None:
            prev_persisted.unpersist()
        if empty:
            nxt.unpersist()
            break
        prev_persisted = nxt
        visited = visited.unionByName(nxt)
        frontier = nxt.select("node_id")
    return visited


def connected_components(edges: DataFrame) -> DataFrame:
    """Undirected connected components by iterative min-label propagation:
    every node's component id converges to the minimum node id reachable
    from it. Returns (node_id, component).

    Each iteration is one join + one map-side-combinable min aggregation;
    convergence is checked with a cheap changed-count, and each round's
    label table is ``localCheckpoint``ed: persist alone does NOT truncate
    lineage, so without the checkpoint Catalyst re-analyzes an
    exponentially nesting plan each round and the driver OOMs — the
    standard pitfall of iterative DataFrame algorithms. Path compression
    (label-of-label) makes rounds O(log diameter). At 100TB scale swap
    localCheckpoint for reliable checkpointing to the cluster store.
    """
    und = undirected_edges(edges).distinct().localCheckpoint(eager=True)
    labels = (
        und.select(F.col("s").alias("node_id"))
        .distinct()
        .withColumn("component", F.col("node_id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(25):
        # candidate label for each node: min over self and neighbor labels
        neighbor_min = (
            und.join(labels.withColumnRenamed("node_id", "t")
                     .withColumnRenamed("component", "n_comp"), "t")
            .groupBy("s")
            .agg(F.min("n_comp").alias("n_comp"))
            .withColumnRenamed("s", "node_id")
        )
        prop = labels.join(neighbor_min, "node_id", "left").select(
            "node_id",
            F.least(
                F.col("component"), F.coalesce("n_comp", F.col("component"))
            ).alias("component"),
        )
        # path compression (label-of-label): follow each node's label one
        # more step so long chains converge in O(log diameter) rounds
        # instead of O(diameter)
        redirect = prop.select(
            F.col("node_id").alias("component"), F.col("component").alias("_root")
        )
        new_labels = (
            prop.join(redirect, "component", "left")
            .select(
                "node_id",
                F.coalesce("_root", F.col("component")).alias("component"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.join(
                labels.withColumnRenamed("component", "old"), "node_id"
            )
            .filter(F.col("component") != F.col("old"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


def k_core(edges: DataFrame, k: int = 2) -> DataFrame:
    """Undirected k-core: iteratively peel vertices with degree < ``k``
    until fixpoint — the standard KG summarization / noise-trim pass
    (the k-core is the maximal subgraph where every vertex keeps >= k
    surviving neighbors). Returns the core's vertices with their
    within-core degree: ``(node_id, degree)``.

    Plan per round: ONE partial-agg degree groupBy + two anti-joins
    dropping edges incident to peeled vertices (broadcast-converted by AQE
    while the peel set is small — and the peel set SHRINKS monotonically,
    so later rounds are the cheap ones). Convergence is a changed-count
    scalar per round (same instrument as connected_components); edge
    tables are ``localCheckpoint``ed each round to truncate the
    iterative-plan lineage. Rounds needed = peeling depth, typically
    O(log n) on web-ish degree distributions; 30 rounds bound
    pathological chains (a path graph peels 1 layer per round).
    """
    und = undirected_edges(edges).distinct().localCheckpoint(eager=True)
    for _ in range(30):
        deg = und.groupBy("s").agg(F.count(F.lit(1)).alias("degree"))
        low = deg.filter(F.col("degree") < k).select("s").localCheckpoint(
            eager=True
        )
        if low.isEmpty():
            break
        und = (
            und.join(low, "s", "left_anti")
            .join(low.withColumnRenamed("s", "t"), "t", "left_anti")
            .select("s", "t")
            .localCheckpoint(eager=True)
        )
    return (
        und.groupBy("s")
        .agg(F.count(F.lit(1)).alias("degree"))
        .select(F.col("s").alias("node_id"), "degree")
    )


def label_propagation(edges: DataFrame, iterations: int = 5) -> DataFrame:
    """Community detection by DETERMINIZED synchronous label propagation
    (Raghavan et al. 2007): every node starts as its own community and
    each round adopts the most frequent label among its neighbors, ties
    broken by the SMALLEST label — no randomness, so the result is a pure
    function of (graph, iterations), reproducible across runs, partition
    layouts, and engines (the SQL oracle replays it round-for-round).
    Returns ``(node_id, label)``.

    Plan per round: ONE shuffle joining labels onto edge targets, ONE
    partial-agg ``groupBy(s, label)`` count (bounded by degree per node),
    and ONE ``max_by(label, struct(n, -label))`` groupBy — the (count
    desc, label asc) vote decided inside a partial-aggregable agg instead
    of a window sort. Labels ``localCheckpoint`` each round to truncate
    iterative lineage (the connected_components lesson). Hub fan-out is
    the same t-side join shape as pagerank's contribution pass — AQE
    handles the skew; no driver actions inside the loop except the
    convergence scalar.

    Synchronous LPA can 2-cycle on bipartite structure instead of
    converging (the known sync-update artifact), which ``iterations``
    bounds; the early exit only fires on a true fixpoint, so a fixed-round
    replay of >= the exit round gives identical labels.
    """
    und = undirected_edges(edges).distinct().localCheckpoint(eager=True)
    labels = (
        und.select(F.col("s").alias("node_id"))
        .distinct()
        .withColumn("label", F.col("node_id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(iterations):
        freq = (
            und.join(
                labels.select(
                    F.col("node_id").alias("t"), F.col("label").alias("n_label")
                ),
                "t",
            )
            .groupBy("s", "n_label")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        vote = freq.groupBy("s").agg(
            F.max_by(
                "n_label", F.struct(F.col("n"), (-F.col("n_label")).alias("_t"))
            ).alias("new_label")
        )
        new_labels = (
            labels.join(vote.withColumnRenamed("s", "node_id"), "node_id", "left")
            .select(
                "node_id",
                F.coalesce("new_label", F.col("label")).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.join(
                labels.withColumnRenamed("label", "old"), "node_id"
            )
            .filter(F.col("label") != F.col("old"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


def _rank_graph(
    edges: DataFrame, undirected: bool, weight_col: str | None = None
) -> tuple[DataFrame, DataFrame]:
    """The rank loops' inputs ``(g_deg, nodes)``: the distinct (s, t)
    edges (symmetrised when ``undirected``; ``weight_col`` weight-sums
    parallel edges into ``_w``) joined to the source's out-degree or
    out-weight ``deg``, and the distinct endpoints. Both are checkpointed
    eagerly: every iteration joins them, so lineage truncation per round
    (see connected_components) must not re-run the edge dedup."""
    if weight_col is None:
        g = (
            undirected_edges(edges).distinct()
            if undirected
            else edges.select("s", "t").distinct()
        )
        g = g.localCheckpoint(eager=True)
        out_deg = g.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    else:
        base = edges.select(
            "s", "t", F.col(weight_col).cast("double").alias("_w")
        )
        if undirected:
            base = base.unionByName(
                base.select(
                    F.col("t").alias("s"), F.col("s").alias("t"), "_w"
                )
            )
        g = (
            base.groupBy("s", "t")
            .agg(F.sum("_w").alias("_w"))
            .localCheckpoint(eager=True)
        )
        out_deg = g.groupBy("s").agg(F.sum("_w").alias("deg"))
    nodes = (
        g.select(F.col("s").alias("node_id"))
        .unionByName(g.select(F.col("t").alias("node_id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    g_deg = g.join(out_deg, "s").localCheckpoint(eager=True)
    return g_deg, nodes


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    undirected: bool = True,
    weight_col: str | None = None,
    seeds: list[int] | None = None,
) -> DataFrame:
    """PageRank over the edge table (fixed iteration count — deterministic
    output for a given input). Returns (node_id, rank); ranks sum to ~1.

    ``seeds``: personalized (topic-sensitive) PageRank — start and teleport
    vector uniform over the seeds (a literal CASE: seeds are query-sized)
    instead of all nodes, so rank concentrates in the seeds' neighborhood:
    the RAG context-selection / seed-expansion scorer over the KG.

    Per iteration: one join of ranks to edges + one sum aggregation —
    the canonical Pregel-as-DataFrame shape, lineage truncated per round.
    Dangling mass (nodes with no out-edges; impossible in undirected mode)
    re-teleports (uniformly, or to the seeds) so the distribution stays
    normalized.

    ``weight_col`` (e.g. ``n_links`` from linkgraph.host_graph): each
    out-edge carries rank proportional to its weight instead of 1/deg —
    the host-authority weighting for the web graph. Parallel (s, t)
    duplicates are weight-summed; the unweighted path is left exactly as
    before (its contribution math is pinned by the SQL oracle).
    """
    if seeds is not None and not seeds:
        raise ValueError("pagerank with seeds needs at least one seed")
    g_deg, nodes = _rank_graph(edges, undirected, weight_col)
    if seeds is None:
        n = nodes.count()
        start = F.lit(1.0 / n)
        teleport = F.lit((1.0 - 0.85) / n)
        dangling = (F.lit(1.0) - F.col("_total")) / F.lit(float(n))
    else:
        seeds = [int(s) for s in seeds]
        start = F.when(
            F.col("node_id").isin(seeds), F.lit(1.0 / len(seeds))
        ).otherwise(F.lit(0.0))
        teleport = F.lit(1.0 - 0.85) * start
        dangling = (F.lit(1.0) - F.col("_total")) * start
    ranks = nodes.withColumn("rank", start)
    contrib_expr = (
        (F.col("rank") / F.col("deg"))
        if weight_col is None
        else (F.col("rank") * F.col("_w") / F.col("deg"))
    )
    for _ in range(iterations):
        contribs = (
            g_deg.join(
                ranks.withColumnRenamed("node_id", "s"), "s"
            )
            .select(F.col("t").alias("node_id"), contrib_expr.alias("c"))
            .groupBy("node_id")
            .agg(F.sum("c").alias("in_rank"))
        )
        new_ranks = (
            nodes.join(contribs, "node_id", "left")
            .select(
                "node_id",
                (
                    teleport
                    + F.lit(0.85) * F.coalesce("in_rank", F.lit(0.0))
                ).alias("rank"),
            )
        )
        if not undirected:
            # redistribute dangling mass to keep sum(rank) = 1 —
            # as a 1-row DataFrame crossJoined into the update, NOT a
            # per-iteration driver action: the loop body stays one lazy
            # plan per iteration, no mid-loop job/serialization point.
            # Lazy-checkpoint first: the total's broadcast-build job would
            # otherwise RE-EXECUTE this round's join+agg (the two subtrees
            # stop being identical after filter inference, so
            # ReuseExchange misses — same pathology as plans/ids.py)
            new_ranks = new_ranks.localCheckpoint(eager=False)
            total = new_ranks.agg(F.sum("rank").alias("_total"))
            new_ranks = new_ranks.crossJoin(F.broadcast(total)).select(
                "node_id", (F.col("rank") + dangling).alias("rank")
            )
        ranks = new_ranks.localCheckpoint(eager=True)
    return ranks


def triangle_count(edges: DataFrame) -> DataFrame:
    """Triangle counting via degree-ordered orientation.

    The naive three-way self-join enumerates every WEDGE (2-path) in the
    graph — on a Zipf-degree web/KG graph the hub vertices alone make that
    quadratic in the hub degree (a 10^6-degree entity yields 10^12 wedges).
    The classical fix (Schank & Wagner 2005; the plan inside every
    distributed triangle counter since): orient each undirected edge from
    the endpoint with the SMALLER (degree, id) to the larger. Every
    triangle then has exactly one source vertex with two out-edges, and
    out-degrees are bounded by O(sqrt(|E|)) — wedge generation is
    sum(out_deg^2), minimized exactly where the skew lives (hubs become
    wedge SINKS, not sources).

    Plan: degree agg (one shuffle) -> broadcast-or-shuffle join of degrees
    onto edges -> oriented wedge self-join on the source -> closure
    semi-join against oriented edges. No driver actions, no iteration.

    Returns (node_id, n_triangles) counting each triangle at all three
    corners (vertices in no triangle are omitted).
    """
    # canonical undirected edge set: (u < v), self-loops dropped, deduped
    und = (
        edges.select(
            F.least("s", "t").alias("u"), F.greatest("s", "t").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        undirected_edges(und.select(F.col("u").alias("s"), F.col("v").alias("t")))
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # orient by the total order (deg, id): lo endpoint -> hi endpoint
    with_deg = (
        und.join(deg.select(F.col("s").alias("u"), F.col("deg").alias("du")), "u")
        .join(deg.select(F.col("s").alias("v"), F.col("deg").alias("dv")), "v")
    )
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = with_deg.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.struct("dv", "v")).otherwise(F.struct(F.col("du").alias("dv"), F.col("u").alias("v"))).alias("d"),
    ).select("src", F.col("d.v").alias("dst"), F.col("d.dv").alias("ddst"))
    # wedges from each source: unordered pairs of its out-neighbors,
    # ordered a-before-b by the same (deg, id) total order so the closure
    # edge (a, b) appears in `oriented` exactly as a -> b
    o1 = oriented.select("src", F.col("dst").alias("a"), F.col("ddst").alias("da"))
    o2 = oriented.select("src", F.col("dst").alias("b"), F.col("ddst").alias("db"))
    wedges = o1.join(o2, "src").filter(
        (F.col("da") < F.col("db"))
        | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
    )
    closure = oriented.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    tris = wedges.join(closure, ["a", "b"]).select(
        F.col("src").alias("x"), "a", "b"
    )
    corners = (
        tris.select(F.col("x").alias("node_id"))
        .unionByName(tris.select(F.col("a").alias("node_id")))
        .unionByName(tris.select(F.col("b").alias("node_id")))
    )
    return corners.groupBy("node_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )


def link_prediction_scores(edges: DataFrame, min_common: int = 1) -> DataFrame:
    """Common-neighbor / Adamic-Adar link prediction over the undirected
    edge table — the KG-completion pass: score NON-adjacent vertex pairs
    by their shared neighborhood, weighting each shared neighbor x by
    1/ln(deg(x)) (Adamic & Adar 2003) so promiscuous hubs certify less
    than selective nodes.

    Returns (a, b, common_neighbors, adamic_adar) for pairs a < b with at
    least ``min_common`` shared neighbors and NO existing edge.

    Plan: every wedge a-x-b contributes to its pair's score, so wedge
    enumeration is irreducibly Σ deg(x)² — UNLIKE triangle_count, no
    orientation trick applies (a triangle is witnessed once by its
    one two-out-edge vertex; a common-neighbor score needs every witness).
    Shape: one degree agg, one self-join on the center, one anti-join
    against the canonical edges, one partial-agg groupBy(pair); ln(deg) is
    computed once per center row, map-side.
    """
    und = (
        edges.select(
            F.least("s", "t").alias("u"), F.greatest("s", "t").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    adj = undirected_edges(
        und.select(F.col("u").alias("s"), F.col("v").alias("t"))
    )
    deg = adj.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    centers = adj.join(deg, "s").select(
        F.col("s").alias("ctr"), F.col("deg").alias("dctr"), F.col("t").alias("nb")
    )
    o1 = centers.select("ctr", "dctr", F.col("nb").alias("a"))
    o2 = centers.select("ctr", F.col("nb").alias("b"))
    wedges = (
        o1.join(o2, "ctr")
        .filter(F.col("a") < F.col("b"))
        .select(
            "a",
            "b",
            (F.lit(1.0) / F.log(F.col("dctr").cast("double"))).alias("w"),
        )
    )
    open_pairs = wedges.join(
        und.select(F.col("u").alias("a"), F.col("v").alias("b")),
        ["a", "b"],
        "left_anti",
    )
    return open_pairs.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("long").alias("common_neighbors"),
        F.round(F.sum("w"), 6).alias("adamic_adar"),
    ).filter(F.col("common_neighbors") >= min_common)


def personalized_pagerank_scaled(
    edges: DataFrame,
    seeds: list[int],
    iterations: int = 5,
) -> DataFrame:
    """Engine-exact personalized PageRank over the undirected graph: the
    entire fixpoint runs in int64 units of 1e-12 — integer division for
    the per-neighbor contribution, integer sums for the in-mass, integer
    damping 85/100 — so every iterate is a pure function
    of the graph with NO floating-point summation anywhere. Two engines
    replaying the same recurrence produce bit-identical longs, which is
    what a downstream 6dp cut needs: double PPR values are often exact
    7-decimal numbers (uniform hub contributions), and rounding those at
    6dp is engine-dependent (Spark rounds the shortest decimal repr
    HALF_UP, DuckDB rounds the ``x*1e6`` double) — the one observed
    parity break in round 3 (``rag_context_docs``, 0.3708125 boundary).

    Semantics match :func:`pagerank` with ``seeds`` up to ≤ ``iterations``
    floor-division units (1e-12) per node — far below any consumer's 6dp
    lattice — and the floor is applied identically on both engines.
    Returns (node_id, rank_s), a long; ``rank_s / 1e12`` is the rank. Same
    input tables and plan shape as :func:`pagerank`.
    """
    if not seeds:
        raise ValueError("personalized_pagerank_scaled needs >= 1 seed")
    seeds = [int(s) for s in seeds]
    g_deg, nodes = _rank_graph(edges, undirected=True)
    p0_s = 10**12 // len(seeds)  # exact integer teleport share
    teleport = F.when(
        F.col("node_id").isin(seeds),
        F.lit((100 - 85) * p0_s // 100),
    ).otherwise(F.lit(0))
    ranks = nodes.withColumn(
        "rank_s",
        F.when(F.col("node_id").isin(seeds), F.lit(p0_s))
        .otherwise(F.lit(0))
        .cast("long"),
    )
    for _ in range(iterations):
        contribs = (
            g_deg.join(ranks.withColumnRenamed("node_id", "s"), "s")
            .select(
                F.col("t").alias("node_id"),
                # integer floor division: exact, order-independent
                F.expr("rank_s div deg").alias("c"),
            )
            .groupBy("node_id")
            .agg(F.sum("c").alias("in_s"))
        )
        ranks = nodes.join(contribs, "node_id", "left").select(
            "node_id",
            (
                teleport
                + F.expr("coalesce(in_s, 0L) * 85 div 100")
            ).cast("long").alias("rank_s"),
        )
        ranks = ranks.localCheckpoint(eager=True)
    return ranks


def hits_scores(edges: DataFrame, iterations: int = 5) -> DataFrame:
    """HITS hubs & authorities over the DIRECTED edge table — the
    companion to :func:`pagerank` for the web host graph
    (operators/linkgraph.py): authorities = pages many good hubs point
    to, hubs = pages pointing at many good authorities. Returns
    (node_id, hub, authority).

    Per iteration: two joins + two partial-agg groupBys (one per score
    direction) and two L1 normalizations folded in as 1-row broadcast
    crossJoins — zero mid-loop driver actions, lineage truncated per
    round (same discipline as pagerank/PPR). L1 (sum) normalization is
    used instead of Kleinberg's L2: the normalized fixpoint direction is
    identical (normalization only rescales), the ranking is unchanged,
    and sums are exactly replayable in SQL where sqrt-of-sum-of-squares
    ordering is not. Deterministic for a given (graph, iterations).

    Inside the loop only nodes with nonzero score carry rows (zeros
    contribute nothing to either sum); the full node list is restored
    with explicit 0.0 scores in the final projection.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    g = edges.select("s", "t").distinct().localCheckpoint(eager=True)
    nodes = (
        g.select(F.col("s").alias("node_id"))
        .unionByName(g.select(F.col("t").alias("node_id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    hub = nodes.withColumn("hub", F.lit(1.0 / n))
    auth = None
    eps = F.lit(1e-300)  # guard a degenerate all-zero round; inert at tot~1

    def _l1(df: DataFrame, col: str) -> DataFrame:
        # compute-once: without the lazy checkpoint, the 1-row total's
        # broadcast-build job re-executes the round's join+agg (see
        # plans/ids.py on why ReuseExchange misses here)
        df = df.localCheckpoint(eager=False)
        total = df.agg(F.sum(col).alias("_tot"))
        return df.crossJoin(F.broadcast(total)).select(
            "node_id",
            (F.col(col) / F.greatest(F.col("_tot"), eps)).alias(col),
        )

    for _ in range(iterations):
        araw = (
            g.join(hub.withColumnRenamed("node_id", "s"), "s")
            .groupBy(F.col("t").alias("node_id"))
            .agg(F.sum("hub").alias("authority"))
        )
        auth = _l1(araw, "authority").localCheckpoint(eager=True)
        hraw = (
            g.join(auth.withColumnRenamed("node_id", "t"), "t")
            .groupBy(F.col("s").alias("node_id"))
            .agg(F.sum("authority").alias("hub"))
        )
        hub = _l1(hraw, "hub").localCheckpoint(eager=True)
    return (
        nodes.join(hub, "node_id", "left")
        .join(auth, "node_id", "left")
        .select(
            "node_id",
            F.coalesce("hub", F.lit(0.0)).alias("hub"),
            F.coalesce("authority", F.lit(0.0)).alias("authority"),
        )
    )


def strongly_connected_components(
    edges: DataFrame,
    max_prop_iter: int = 30,
    edges_canonical: bool = False,
) -> DataFrame:
    """SCC of the DIRECTED graph (s, t) by forward-backward min-label
    partition refinement. Returns (node_id, component) with component =
    the minimum member id of the node's SCC. Id-type-agnostic: numeric
    graph ids and host strings both work (min is any total order), so
    the host link graph plugs in directly — the bow-tie decomposition
    (giant SCC / IN / OUT) of a web crawl.

    Per round, BOTH labels propagate in one table: F(v) = min id with a
    directed path TO v (flows along edges), B(v) = min id v has a path
    to (flows against edges) — one localCheckpoint + one changed-count
    action per iteration for the pair, pointer-jumped (label-of-label
    is sound: my best ancestor's best ancestor is still my ancestor).
    All members of one SCC share (F, B) exactly (mutual reachability =
    identical ancestor and descendant sets); a node with F == B == c is
    in SCC(c) precisely (c reaches v AND v reaches c), so every such
    class finalizes each round — the active subgraph's global-min node
    always qualifies, so rounds strictly progress. Surviving edges are
    cut to same-(F, B)-class endpoint pairs (an SCC never crosses a
    class boundary), so each round recurses on a strictly smaller
    subgraph. On web-shaped graphs the giant SCC and the IN/OUT
    tendrils finalize in round 1-2 (classic FW-BW behavior); the round
    bound is class-refinement depth, not #SCCs (a pure chain needs ONE
    round: every (F, B) class is a singleton, so every edge is cut).

    Scale: every step is join + partial-agg min (the exact CC shuffle
    shape), per-round lineage localCheckpoint-truncated; at 100 TB swap
    localCheckpoint for reliable cluster-store checkpointing. Reference
    analogue: none (the reference has no graph layer) — this serves the
    web link-graph analytics family (linkgraph.py).

    ``edges_canonical=True`` promises the input is already a
    checkpointed distinct (s, t) projection — composition callers
    (bowtie_classify) canonicalize once and skip the second full-edge
    dedup shuffle, the largest shuffle in the operator.
    """
    if edges_canonical:
        g = edges
    else:
        g = truncated_checkpoint(edges.select("s", "t").distinct())
    active = truncated_checkpoint(
        g.select(F.col("s").alias("node_id"))
        .unionByName(g.select(F.col("t").alias("node_id")))
        .distinct()
    )
    # empty-graph identity: zero rows in, zero (node_id, component) out
    done: DataFrame = active.select(
        "node_id", F.col("node_id").alias("component")
    ).limit(0)
    for _ in range(50):
        if active.isEmpty():
            break
        # --- joint F/B min-label fixpoint over the active subgraph ----
        labels = truncated_checkpoint(active.select(
            "node_id",
            F.col("node_id").alias("f"),
            F.col("node_id").alias("b"),
        ))
        changed = -1
        for _i in range(max_prop_iter):
            f_min = (
                g.join(
                    labels.select(
                        F.col("node_id").alias("s"), F.col("f").alias("nf")
                    ),
                    "s",
                )
                .groupBy("t")
                .agg(F.min("nf").alias("nf"))
                .withColumnRenamed("t", "node_id")
            )
            b_min = (
                g.join(
                    labels.select(
                        F.col("node_id").alias("t"), F.col("b").alias("nb")
                    ),
                    "t",
                )
                .groupBy("s")
                .agg(F.min("nb").alias("nb"))
                .withColumnRenamed("s", "node_id")
            )
            prop = (
                labels.join(f_min, "node_id", "left")
                .join(b_min, "node_id", "left")
                .select(
                    "node_id",
                    F.least(
                        F.col("f"), F.coalesce("nf", F.col("f"))
                    ).alias("f"),
                    F.least(
                        F.col("b"), F.coalesce("nb", F.col("b"))
                    ).alias("b"),
                )
            )
            # pointer jumping on each label independently
            f_root = prop.select(
                F.col("node_id").alias("f"), F.col("f").alias("_fr")
            )
            b_root = prop.select(
                F.col("node_id").alias("b"), F.col("b").alias("_br")
            )
            new_labels = truncated_checkpoint(
                prop.join(f_root, "f", "left")
                .join(b_root, "b", "left")
                .select(
                    "node_id",
                    F.coalesce("_fr", F.col("f")).alias("f"),
                    F.coalesce("_br", F.col("b")).alias("b"),
                )
            )
            changed = (
                new_labels.join(
                    labels.select(
                        "node_id",
                        F.col("f").alias("of"),
                        F.col("b").alias("ob"),
                    ),
                    "node_id",
                )
                .filter(
                    (F.col("f") != F.col("of")) | (F.col("b") != F.col("ob"))
                )
                .count()
            )
            labels = new_labels
            if changed == 0:
                break
        if changed != 0:
            # finalize/cut with NON-converged labels is silently wrong
            # (intra-SCC endpoints can land in different (F,B) classes
            # and the class cut would sever real SCC edges) — refuse,
            # matching the outer loop's non-convergence behavior
            raise ValueError(
                f"SCC label propagation did not converge in "
                f"{max_prop_iter} iterations"
            )
        # --- finalize F == B classes; cut edges across classes --------
        finalized = truncated_checkpoint(
            labels.filter(F.col("f") == F.col("b"))
            .select("node_id", F.col("f").alias("component"))
        )
        done = done.unionByName(finalized)
        remaining = truncated_checkpoint(
            labels.filter(F.col("f") != F.col("b"))
        )
        active = remaining.select("node_id")
        g = truncated_checkpoint(
            g.join(
                remaining.select(
                    F.col("node_id").alias("s"),
                    F.col("f").alias("fs"),
                    F.col("b").alias("bs"),
                ),
                "s",
            )
            .join(
                remaining.select(
                    F.col("node_id").alias("t"),
                    F.col("f").alias("ft"),
                    F.col("b").alias("bt"),
                ),
                "t",
            )
            .filter(
                (F.col("fs") == F.col("ft")) & (F.col("bs") == F.col("bt"))
            )
            .select("s", "t")
        )
    else:
        if not active.isEmpty():
            raise ValueError("SCC did not converge in 50 rounds")
    return done


def bowtie_classify(edges: DataFrame) -> DataFrame:
    """Broder bow-tie decomposition of the DIRECTED graph: returns
    (node_id, component, region) with region in {'SCC', 'IN', 'OUT',
    'TENDRIL'} — the classic structural census of a web crawl (which
    hosts sit in the giant core, which only feed it, which only drain
    it, which touch it not at all).

    Composition over :func:`strongly_connected_components`: the giant
    component is the largest SCC (ties broken by smallest component
    id, picked with a 1-row ``limit(1)`` broadcast — no driver
    action); forward/backward reachability from its members runs the
    same anti-join frontier loop as k_hop_neighborhood but DIRECTED
    and to exhaustion. A node that both reaches and is reached by the
    core would be in the core, so IN/OUT/SCC are disjoint; everything
    else (tendrils, tubes, disconnected islands) is TENDRIL.

    Scale: frontier loops shuffle only the frontier (anti-join against
    visited), the giant-id pick crosses the wire as one broadcast row,
    and phase-spanning lineage uses truncated_checkpoint (see its
    docstring for why plain localCheckpoint chains explode driver-side
    across phases).
    """
    g = truncated_checkpoint(edges.select("s", "t").distinct())
    comp = truncated_checkpoint(
        strongly_connected_components(g, edges_canonical=True)
    )
    giant = (
        comp.groupBy("component")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("component"))
        .limit(1)
        .select(F.col("component").alias("_giant"))
    )
    comp = comp.crossJoin(F.broadcast(giant))
    core = truncated_checkpoint(
        comp.filter(F.col("component") == F.col("_giant")).select("node_id")
    )

    def _reach(g_dir: DataFrame) -> DataFrame:
        """All nodes reachable from the core along g_dir (s -> t),
        core excluded from the result only by the caller's region
        precedence. Anti-join frontier expansion to exhaustion."""

        def expand(frontier, visited):
            return truncated_checkpoint(
                g_dir.join(frontier.withColumnRenamed("node_id", "s"), "s")
                .select(F.col("t").alias("node_id"))
                .distinct()
                .join(visited, "node_id", "left_anti")
            )

        visited = core
        frontier = core
        for _ in range(50):
            nxt = expand(frontier, visited)
            if nxt.isEmpty():
                break
            visited = truncated_checkpoint(visited.unionByName(nxt))
            frontier = nxt
        else:
            # budget spent, but the LAST expansion may already have
            # covered everything (eccentricity exactly 50) —
            # one extra probe decides exhausted-vs-truncated
            if not expand(frontier, visited).isEmpty():
                raise ValueError(
                    "bow-tie reachability did not exhaust in 50 hops"
                )
        return visited

    fwd = _reach(g)  # core ->* v  (OUT candidates)
    bwd = _reach(g.select(F.col("t").alias("s"), F.col("s").alias("t")))
    return (
        comp.join(
            fwd.withColumn("_fwd", F.lit(True)), "node_id", "left"
        )
        .join(bwd.withColumn("_bwd", F.lit(True)), "node_id", "left")
        .select(
            "node_id",
            "component",
            F.when(F.col("component") == F.col("_giant"), F.lit("SCC"))
            .when(F.col("_bwd"), F.lit("IN"))
            .when(F.col("_fwd"), F.lit("OUT"))
            .otherwise(F.lit("TENDRIL"))
            .alias("region"),
        )
    )


def scc_condensation(edges: DataFrame) -> DataFrame:
    """Condensation DAG of the directed graph: one node per SCC, one
    edge (cs, ct, n_edges) per ordered pair of distinct components with
    at least one original edge between them. The result is acyclic by
    construction (any cycle of components would be one SCC), which is
    what makes it the right substrate for topological passes —
    dependency layering, reachability summaries, crawl-frontier
    scheduling — over a graph whose raw form has cycles.

    One SCC run + two broadcast-friendly joins + one partial-agg
    groupBy; the component map is node-count-sized, the condensed edge
    list is component-pair-sized (both far below the raw edge count on
    web-shaped graphs).
    """
    comp = truncated_checkpoint(strongly_connected_components(edges))
    return (
        edges.select("s", "t")
        .join(
            comp.select(
                F.col("node_id").alias("s"), F.col("component").alias("cs")
            ),
            "s",
        )
        .join(
            comp.select(
                F.col("node_id").alias("t"), F.col("component").alias("ct")
            ),
            "t",
        )
        .filter(F.col("cs") != F.col("ct"))
        .groupBy("cs", "ct")
        .agg(F.count(F.lit(1)).alias("n_edges"))
    )
