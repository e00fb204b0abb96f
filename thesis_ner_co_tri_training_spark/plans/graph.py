"""Graph analytics over the materialized node/edge tables.

The north star ends at partitioned node/edge tables; these operators make
the graph queryable: degree statistics (one aggregation) and PageRank
(`pagerank_fixedpoint`, integer-scaled so its ranks are exact in any
engine; the second hand-rolled iterative driver beside linking's
connected-components — same alternating join + checkpoint pattern
GraphFrames uses, SURVEY §4).

Scale notes: PageRank's per-iteration shuffle is keyed by node id;
contribution fan-out is bounded by out-degree (power-law — AQE skew
handling plus the salted-repartition option upstream). localCheckpoint
every few rounds truncates the iterative lineage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def degree_stats(edges: DataFrame, src: str = "subj_id",
                 dst: str = "obj_id") -> DataFrame:
    """Per-node in/out/total degree. Output: node, out_deg, in_deg, degree.

    Single pass: each edge explodes into (src, out=1) + (dst, in=1) and
    one groupBy sums the flags. The naive out-leg/in-leg + full-outer
    join reads `edges` TWICE — ruinous when `edges` is an unmaterialized
    extraction subtree (Catalyst duplicates the whole upstream DAG, no
    common-subplan sharing) — and adds a join shuffle. This form is one
    scan, one shuffle, map-side partial aggregation.
    """
    both = edges.select(
        F.explode(
            F.array(
                F.struct(F.col(src).alias("node"),
                         F.lit(1).alias("o"), F.lit(0).alias("i")),
                F.struct(F.col(dst).alias("node"),
                         F.lit(0).alias("o"), F.lit(1).alias("i")),
            )
        ).alias("x")
    ).select("x.*")
    return both.groupBy("node").agg(
        F.sum("o").alias("out_deg"),
        F.sum("i").alias("in_deg"),
        F.count(F.lit(1)).alias("degree"),
    )


def pagerank_fixedpoint(edges: DataFrame, iterations: int = 10,
                        src: str = "subj_id", dst: str = "obj_id",
                        scale: int = 10**12,
                        checkpoint_every: int = 5,
                        sources: DataFrame | None = None) -> DataFrame:
    """Power-iteration PageRank with dangling-node handling, the
    engine's one PageRank: every node starts at 1/N; each iteration a
    node's rank is (1 - d)/N + d * (sum of in-neighbor contributions +
    dangling_mass/N).

    Ranks are BIGINTs in units of 1/scale; d = 0.85 is the exact rational
    85/100 and every per-edge contribution is an integer division
    (rank DIV out_deg), so all sums are order-independent integer sums —
    byte-reproducible in ANY engine (DuckDB-oracled, q47). rank / scale
    is the float rank to within the per-iteration floor-division loss
    (~iterations * N / scale; the unit test pins it to a float power
    iteration). Per iteration: one keyed contribution join + aggregate,
    one dangling-mass aggregate (a single scalar to the driver), one
    rank rebuild. Duplicate (src, dst) edges are collapsed — the
    contract is over the simple directed graph; a KG edges table with
    one row per supporting evidence should pre-weight explicitly if
    evidence multiplicity is meant to matter.

    `sources` switches to PERSONALIZED PageRank: the teleport (base)
    term and the dangling mass go uniformly to the source set only,
    and the initial rank is uniform over the sources. Same
    per-iteration shuffle shape plus one broadcast membership flag —
    relevance relative to a seed entity set, the standard KG
    relatedness primitive.
    """
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = e.select(F.col("src").alias("node")).union(
        e.select(F.col("dst").alias("node"))
    ).distinct()
    if sources is None:
        nodes = nodes.withColumn("in_s", F.lit(True))
    else:
        s_df = sources.select(
            F.col(sources.columns[0]).alias("node")).distinct()
        nodes = nodes.join(
            F.broadcast(s_df.withColumn("in_s", F.lit(True))),
            "node", "left",
        ).select("node", F.coalesce("in_s", F.lit(False)).alias("in_s"))
    nodes = nodes.localCheckpoint(eager=True)
    n = nodes.count()
    if n == 0:
        return nodes.select("node").withColumn(
            "rank", F.lit(0).cast("long"))
    # teleport population: every node (global) or the source members
    m = n if sources is None else nodes.filter("in_s").count()
    if m == 0:
        raise ValueError(
            "personalized pagerank: no source node is in the graph")

    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    base = (15 * scale // 100) // m
    in_s = F.col("in_s")
    ranks = nodes.select(
        "node",
        F.when(in_s, F.lit(scale // m)).otherwise(F.lit(0))
        .cast("long").alias("rank"),
    )
    for i in range(iterations):
        contrib = (
            e.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(out_deg, "src")
            .select("dst", F.expr("rank DIV deg").alias("c"))
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("c").alias("in_sum"))
        )
        dangling = (
            ranks.join(out_deg.withColumnRenamed("src", "node"),
                       "node", "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0)))
            .collect()[0][0]
        )
        dshare = int(dangling) // m
        ranks = (
            nodes.join(contrib, "node", "left")
            .withColumn(
                "in_total",
                F.coalesce(F.col("in_sum"), F.lit(0)).cast("long")
                + F.when(in_s, F.lit(dshare)).otherwise(F.lit(0)),
            )
            .select(
                "node",
                (F.when(in_s, F.lit(base)).otherwise(F.lit(0))
                 + F.expr("(85 * in_total) DIV 100"))
                .cast("long").alias("rank"),
            )
        )
        if (i + 1) % checkpoint_every == 0:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


def k_hop(edges: DataFrame, sources: DataFrame, k: int = 2,
          src: str = "subj_id", dst: str = "obj_id") -> DataFrame:
    """Nodes reachable in <= k directed hops: (node, hops, n_paths).

    hops = minimum hop count from the source set (sources are hop 0);
    n_paths = shortest-path fan-in: the number of distinct hop-(h-1)
    nodes with an edge into this node. The relational form of bounded
    BFS — k keyed self-joins against a materialized distinct edge table,
    no driver iteration over data; each frontier is anti-joined against
    the visited set so a node keeps its MINIMUM hop count (q35 is the
    k=2 specialization of this, kept inline for its DuckDB oracle).

    Scale: every join/agg is keyed by node id (uniform for entity
    graphs after canonicalization; salt upstream for power-law hubs);
    per-round localCheckpoint cuts the iterative lineage exactly like
    pagerank_fixedpoint above and linking.connected_components.
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
        .distinct()
        .localCheckpoint(eager=True)
    )
    frontier = sources.select(
        F.col(sources.columns[0]).alias("node")).distinct()
    visited = frontier.select(
        "node", F.lit(0).alias("hops"), F.lit(1).cast("long").alias("n_paths")
    ).localCheckpoint(eager=True)
    for h in range(1, k + 1):
        nxt = (
            frontier.join(e, frontier["node"] == e["u"])
            .groupBy(F.col("v").alias("node"))
            # frontier is distinct, so count(*) = distinct predecessors
            .agg(F.count(F.lit(1)).alias("n_paths"))
            .join(visited.select("node"), "node", "left_anti")
            .select("node", F.lit(h).alias("hops"), "n_paths")
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt)
        frontier = nxt.select("node")
    return visited


def triangle_count(edges: DataFrame, src: str = "subj_id",
                   dst: str = "obj_id") -> DataFrame:
    """Per-node triangle counts over the undirected simple graph.

    The scalable form: every edge is ORIENTED from its lower to its
    higher endpoint under the total order (degree, node id). Each
    triangle then materializes exactly once — as a wedge at its
    lowest-order vertex closed by one oriented edge — and the wedge
    join's fan-out per key is the oriented OUT-degree, which degree
    ordering bounds by O(sqrt(m)) regardless of hub size (the classic
    MapReduce triangle-counting trick; an unoriented wedge join would
    square the hottest hub's degree). Shuffles: canonical-edge
    distinct, degree agg, two joins keyed by node, closing-edge join
    keyed by (v, w), final per-node count.

    Output: (node, n_triangles) for EVERY node of the graph, zeros
    kept. Self loops and duplicate/reverse edges are collapsed first.
    """
    und = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("o"))
        .filter(F.col("s").isNotNull() & F.col("o").isNotNull()
                & (F.col("s") != F.col("o")))
        .select(F.least("s", "o").alias("a"), F.greatest("s", "o").alias("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = und.select(F.col("a").alias("node")).union(
        und.select(F.col("b").alias("node"))).distinct()
    deg = (
        und.select(F.col("a").alias("node")).union(
            und.select(F.col("b").alias("node")))
        .groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b")))
    oriented = (
        und.join(da, "a").join(db, "b")
        .select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("lo"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("hi"),
            F.when(a_first, F.col("deg_b")).otherwise(F.col("deg_a"))
            .alias("hi_deg"),
        )
        .localCheckpoint(eager=True)
    )
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    # wedge (lo -> v, lo -> w) with v before w in the SAME total order
    # the orientation uses, so the closing edge, if present, is exactly
    # the oriented edge v -> w.
    v_first = (F.col("e1.hi_deg") < F.col("e2.hi_deg")) | (
        (F.col("e1.hi_deg") == F.col("e2.hi_deg"))
        & (F.col("e1.hi") < F.col("e2.hi")))
    wedges = (
        e1.join(e2, F.col("e1.lo") == F.col("e2.lo"))
        .filter(v_first)
        .select(F.col("e1.lo").alias("u"), F.col("e1.hi").alias("v"),
                F.col("e2.hi").alias("w"))
    )
    closing = oriented.select(F.col("lo").alias("v"), F.col("hi").alias("w"))
    tris = wedges.join(closing, ["v", "w"])
    per_node = (
        tris.select(F.col("u").alias("node"))
        .union(tris.select(F.col("v").alias("node")))
        .union(tris.select(F.col("w").alias("node")))
        .groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        nodes.join(per_node, "node", "left")
        .select("node",
                F.coalesce("n_triangles", F.lit(0)).cast("long")
                .alias("n_triangles"))
    )


def shortest_paths(edges: DataFrame, sources: DataFrame,
                   iterations: int = 10, src: str = "subj_id",
                   dst: str = "obj_id", weight: str = "w",
                   checkpoint_every: int = 5) -> DataFrame:
    """Bounded Bellman-Ford: minimum path weight from a source set using
    at most `iterations` edges. Output (node, dist) — BIGINT weights, so
    every min/sum is order-independent and the whole loop is
    DuckDB-oracle-checkable (q61); unreachable-within-k nodes are
    absent. Parallel edges collapse to their MIN weight (the shortest
    path never takes the heavier twin).

    dist_{i+1}(v) = min(dist_i(v), min over edges (u,v) of
    dist_i(u) + w(u,v)) — after k rounds this is exactly "cheapest path
    with <= k edges", a well-defined contract whether or not the graph
    has converged (and equal to true shortest-path distance once k >=
    graph diameter, since weights are positive).

    Scale: per round ONE node-keyed relax join + min-aggregate and one
    min-union with the previous front — same keyed shuffle shape as
    pagerank_fixedpoint; localCheckpoint cadence cuts the iterative lineage.
    Negative weights are rejected (guarantees monotone convergence and
    the <=k-edges semantics both).
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"),
                     F.col(weight).cast("long").alias("w"))
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
        .groupBy("u", "v").agg(F.min("w").alias("w"))
        .localCheckpoint(eager=True)
    )
    # NULL weights must be rejected too, not just negatives: NULL passes
    # a `w < 0` filter (three-valued logic), then dist + NULL = NULL rows
    # would surface in the output and poison every path through them —
    # against the "unreachable nodes are absent" contract. (Weights are
    # a BIGINT contract; fractional inputs are truncated by the cast.)
    if not e.filter(F.col("w").isNull() | (F.col("w") < 0)).isEmpty():
        raise ValueError("shortest_paths: negative or NULL edge weights")
    dist = (
        sources.select(F.col(sources.columns[0]).alias("node"))
        .distinct()
        .select("node", F.lit(0).cast("long").alias("dist"))
        .localCheckpoint(eager=True)
    )
    for i in range(iterations):
        relax = (
            dist.join(e, dist["node"] == e["u"])
            .select(F.col("v").alias("node"),
                    (F.col("dist") + F.col("w")).alias("dist"))
        )
        dist = (
            dist.unionByName(relax)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
        if (i + 1) % checkpoint_every == 0:
            dist = dist.localCheckpoint(eager=True)
    return dist


def label_propagation(edges: DataFrame, iterations: int = 5,
                      src: str = "subj_id", dst: str = "obj_id",
                      checkpoint_every: int = 5) -> DataFrame:
    """Synchronous label propagation (community detection). Labels start
    as each node's own id; every round, EVERY node simultaneously takes
    the most frequent label among its neighbors (undirected), ties
    broken by the smallest label — fully deterministic, no
    sequential-update order dependence. Output (node, label) after
    exactly `iterations` rounds: a pinned contract whether or not the
    propagation has stabilized (sync LPA can 2-cycle on bipartite
    regions; fixed rounds make the output well-defined), which is what
    makes the whole loop DuckDB-oracle-checkable (q62) unlike classic
    async LPA. Isolated nodes (none in an edge list) don't occur;
    self-loops are dropped.

    Scale per round: neighbor-label count is one (node, label)-keyed
    aggregate over the symmetrized edge list joined to the label table
    (node-keyed join), then a per-node argmax via min(struct) — a
    second keyed aggregate, NO window/sort; same shape as the star-CC
    rounds. Hub skew: the hottest node contributes deg rows to a
    uniform (node, label) key space — pre-aggregated map-side.
    """
    und = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull()
                & (F.col("a") != F.col("b")))
    )
    nbrs = (
        und.unionByName(und.select(F.col("b").alias("a"),
                                   F.col("a").alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        nbrs.select(F.col("a").alias("node")).distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint(eager=True)
    )
    for i in range(iterations):
        cnt = (
            nbrs.join(labels.withColumnRenamed("node", "b"), "b")
            .groupBy(F.col("a").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            cnt.groupBy("node")
            .agg(F.min(F.struct(-F.col("c"), F.col("label"))).alias("__m"))
            .select("node", F.col("__m.label").alias("label"))
        )
        if (i + 1) % checkpoint_every == 0:
            labels = labels.localCheckpoint(eager=True)
    return labels


def random_walks(edges: DataFrame, walk_len: int = 4,
                 src: str = "subj_id", dst: str = "obj_id",
                 seed: int = 42, checkpoint_every: int = 5) -> DataFrame:
    """Deterministic hash-seeded random walks (node2vec-style walk
    corpus generation, the input to graph-embedding training). One walk
    starts at every node with an out-edge; at step i the walk at `cur`
    moves to the out-neighbor v minimizing md5_long(start, seed, i, v)
    — a pure content hash, so the "random" choice is identical across
    engines, retries and partition layouts (the reproducible-sampling
    rule from operators/selection.mix_corpus applied to graph walks).
    Dead ends simply stop extending (n_nodes < walk_len + 1).

    Output: (start, path '>'-joined, n_nodes). Fully DuckDB-oracled
    (q64): each round is one join + one per-walk argmin — the same
    md5-family portability contract as q36/q37.

    Shape at scale: per step ONE node-keyed join (cur -> out-neighbors)
    + one per-walk min-aggregate; state is one row per walk. Hub skew:
    a hot cur fans out to its out-degree candidates, aggregated
    map-side per walk key. For N walks per node, add a walk_id column
    to the hash (same plan shape, N x rows).
    """
    from ..functions.hashutil import md5_long

    e = (
        edges.select(F.col(src).cast("string").alias("u"),
                     F.col(dst).cast("string").alias("v"))
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
        .distinct()
        .localCheckpoint(eager=True)
    )
    walks = (
        e.select(F.col("u").alias("start")).distinct()
        .select("start", F.col("start").alias("cur"),
                F.col("start").alias("path"),
                F.lit(1).cast("long").alias("n_nodes"))
    )
    for i in range(1, walk_len + 1):
        cand = walks.join(e, walks["cur"] == e["u"], "left")
        pick = cand.groupBy("start", "cur", "path", "n_nodes").agg(
            F.min(
                F.when(
                    F.col("v").isNotNull(),
                    F.struct(
                        md5_long(F.col("start"), F.lit(seed), F.lit(i),
                                 F.col("v")).alias("h"),
                        F.col("v"),
                    ),
                )
            ).alias("__m")
        )
        walks = pick.select(
            "start",
            F.coalesce(F.col("__m.v"), F.col("cur")).alias("cur"),
            F.when(F.col("__m").isNull(), F.col("path"))
            .otherwise(F.concat_ws(">", "path", "__m.v")).alias("path"),
            (F.col("n_nodes")
             + F.when(F.col("__m").isNull(), 0).otherwise(1))
            .cast("long").alias("n_nodes"),
        )
        if i % checkpoint_every == 0:
            walks = walks.localCheckpoint(eager=True)
    return walks.select("start", "path", "n_nodes")


def hits_fixedpoint(edges: DataFrame, iterations: int = 8,
                    src: str = "subj_id", dst: str = "obj_id",
                    scale: int = 10**6,
                    checkpoint_every: int = 1) -> DataFrame:
    """Deterministic integer-scaled HITS (hubs & authorities,
    Kleinberg) — the link-analysis complement to PageRank for KG
    curation: authorities = entities many hub pages point at, hubs =
    pages that point at many authorities.

    Scores are BIGINTs in units of 1/scale, L1-normalized each half-step
    by integer division (x * scale DIV total), so every operation is an
    order-independent integer sum or division — byte-reproducible in any
    engine (the q47 portability recipe; q69 DuckDB-oracles all rounds).
    Per iteration: TWO keyed join+aggregate steps (authority from
    in-neighbors' hubs, hub from out-neighbors' authorities) and two
    1-row normalization aggregates joined back by broadcast — no driver
    collect in the loop. Duplicate edges collapse (simple digraph).

    checkpoint_every defaults to 1 (tighter than pagerank_fixedpoint's 5): each
    score relation is referenced TWICE downstream (its normalization
    total and the next half-step's join), so uncut lineage re-expands
    ~2x per half-step — 8 uncut rounds audit at 135 shuffles vs ~4
    per round with the per-iteration cut. The node-score table is one
    row per node, so the materialization is the cheap side of that
    trade at any scale.

    Output: (node, hub, authority). Nodes with no in-edges get
    authority 0; no out-edges -> hub 0.
    """
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = e.select(F.col("src").alias("node")).union(
        e.select(F.col("dst").alias("node"))
    ).distinct().localCheckpoint(eager=True)

    def _norm(raw: DataFrame, col: str) -> DataFrame:
        """nodes left-joined with raw scores, L1-normalized to `scale`
        by integer division (broadcast 1-row total).

        The multiply-divide runs in DECIMAL(38,0): x*scale in BIGINT
        overflows on the first iteration for hubs with in-degree >
        ~9.2e18/scale^2 (~9e6 at the default scale — a power-law hub is
        exactly this operator's target), where decimal is exact to 1e38
        and DIV truncation matches BIGINT DIV on the non-negative
        scores, so results are bit-identical where both are defined
        (q69 stays pinned). The result is <= scale by construction
        (x <= total), so the final BIGINT cast never overflows. `scale`
        should comfortably exceed the active node count or mid-loop
        scores floor to 0 (total 0 -> a loud ANSI DIVIDE_BY_ZERO, by
        design): at KG scale pass scale ~ 1e6 * nodes, cheap in decimal.
        """
        total = raw.agg(
            F.sum(F.col(col).cast("decimal(38,0)")).alias("__tot"))
        return (
            nodes.join(raw, "node", "left")
            .crossJoin(F.broadcast(total))
            .select(
                "node",
                F.expr(f"CAST(CAST(coalesce({col}, 0) AS DECIMAL(38,0))"
                       f" * {scale} DIV __tot AS BIGINT)").alias(col),
            )
        )

    if iterations < 1:
        raise ValueError("hits_fixedpoint: iterations must be >= 1 "
                         "(authority is undefined before the first "
                         "half-step)")
    h = nodes.select("node", F.lit(scale).cast("long").alias("hub"))
    a = None
    for i in range(1, iterations + 1):
        a_raw = (
            e.join(h, e["src"] == h["node"])
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("hub").alias("authority"))
        )
        a = _norm(a_raw, "authority")
        h_raw = (
            e.join(a, e["dst"] == a["node"])
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("authority").alias("hub"))
        )
        h = _norm(h_raw, "hub")
        if i % checkpoint_every == 0:
            h = h.localCheckpoint(eager=True)
            a = a.localCheckpoint(eager=True)
    return h.join(a, "node").select("node", "hub", "authority")


def strongly_connected_components(edges: DataFrame, src: str = "subj_id",
                                  dst: str = "obj_id",
                                  max_rounds: int = 100,
                                  max_inner: int = 256,
                                  checkpoint_every: int = 4) -> DataFrame:
    """Strongly connected components of the DIRECTED edge list — the
    directed twin of linking.connected_components. On a KG/link graph
    SCCs surface mutual-reference clusters (link farms, circular
    citation rings, template navigation loops) that undirected CC
    over-merges into one blob.

    Algorithm: the distributed coloring / FW-BW-MIN scheme (Orzan 2004;
    the Pregel-style SCC used by large-graph systems), driver-loop form:

      1. forward-min coloring to fixpoint: color(u) starts at u and
         absorbs min(color(v)) over out-edges (u, v) — converges to the
         MIN node id forward-reachable from u, so color(c) = c exactly
         for pivot nodes;
      2. pivot sweep: from every pivot c simultaneously, propagate
         "c reaches me" along edges RESTRICTED to color class c; a node
         u with color(u) = c and c ->* u satisfies u ->* c (the color)
         and c ->* u (the sweep), i.e. u is in SCC(c) — and c is its
         minimum member, so scc_id = c directly;
      3. remove every assigned SCC (whole color classes never split an
         SCC) and repeat on the remaining subgraph.

    Plus the standard TRIM step (the "FW-BW-Trim" refinement) before
    each coloring round: a node with no in-edge or no out-edge in the
    active subgraph cannot sit in a multi-node SCC, so it is assigned
    scc_id = itself immediately. Trimming strips DAG tails/heads with
    two cheap anti-joins per pass — without it, a descending-id path of
    length L costs L full coloring rounds (one pivot SCC assigned per
    round); with it, the expensive coloring only ever runs on the
    2-core-ish remainder where every node has both in- and out-edges.
    A partially-converged trim is safe (it is an optimization, not a
    correctness step), so the trim loop never raises.

    Output: (node, scc_id) for every node in the edge list EXCEPT nodes
    whose only edges are self-loops — the u != v filter drops them
    entirely (pinned by test_scc_matches_tarjan: node 'z' absent), and
    q73's oracle matches. Callers that need them as singleton SCCs must
    union them back in. scc_id = min member id. Exact SCC semantics (run to fixpoint, not a fixed
    round count), DuckDB-oracled via recursive-CTE mutual reachability
    (q73). Raises if max_rounds/max_inner stop the color/sweep loops
    early.

    Scale: each inner step is ONE node-keyed join + min-aggregate (the
    pagerank_fixedpoint shuffle shape); the sweep joins are keyed the same way and
    the per-round driver action is an emptiness probe (isEmpty).
    Inner iteration count tracks graph diameter, outer rounds the
    condensation-DAG peeling depth after trimming — both small on
    web-scale graphs relative to the per-round cost. localCheckpoint
    cadence cuts iterative lineage.
    """
    e_all = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull()
                & (F.col("u") != F.col("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    active_nodes = (
        e_all.select(F.col("u").alias("node"))
        .unionByName(e_all.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    e = e_all
    assigned = active_nodes.select(
        "node", F.col("node").alias("scc_id")).limit(0)
    for _ in range(max_rounds):
        if active_nodes.isEmpty():
            break
        # 0. trim: no-in-edge or no-out-edge nodes are singleton SCCs.
        # Deliberately UNCAPPED (unlike the color/sweep loops): every
        # pass removes >= 1 node or breaks, so it terminates, and a cap
        # here would leave a long path remnant that then blows the
        # coloring's max_inner bound (a ~200-node descending path trims
        # in ~100 cheap passes; capped at 64 it would crash coloring).
        while True:
            srcs = e.select(F.col("u").alias("node")).distinct()
            dsts = e.select(F.col("v").alias("node")).distinct()
            trivial = (
                active_nodes.join(srcs, "node", "left_anti")
                .unionByName(active_nodes.join(dsts, "node", "left_anti"))
                .distinct()
                .localCheckpoint(eager=True)
            )
            if trivial.isEmpty():
                break
            assigned = assigned.unionByName(
                trivial.select("node", F.col("node").alias("scc_id"))
            ).localCheckpoint(eager=True)
            active_nodes = (
                active_nodes.join(trivial, "node", "left_anti")
                .localCheckpoint(eager=True)
            )
            e = (
                e.join(active_nodes.withColumnRenamed("node", "u"), "u")
                .join(active_nodes.withColumnRenamed("node", "v"), "v")
                .select("u", "v")
                .localCheckpoint(eager=True)
            )
        if active_nodes.isEmpty():
            break
        # 1. forward-min coloring to fixpoint
        color = active_nodes.select("node", F.col("node").alias("color"))
        for i in range(max_inner):
            absorbed = (
                e.join(color.withColumnRenamed("node", "v"), "v")
                .select(F.col("u").alias("node"), "color")
            )
            new_color = (
                color.unionByName(absorbed)
                .groupBy("node")
                .agg(F.min("color").alias("color"))
            )
            if (i + 1) % checkpoint_every == 0:
                new_color = new_color.localCheckpoint(eager=True)
            settled = (
                new_color.join(color.withColumnRenamed("color", "__old"),
                               "node")
                .filter(F.col("color") != F.col("__old"))
                .isEmpty()
            )
            color = new_color
            if settled:
                break
        else:
            raise RuntimeError(
                "strongly_connected_components: coloring did not converge "
                f"within max_inner={max_inner} iterations")
        color = color.localCheckpoint(eager=True)
        # 2. pivot sweep: propagate pivot-reaches-me within color classes
        reached = (
            color.filter(F.col("node") == F.col("color"))
            .localCheckpoint(eager=True)
        )
        n_reached = reached.count()
        for i in range(max_inner):
            step = (
                reached.withColumnRenamed("node", "u").join(e, "u")
                .select(F.col("v").alias("node"), "color")
                .join(color, ["node", "color"])  # stay inside the class
            )
            new_reached = reached.unionByName(step).distinct()
            if (i + 1) % checkpoint_every == 0:
                new_reached = new_reached.localCheckpoint(eager=True)
            n_new = new_reached.count()
            grown = n_new - n_reached
            reached, n_reached = new_reached, n_new
            if grown == 0:
                break
        else:
            raise RuntimeError(
                "strongly_connected_components: pivot sweep did not "
                f"converge within max_inner={max_inner} iterations")
        scc = reached.select("node", F.col("color").alias("scc_id"))
        assigned = assigned.unionByName(scc).localCheckpoint(eager=True)
        # 3. peel: drop assigned nodes and their edges
        active_nodes = (
            active_nodes.join(scc.select("node"), "node", "left_anti")
            .localCheckpoint(eager=True)
        )
        e = (
            e.join(active_nodes.withColumnRenamed("node", "u"), "u")
            .join(active_nodes.withColumnRenamed("node", "v"), "v")
            .select("u", "v")
            .localCheckpoint(eager=True)
        )
    else:
        # the loop body breaks as soon as active_nodes empties, but a
        # peel that finishes in EXACTLY max_rounds rounds exhausts the
        # range first — only raise if nodes genuinely remain
        if not active_nodes.isEmpty():
            raise RuntimeError(
                "strongly_connected_components: peeling did not finish "
                f"within max_rounds={max_rounds} rounds")
    return assigned


def scc_condensation(edges: DataFrame, src: str = "subj_id",
                     dst: str = "obj_id", **scc_kwargs) -> DataFrame:
    """Condensation of the directed graph: collapse every strongly
    connected component (strongly_connected_components above) to one
    node and keep the distinct between-component edges — the standard
    cycle-free rollup (the condensation is always a DAG), e.g. a web
    link graph reduced to its mutual-reference clusters so downstream
    DAG-only analytics (topological layering, longest paths, dominator
    trees) become applicable.

    Output: (src_scc, dst_scc, n_edges) — component ids are the SCC min
    member, n_edges counts the DISTINCT original (u, v) edges collapsed
    into the condensed edge; intra-component edges drop. Fully
    DuckDB-oracled (q75).

    Shape at scale: the SCC fixpoint dominates; the rollup itself is
    two node-keyed joins + one (src_scc, dst_scc)-keyed count.
    """
    scc = strongly_connected_components(edges, src=src, dst=dst,
                                        **scc_kwargs)
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull()
                & (F.col("u") != F.col("v")))
        .distinct()
    )
    return (
        e.join(scc.withColumnRenamed("node", "u")
               .withColumnRenamed("scc_id", "src_scc"), "u")
        .join(scc.withColumnRenamed("node", "v")
              .withColumnRenamed("scc_id", "dst_scc"), "v")
        .filter(F.col("src_scc") != F.col("dst_scc"))
        .groupBy("src_scc", "dst_scc")
        .agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    )


def dag_longest_path_levels(edges: DataFrame, src: str = "src_scc",
                            dst: str = "dst_scc",
                            max_iter: int = 200,
                            checkpoint_every: int = 8) -> DataFrame:
    """Topological layering of a DAG: level(v) = length in edges of the
    LONGEST path ending at v (sources = 0) — the critical-path layering
    that schedules dependency graphs and stratifies a condensed link
    graph by derivation depth. Run on scc_condensation output (any
    cycle-free edge list works; the SCC rollup is what guarantees
    acyclicity for a web graph).

    Exact fixpoint by max-relaxation: level <- max(level, in-neighbor
    level + 1) per round, converging in depth(DAG) rounds — the max-
    plus twin of shortest_paths' min-relaxation, same one keyed join +
    one keyed aggregate per round, an emptiness probe per round,
    localCheckpoint cadence. A cycle would relax forever, so exceeding
    max_iter raises (cycle or depth > max_iter) instead of silently
    returning a non-fixpoint. DuckDB-oracled via recursive-CTE path
    enumeration + max (q76).
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull()
                & (F.col("u") != F.col("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    lev = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .distinct()
        .select("node", F.lit(0).cast("long").alias("level"))
        .localCheckpoint(eager=True)
    )
    for i in range(max_iter):
        relax = (
            lev.join(e, lev["node"] == e["u"])
            .select(F.col("v").alias("node"),
                    (F.col("level") + 1).alias("level"))
        )
        new_lev = (
            lev.unionByName(relax)
            .groupBy("node")
            .agg(F.max("level").alias("level"))
        )
        if (i + 1) % checkpoint_every == 0:
            new_lev = new_lev.localCheckpoint(eager=True)
        settled = (
            new_lev.join(lev.withColumnRenamed("level", "__old"), "node")
            .filter(F.col("level") != F.col("__old"))
            .isEmpty()
        )
        lev = new_lev
        if settled:
            return lev
    raise RuntimeError(
        "dag_longest_path_levels: no fixpoint within "
        f"max_iter={max_iter} rounds — cyclic input or deeper DAG")


def kcore(edges: DataFrame, src: str = "subj_id", dst: str = "obj_id",
          max_rounds: int = 100,
          checkpoint_every: int = 2) -> DataFrame:
    """k-core decomposition (coreness per node) of the UNDIRECTED
    simple graph induced by the edge list, via the h-index fixpoint
    (Lü et al. 2016 "The H-index of a network node"; distributed form:
    Montresor et al. 2013): start every node at its degree, then
    repeatedly set core(v) = H({core(u) : u ~ v}) — the largest h such
    that at least h neighbors currently have core >= h. The sequence is
    pointwise non-increasing (H of the neighborhood is bounded by the
    degree) and its fixpoint is exactly the coreness, the same numbers
    the sequential min-degree peel produces (tests pin it to a
    pure-Python peel on hand-built and seeded random graphs).

    Self-loops are dropped and direction/duplicates collapse to a
    canonical undirected simple edge set before degrees are taken —
    peel semantics are about NEIGHBORS, not edge multiplicity.

    Per round the h-index is computed WITHOUT per-node arrays (a
    collect_list of a power-law hub's neighborhood is exactly the skew
    bomb to avoid at web scale): join current cores onto the
    symmetrized edges, groupBy (node, neighbor_core) count — map-side
    combinable, so a 10^8-degree hub arrives pre-reduced to at most
    #distinct-core-values rows — then one per-node window over those
    distinct values computes H = max(min(c, #neighbors with core >= c))
    (f(c) is a step function, so checking the distinct values is
    exhaustive). Two keyed shuffles per round, the star-CC shape;
    convergence probe is isEmpty(); localCheckpoint cadence cuts
    iterative lineage. Rounds-to-fixpoint is bounded by the graph's
    degeneracy ordering depth — small on web graphs.

    Output: (node, core BIGINT). Raises past max_rounds (exact
    semantics, never a silently unconverged estimate). q78
    DuckDB-oracles the full loop: the oracle unrolls a fixed round
    budget of the identical round body, which equals the fixpoint
    whenever the engine converged within that budget (extra oracle
    rounds are no-ops at the fixpoint).
    """
    from pyspark.sql import Window as W

    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull()
                & (F.col("a") != F.col("b")))
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
    )
    sym = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint(eager=True)

    cur = (
        sym.groupBy(F.col("a").alias("node"))
        .agg(F.count("*").cast("long").alias("core"))
        .localCheckpoint(eager=True)
    )
    w = (
        W.partitionBy("node").orderBy(F.col("ncore").desc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    for i in range(1, max_rounds + 1):
        counted = (
            sym.join(cur.withColumnRenamed("node", "b")
                        .withColumnRenamed("core", "ncore"), "b")
            .groupBy(F.col("a").alias("node"), "ncore")
            .agg(F.count("*").alias("cnt"))
        )
        new = (
            counted.withColumn("cnt_ge", F.sum("cnt").over(w))
            .groupBy("node")
            .agg(F.max(F.least(F.col("ncore"), F.col("cnt_ge")))
                 .cast("long").alias("core"))
        )
        if checkpoint_every and i % checkpoint_every == 0:
            new = new.localCheckpoint(eager=True)
        settled = (
            new.join(cur.withColumnRenamed("core", "__old"), "node")
            .filter(F.col("core") != F.col("__old"))
            .isEmpty()
        )
        cur = new
        if settled:
            return cur
    raise RuntimeError(
        f"kcore: no fixpoint within max_rounds={max_rounds}")
