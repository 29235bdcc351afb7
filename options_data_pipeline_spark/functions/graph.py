"""PageRank — the iterative-join sibling of connected components (the
other classic "many rounds over one edge table" workload a 100 TB
analytics engine must run without driver-side graph state).

Spark-first: each iteration is ONE edge⋈rank join + one dst-grain
aggregate — the edge table is the fact (shuffled on src, then dst), the
rank table is node-grain (small relative to edges) and broadcast. Iterations
unroll into the logical plan (bounded iters) — for long runs compose
with the CC module's round checkpointer to keep lineage flat.

Float discipline (the part that makes the unrolled DuckDB oracle hash
EXACT, see CORRECTNESS rules): per-edge contributions are a single
double division ROUNDED to the 12-dp grid and cast to DECIMAL(32,12);
the per-node in-sum is then an EXACT decimal aggregate (order-free);
the damping update is two single IEEE ops on that exact sum, re-snapped
to the grid. Every iteration therefore produces bit-identical ranks in
any engine that follows the same recipe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

GRID = 12  # decimal places of the rank grid


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    redistribute: bool = False,
) -> DataFrame:
    """Ranks after ``iters`` power iterations on a DIRECTED edge list
    (feed both directions for an undirected graph). Nodes = every id
    appearing as src or dst; by default sinks (no out-edges) simply
    contribute nothing — fine for the symmetric graphs this registry
    feeds, where every node has out-edges, but on a directed
    citation-style graph that LEAKS rank mass every round.
    ``redistribute=True`` adds the standard dangling-mass correction:
    each round, the total rank D sitting on sink nodes is shared to all
    nodes as damping·D/N (one anti-join + broadcast 1-row per round;
    keeps Σrank ≈ 1). Grid discipline: D is an exact decimal sum of
    grid ranks, its share a single-op double chain mirrored by the
    oracle — still bit-exact cross-engine.

    Output: (node, rank) with rank a 12-dp-grid double, summing to ≤ 1.

    The node-grain side of every per-round join is hinted broadcast —
    right whenever nodes ≪ edges (dimension-sized graphs like the item
    graph: localCheckpointed inputs carry no stats, so Spark falls to
    SortMergeJoin without the hint).
    """
    # the edge subtree feeds EVERY iteration's join plus nodes/deg —
    # unrolled lazily it re-derives per consumer (measured: the
    # 3-iteration registry query planned 105 exchanges / 9 SMJs;
    # materialized: the edge build runs once and each round starts
    # from a flat scan). Same eager-at-construction contract as the
    # CC loop's round checkpointer.
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).localCheckpoint()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg")).localCheckpoint()
    n_df = nodes.agg(F.count(F.lit(1)).alias("n_nodes"))
    # rank0 = round(1/N, 12): one double division + half-away round —
    # engine-identical
    ranks = nodes.crossJoin(F.broadcast(n_df)).select(
        "node",
        "n_nodes",
        F.round(F.lit(1.0) / F.col("n_nodes"), GRID)
        .cast(f"decimal(32,{GRID})")
        .alias("rank"),
    )
    for _ in range(iters):
        if redistribute:
            # the dangling sum makes ranks a TWO-consumer subtree per
            # round (contribs + D) — unrolled lazily the plan doubles
            # per iteration (measured: 63 exchanges at 3 rounds vs 19
            # materialized). Node-grain checkpoint, cheap by definition.
            ranks = ranks.localCheckpoint()
        contribs = (
            e.join(F.broadcast(ranks.select(F.col("node").alias("src"), "rank")), "src")
            .join(F.broadcast(deg), "src")
            .select(
                F.col("dst").alias("node"),
                F.round(
                    F.col("rank").cast("double") / F.col("out_deg"), GRID
                )
                .cast(f"decimal(32,{GRID})")
                .alias("contrib"),
            )
        )
        in_sums = contribs.groupBy("node").agg(
            F.sum("contrib").alias("in_sum")  # EXACT decimal aggregate
        )
        new_rank = (
            (F.lit(1.0) - F.lit(damping)) / F.col("n_nodes")
            + F.lit(damping)
            * F.coalesce(F.col("in_sum").cast("double"), F.lit(0.0))
        )
        base = ranks.select("node", "n_nodes", "rank").join(
            F.broadcast(in_sums), "node", "left"
        )
        if redistribute:
            # D = exact decimal sum of the grid ranks on sink nodes
            # (anti-join against out-degrees); its per-node share is a
            # single-op double chain, order-mirrored by the oracle
            # checkpointed deg carries no stats → the anti-join would
            # fall to SMJ without the hint (node-grain side)
            sink_probe = F.broadcast(deg.select(F.col("src").alias("node")))
            dang = ranks.join(sink_probe, "node", "left_anti").agg(
                F.coalesce(
                    F.sum("rank"), F.lit(0).cast(f"decimal(32,{GRID})")
                ).alias("dang")
            )
            base = base.crossJoin(F.broadcast(dang))
            new_rank = new_rank + F.lit(damping) * (
                F.col("dang").cast("double") / F.col("n_nodes")
            )
        ranks = base.select(
            "node",
            "n_nodes",
            F.round(new_rank, GRID)
            .cast(f"decimal(32,{GRID})")
            .alias("rank"),
        )
    return ranks.select("node", F.col("rank").cast("double").alias("rank"))


def triangle_counts(
    edges: DataFrame,
    u: str = "u",
    v: str = "v",
) -> DataFrame:
    """Exact per-node triangle counts on an UNDIRECTED edge list (one row
    per unordered pair, any orientation; duplicates/self-loops dropped).

    Spark-first edge-iterator with DEGREE ORIENTATION — the standard
    distributed-triangle trick (cf. Suri & Vassilvitskii, "Counting
    Triangles and the Curse of the Last Reducer", WWW'11): orient every
    edge from its lower-(degree, id) endpoint to the higher one, then
    for each oriented edge (a, b) count |N⁺(a) ∩ N⁺(b)| over the
    oriented out-neighbor lists. Out-degrees under this orientation are
    O(sqrt(|E|))-bounded, so the intersection work is Σ outdeg² — the
    skewed hub that would explode a naive shared-neighbor join
    (outdeg = graph degree, wedges = deg²) instead contributes almost
    nothing because hubs sort LAST and receive edges rather than emit
    them. The Σ outdeg² term never crosses an exchange: it lives inside
    array_intersect over node-grain adjacency arrays attached to the
    edge stream by two equi-joins (r12 — the previous wedge-join form
    materialized and SHUFFLED Σ outdeg² rows into a closing hash join,
    the measured dominant stage). No windows, no driver state;
    per-node counts are one explode + one map-side-combinable count.
    100 TB posture: the only shuffled payloads are edge-grain rows and
    O(√E)-bounded adjacency arrays.

    Returns (node, n_triangles) for every node of the graph, 0 included.
    """
    e_raw = (
        edges.select(F.col(u).alias("a"), F.col(v).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .distinct()
        # the canonical edge table feeds THREE consumers (degrees + both
        # orientation joins) and the oriented table three more — unrolled
        # lazily each consumer re-derives the upstream build (measured on
        # the co-purchase registry query: 69 exchanges / 9 SMJs; with the
        # two materialization points: the build runs once and the
        # downstream plan is flat). Same eager-at-construction contract
        # as pagerank/the CC round checkpointer.
        .localCheckpoint()
    )
    # degree per node (undirected)
    deg = (
        e_raw.select(F.col("a").alias("node"))
        .unionAll(e_raw.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # the 0-count scaffold reads the node set off the same degree agg
    # (ReusedExchange, not a second distinct over edges)
    nodes = deg.select("node")
    # node-grain (≪ edges for any graph with average degree > 2);
    # checkpointed inputs carry no stats, so Spark would fall to SMJ
    # without the hint — same lesson as pagerank's broadcast joins.
    deg = F.broadcast(deg)
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    # orient low-(deg,id) -> high-(deg,id); node ids give the total tiebreak
    lt = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    oriented = (
        e_raw.join(da, "a")
        .join(db, "b")
        .select(
            F.when(lt, F.col("a")).otherwise(F.col("b")).alias("src"),
            F.when(lt, F.col("b")).otherwise(F.col("a")).alias("dst"),
            F.when(lt, F.col("deg_a")).otherwise(F.col("deg_b")).alias("deg_src"),
            F.when(lt, F.col("deg_b")).otherwise(F.col("deg_a")).alias("deg_dst"),
        )
        .localCheckpoint()
    )
    # r12 (guide §2.3 "shuffle fewer bytes" / §2.4): the wedge-join form
    # materialized Σ outdeg² wedge ROWS and shuffled them into a closing
    # hash join — the measured dominant stage (27.7 s of a 38.8 s run,
    # 395 s of task time at sf0.1). The adjacency-intersection form
    # (GraphFrames-style edge iterator) never materializes a wedge:
    # each ORIENTED closing edge (a, b) joins the two out-neighbor
    # arrays and counts |N⁺(a) ∩ N⁺(b)| in place. The same Σ outdeg²
    # work now happens inside array_intersect over in-memory arrays —
    # what crosses the exchanges is edge-grain rows carrying
    # O(√E)-bounded arrays (Σ elements = Σ outdeg², but 8-byte array
    # slots instead of shuffled+hash-probed rows). Triangle {u,v,w}
    # (u→v, u→w, v→w) is found exactly once, at edge (u,v) with common
    # neighbor w — the identical multiset of (node, +1) contributions
    # the closed-wedge explode emitted, so counts are bit-identical.
    # adj feeds BOTH endpoint joins below; without a materialization
    # point the planner re-runs the collect_list agg once per join —
    # the r12 committed plan shows two partial_collect_list towers
    # and no ReusedExchange (ADVICE r12). Node-grain rows (≤ one
    # O(√E)-bounded array per node), so the checkpoint is tiny
    # relative to re-aggregating the edge stream.
    adj = (
        oriented.groupBy("src").agg(F.collect_list("dst").alias("nbrs")).localCheckpoint()
    )
    closed = (
        oriented.select("src", "dst")
        .join(adj.select(F.col("src").alias("_sa"), F.col("nbrs").alias("na")),
              F.col("src") == F.col("_sa"))
        .join(adj.select(F.col("src").alias("_sb"), F.col("nbrs").alias("nb")),
              F.col("dst") == F.col("_sb"))
        .select("src", "dst", F.array_intersect("na", "nb").alias("ws"))
        .filter(F.size("ws") > 0)
    )
    per_node = (
        closed.select(
            F.explode(
                F.concat(
                    F.col("ws"),
                    F.array_repeat(F.col("src"), F.size("ws")),
                    F.array_repeat(F.col("dst"), F.size("ws")),
                )
            ).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        nodes.join(per_node, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("n_triangles"), F.lit(0)).alias("n_triangles"),
        )
    )


def kcore(
    edges: DataFrame,
    k: int = 2,
    max_iters: int = 8,
    u: str = "u",
    v: str = "v",
) -> DataFrame:
    """Members of the k-core (the maximal subgraph where every node has
    degree ≥ k) of an UNDIRECTED edge list, with each member's in-core
    degree — the classic peeling fixpoint: repeatedly drop nodes whose
    degree among SURVIVORS is < k.

    Spark-first iterative peel, same family as connected components /
    pagerank: each round is two semi-joins (edges among survivors) + one
    endpoint-explode degree aggregate, with the survivor set
    localCheckpointed so lineage stays flat (the CC round-checkpointer
    contract; reliable-checkpoint mode applies on a cluster). The loop
    early-exits at the fixpoint — survivor count is monotone
    non-increasing, so comparing successive counts is a correct and
    cheap convergence test — and raises if ``max_iters`` rounds don't
    converge (peeling depth is bounded by the graph's degeneracy
    ordering depth, single digits for organic co-occurrence graphs;
    raise it for adversarial chains). 100 TB posture: every round
    shuffles the edge table on its keys only (survivors broadcast:
    node-grain ≪ edge-grain), no driver-side graph state beyond one
    count per round.
    """
    e_all = (
        edges.select(F.col(u).alias("a"), F.col(v).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
        .localCheckpoint()
    )
    alive = (
        e_all.select(F.col("a").alias("node"))
        .unionAll(e_all.select(F.col("b").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n_alive = alive.count()
    # survivor sets are node-grain, so they broadcast (same contract as
    # pagerank / triangle_counts)
    for _ in range(max_iters):
        surv = (
            e_all.join(
                F.broadcast(alive.select(F.col("node").alias("a"))), "a", "left_semi"
            ).join(
                F.broadcast(alive.select(F.col("node").alias("b"))), "b", "left_semi"
            )
        )
        deg = (
            surv.select(F.explode(F.array("a", "b")).alias("node"))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("core_deg"))
        )
        new_alive = deg.filter(F.col("core_deg") >= k).localCheckpoint()
        n_new = new_alive.count()
        alive = new_alive.select("node")
        if n_new == n_alive:
            return new_alive
        n_alive = n_new
    raise RuntimeError(
        f"k-core peeling did not converge in {max_iters} rounds "
        f"({n_alive} nodes still alive); raise max_iters"
    )


def label_propagation(
    edges: DataFrame,
    rounds: int = 4,
    u: str = "u",
    v: str = "v",
) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation over an
    undirected edge list: every node starts as its own label; each round
    it adopts the most frequent label among its neighbors, ties broken
    by the SMALLEST label. Runs a FIXED number of rounds — plain LPA has
    no convergence guarantee (bipartite-ish regions oscillate under
    synchronous updates), so a deterministic round count is the
    reproducible contract (and what makes a bit-exact unrolled SQL twin
    possible); 3–5 rounds is the standard working range on social/
    co-occurrence graphs.

    Spark shape per round: one edge⋈label join per direction (the edge
    table shuffles on its key once; label tables are node-grain and
    broadcast), a (node, label) count, and an
    argmax-by-(count, −label) picked as a struct MIN — partial-
    aggregable, no window. Labels localCheckpoint per round (the CC/
    kcore round-checkpointer contract) so lineage stays flat.
    Returns (node, label).
    """
    e = (
        edges.select(F.col(u).alias("a"), F.col(v).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint()
    )
    # same broadcast contract as kcore: node-grain label tables broadcast
    for _ in range(rounds):
        la = labels.select(F.col("node").alias("a"), "label")
        lb = labels.select(F.col("node").alias("b"), "label")
        msgs = (
            e.join(F.broadcast(la), "a").select(F.col("b").alias("node"), "label")
            .unionAll(
                e.join(F.broadcast(lb), "b").select(
                    F.col("a").alias("node"), "label"
                )
            )
        )
        cnt = msgs.groupBy("node", "label").agg(F.count(F.lit(1)).alias("c"))
        # most frequent label, ties to the smallest: min of (-count, label)
        labels = (
            cnt.groupBy("node")
            .agg(F.min(F.struct((-F.col("c")).alias("nc"), F.col("label").alias("l"))).alias("p"))
            .select("node", F.col("p.l").alias("label"))
            .localCheckpoint()
        )
    return labels


def adamic_adar(
    edges: DataFrame,
    u: str = "u",
    v: str = "v",
    max_center_degree: int = 1024,
    min_common: int = 2,
) -> DataFrame:
    """Adamic–Adar link prediction on an UNDIRECTED edge list: for every
    NON-adjacent pair (a, b) sharing >= ``min_common`` neighbors, the
    score sum(1 / ln(deg(y))) over common neighbors y — the classic
    "people/items you may also like" recommender primitive (Adamic &
    Adar 2003), and the item-graph completion step a co-purchase model
    feeds from.

    Scale shape: candidate pairs are generated ONLY through shared
    centers (one self-join of the adjacency list keyed on the CENTER
    node — never corpus x corpus), and centers with degree >
    ``max_center_degree`` are dropped before the wedge join: a hub's
    wedge fan-out is deg^2 in ONE join key (the same giant-basket
    failure mode the co-purchase edge build caps) while its per-wedge
    signal 1/ln(deg) is the SMALLEST of any center, so the standard
    practice is to cap exactly as stop-words are capped in the posting
    lists (inverted_index_build's bound, applied to graphs). The cap is
    part of the operator's documented contract and mirrored by the
    oracle. Known-edge removal is one left-anti join at pair grain.

    Determinism (oracle hash-exactness): degrees are exact ints;
    1/ln(deg) is a single-op chain of exactly-rounded IEEE ops
    (bit-identical cross-engine); per-pair summation snaps each term to
    the 12-dp DECIMAL grid so accumulation order cannot leak (the same
    discipline as pagerank's contribution sums).

    Returns (node_a, node_b, n_common, aa_score), node_a < node_b.
    """
    e = (
        edges.select(F.col(u).alias("a"), F.col(v).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
        # feeds the adjacency build twice (via the union) + the final
        # anti-join — same multi-consumer contract as triangle_counts
        .localCheckpoint()
    )
    adj = e.select(F.col("a").alias("node"), F.col("b").alias("nbr")).unionAll(
        e.select(F.col("b").alias("node"), F.col("a").alias("nbr"))
    )
    # node-grain side onto the edge-grain adjacency; checkpointed inputs
    # carry no stats -> explicit hint (triangle_counts lesson)
    deg = F.broadcast(adj.groupBy("node").agg(F.count(F.lit(1)).alias("d")))
    ctr = adj.join(deg, "node").filter(F.col("d") <= max_center_degree)
    ca = ctr.select("node", F.col("nbr").alias("node_a"), "d")
    cb = ctr.select("node", F.col("nbr").alias("node_b"))
    wedges = ca.join(cb, "node").filter(F.col("node_a") < F.col("node_b"))
    term = F.round(F.lit(1.0) / F.log(F.col("d")), 12).cast("decimal(32,12)")
    cand = wedges.groupBy("node_a", "node_b").agg(
        F.count(F.lit(1)).alias("n_common"),
        F.sum(term).cast("double").alias("aa_score"),
    )
    return cand.filter(F.col("n_common") >= min_common).join(
        e.select(F.col("a").alias("node_a"), F.col("b").alias("node_b")),
        ["node_a", "node_b"],
        "left_anti",
    )
