"""Graph analytics over the materialized triple store: degree tables,
degree-ordered triangle counting, fixed-iteration PageRank, and k-core
peeling.

The reference serves its graph through per-seed BFS/lookup queries
(kgserver/query/subgraph.py:32-120, kgraph H1-H4 parity in graph.py) but
has no whole-graph analytics; these are the standard next questions a KG
user asks of a materialized triple store (hub detection, clustering
structure, entity importance) and are implemented Spark-first as
extensions — declarative joins/aggs only, no RDDs, no driver loops over
collected data.

Scale notes (the 100-TB story for each):

* degrees — one union + one groupBy(node); partial aggregation halves the
  shuffle, output is node-cardinality.
* triangles — the classic degree-ordered orientation: every undirected
  edge is directed from the endpoint with the smaller (degree, id) key to
  the larger, which bounds every node's out-degree by O(sqrt(m)) on any
  graph. Wedges are generated only from each node's oriented out-list
  (sum of out-deg^2 ≪ sum of deg^2 — the naive wedge count that kills
  hub-heavy KGs), then closed with one semi-join against the oriented
  edge list. No CartesianProduct; three shuffles total (degree, wedge
  self-join, closing join), all on ids.
* pagerank — fixed-iteration (the batch form used for ranking snapshots;
  no convergence action needed). Rank and out-degree live in one frame
  keyed by node; each iteration is one edges⋈ranks shuffle + one
  groupBy(dst). The dangling-node mass is folded in via a broadcast
  1-row aggregate (BroadcastNestedLoopJoin of a single row — no driver
  collect inside the loop). Every iteration's rank is rounded to
  `round_to` decimals so a SQL restatement replays the identical
  fixed-point trajectory (same trick as kmeans_refine / the unigram LM:
  downstream arithmetic starts from identical doubles in any engine).
  `exact_fold=True` additionally sums each node's incoming contributions
  as an ordered fold (sorted by source id) instead of a hash-aggregate
  sum, making the per-iteration sum bit-identical to DuckDB's
  list_sum(list(c ORDER BY src)) — the oracle-replay mode; the default
  hash-agg sum is the at-scale mode.
* k-core — synchronous peeling: each round computes degrees over the
  surviving undirected edge list (one groupBy) and drops nodes below k
  with a broadcast-friendly semi-join (the survivor set only shrinks).
  Integer arithmetic only — no float playbook needed; a fixed `rounds`
  unrolls into pure lineage for SQL replay, `rounds=None` loops to the
  fixpoint with one count per round (the true k-core).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgraph_spark.session import local_frame


def degree_table(edges: DataFrame, src: str = "subject_id", dst: str = "object_id") -> DataFrame:
    """(node, out_degree, in_degree, degree) over a directed edge list.
    Parallel edges count once each; self-loops count on both sides."""
    outs = edges.select(F.col(src).alias("node"), F.lit(1).alias("o"), F.lit(0).alias("i"))
    ins = edges.select(F.col(dst).alias("node"), F.lit(0).alias("o"), F.lit(1).alias("i"))
    return (
        outs.unionByName(ins)
        .groupBy("node")
        .agg(
            F.sum("o").cast("long").alias("out_degree"),
            F.sum("i").cast("long").alias("in_degree"),
            F.count(F.lit(1)).cast("long").alias("degree"),
        )
    )


def _undirected(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Canonical undirected simple edges (a < b, no self-loops, distinct)."""
    return (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def triangle_counts(edges: DataFrame, src: str = "subject_id", dst: str = "object_id") -> DataFrame:
    """Per-node triangle participation counts (node, n_triangles) over the
    undirected simple graph underlying `edges`. Nodes in no triangle are
    absent (join the degree table for a dense report).

    Degree-ordered node-iterator: orient a—b from the endpoint with the
    smaller (degree, id) key; every triangle {x<y<z by that key} is then
    counted exactly once as the wedge (x→y, x→z) closed by y→z."""
    und = _undirected(edges, src, dst)
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    # attach both endpoint keys, then orient low-key → high-key
    keyed = (
        und.join(deg.withColumnRenamed("node", "a").withColumnRenamed("d", "da"), "a")
        .join(deg.withColumnRenamed("node", "b").withColumnRenamed("d", "db"), "b")
        .select(
            "a", "b",
            F.struct(F.col("da").alias("d"), F.col("a").alias("n")).alias("ka"),
            F.struct(F.col("db").alias("d"), F.col("b").alias("n")).alias("kb"),
        )
    )
    oriented = keyed.select(
        F.when(F.col("ka") < F.col("kb"), F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(F.col("ka") < F.col("kb"), F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(F.col("ka") < F.col("kb"), F.col("kb")).otherwise(F.col("ka")).alias("kv"),
    )
    e1 = oriented.select("u", F.col("v").alias("v1"), F.col("kv").alias("k1"))
    e2 = oriented.select("u", F.col("v").alias("v2"), F.col("kv").alias("k2"))
    wedges = e1.join(e2, "u").filter(F.col("k1") < F.col("k2")).select("u", "v1", "v2")
    closed = wedges.join(
        oriented.select(F.col("u").alias("v1"), F.col("v").alias("v2")),
        ["v1", "v2"],
        "leftsemi",
    )
    corners = (
        closed.select(F.col("u").alias("node"))
        .unionByName(closed.select(F.col("v1").alias("node")))
        .unionByName(closed.select(F.col("v2").alias("node")))
    )
    return corners.groupBy("node").agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))


def pagerank(
    edges: DataFrame,
    iterations: int = 5,
    damping: float = 0.85,
    round_to: int = 6,
    exact_fold: bool = False,
    src: str = "subject_id",
    dst: str = "object_id",
    pin_rounds: bool = True,
    seeds: list[str] | None = None,
) -> DataFrame:
    """(node, rank) after `iterations` rounds of damped PageRank with
    uniform teleport and dangling-mass redistribution. Parallel edges are
    collapsed first (simple directed graph).

    r0 = round(1/N); each round:
      contrib(v)   = Σ_{u→v} r(u) / outdeg(u)
      dangling     = round(Σ_{outdeg(u)=0} r(u))          (broadcast 1-row)
      r'(x)        = round((1-d)/N + d·(contrib(x) + dangling/N))
    all rounds rounded to `round_to` decimals — the SQL-replayable
    trajectory (module docstring). Each round ends in a lazy
    localCheckpoint: r feeds BOTH the dangling aggregate and the contrib
    join, so an unpinned loop doubles the logical plan every round
    (exponential by iteration 10) and replays each round twice; pinning
    keeps the plan linear and each round's stages run exactly once (under
    AQE the checkpoint materializes that round — a few small jobs per
    round, the intended behavior, same pattern as connected_components).

    `seeds` switches to PERSONALIZED PageRank (random walk with restart):
    the teleport and the dangling redistribution both target the seed set
    uniformly (1/|S| each) instead of all nodes — the standard KG
    "relevance around these entities" query. r0 = 1/|S| on seeds, 0
    elsewhere; non-seeds receive rank only through incoming edges. Seeds
    are a driver-side list (query entry points, not data-scale)."""
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    outdeg = e.groupBy(F.col("src").alias("node")).agg(F.count(F.lit(1)).alias("outdeg"))
    base = nodes.join(outdeg, "node", "left").localCheckpoint(eager=False)
    n = base.count()
    if n == 0:
        return base.select("node", F.lit(0.0).alias("rank"))
    if seeds is not None:
        if not seeds:
            raise ValueError("seeds must be non-empty when provided")
        n_t = float(len(set(seeds)))
        is_seed = F.col("node").isin(sorted(set(seeds)))
        # a seed absent from the graph would silently keep its 1/|S| share
        # of teleport mass unpaid (ranks no longer sum to 1) — fail loudly
        present = base.filter(is_seed).count()
        if present != len(set(seeds)):
            raise ValueError(
                f"{len(set(seeds)) - present} seed(s) are not nodes of the graph"
            )
    else:
        n_t = float(n)
        is_seed = F.lit(True)
    teleport = F.when(is_seed, F.lit((1.0 - damping) / n_t)).otherwise(F.lit(0.0))
    dangling_share = F.when(is_seed, F.col("_dm") / F.lit(n_t)).otherwise(F.lit(0.0))
    r = base.select(
        "node",
        "outdeg",
        F.round(F.when(is_seed, F.lit(1.0 / n_t)).otherwise(F.lit(0.0)), round_to).alias("rank"),
    )

    for _ in range(iterations):
        dangling = r.agg(
            F.round(F.coalesce(F.sum(F.when(F.col("outdeg").isNull(), F.col("rank"))), F.lit(0.0)), round_to).alias("_dm")
        )
        contribs = e.join(r.select(F.col("node").alias("src"), "rank", "outdeg"), "src").select(
            "src", "dst", (F.col("rank") / F.col("outdeg")).alias("c")
        )
        if exact_fold:
            inc = (
                contribs.groupBy(F.col("dst").alias("node"))
                .agg(F.array_sort(F.collect_list(F.struct("src", "c"))).alias("cs"))
                .select(
                    "node",
                    F.aggregate(F.col("cs"), F.lit(0.0), lambda acc, x: acc + x["c"]).alias("contrib"),
                )
            )
        else:
            inc = contribs.groupBy(F.col("dst").alias("node")).agg(F.sum("c").alias("contrib"))
        r = (
            base.join(inc, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                "outdeg",
                F.round(
                    teleport
                    + F.lit(damping)
                    * (F.coalesce(F.col("contrib"), F.lit(0.0)) + dangling_share),
                    round_to,
                ).alias("rank"),
            )
        )
        # pin_rounds=False exists for plan inspection only (the checkpoint
        # hides each round's physical plan behind an RDD scan)
        if pin_rounds:
            r = r.localCheckpoint(eager=False)
    return r.select("node", "rank")


def clustering_coefficient(
    edges: DataFrame, src: str = "subject_id", dst: str = "object_id"
) -> DataFrame:
    """Local clustering coefficient per node over the undirected simple
    graph: (node, degree, n_triangles, coefficient) with coefficient =
    2·T(v) / (deg(v)·(deg(v)−1)), 0 for degree-1 nodes, rounded to 6.
    Composes degree_table's undirected degrees with triangle_counts — one
    extra broadcast-sized join over the triangle machinery."""
    und = _undirected(edges, src, dst)
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    tri = triangle_counts(edges, src, dst)
    joined = deg.join(tri, "node", "left").select(
        "node",
        "degree",
        F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
    )
    denom = F.col("degree") * (F.col("degree") - 1)
    return joined.select(
        "node",
        "degree",
        "n_triangles",
        F.when(denom > 0, F.round(2.0 * F.col("n_triangles") / denom, 6))
        .otherwise(F.lit(0.0))
        .alias("coefficient"),
    )


def adamic_adar(
    edges: DataFrame,
    min_score: float = 0.0,
    min_common: int = 1,
    src: str = "subject_id",
    dst: str = "object_id",
) -> DataFrame:
    """Adamic-Adar link-prediction scores for NON-adjacent node pairs with
    at least one common neighbor: (node_a, node_b, n_common, score) with
    a < b and score = Σ_{u ∈ Γ(a)∩Γ(b)} 1/ln(deg(u)), per-term values
    rounded to 6 and summed as an ordered fold (by common-neighbor id) so
    a SQL restatement reproduces the float exactly; final round 4.

    Candidate pairs come from wedges (two edges sharing the center u), so
    work is Σ_u deg(u)² — the inherent cost of enumerating common
    neighbors. Degree-1 centers contribute no wedge; ln(1)=0 centers
    (degree 1) cannot occur since a wedge center has degree ≥ 2. Known
    edges are removed with one LeftAnti join against the canonical edge
    list. `min_score` and `min_common` prune the long tail after scoring —
    on dense graphs the n_common=1 pairs dominate by orders of magnitude
    (measured 320k → ~900 pairs at min_common=2 on the order-part graph),
    so real link-prediction use sets min_common ≥ 2."""
    und = _undirected(edges, src, dst)
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    # adjacency with both orientations: wedges pair each center's
    # neighbor list against itself
    adj = und.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
        und.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    # only degree-≥2 nodes can center a wedge; the filter also keeps the
    # 1/ln(1)=∞ row out of the model table
    w = deg.filter(F.col("d") >= 2).select(
        "node", F.round(1.0 / F.log(F.col("d")), 6).alias("w")
    )
    e1 = adj.select(F.col("u"), F.col("v").alias("na"))
    e2 = adj.select(F.col("u"), F.col("v").alias("nb"))
    wedges = (
        e1.join(e2, "u")
        .filter(F.col("na") < F.col("nb"))
        .join(w.withColumnRenamed("node", "u"), "u")
    )
    # drop pairs that are already edges BEFORE aggregation (smaller shuffle)
    cand = wedges.join(
        und.select(F.col("a").alias("na"), F.col("b").alias("nb")),
        ["na", "nb"],
        "leftanti",
    )
    folded = (
        cand.groupBy(F.col("na").alias("node_a"), F.col("nb").alias("node_b"))
        .agg(F.array_sort(F.collect_list(F.struct("u", "w"))).alias("ws"))
        .select(
            "node_a",
            "node_b",
            F.size("ws").cast("long").alias("n_common"),
            F.round(
                F.aggregate(F.col("ws"), F.lit(0.0), lambda acc, x: acc + x["w"]), 4
            ).alias("score"),
        )
    )
    return folded.filter((F.col("score") >= min_score) & (F.col("n_common") >= min_common))


def shortest_paths(
    edges: DataFrame,
    sources: DataFrame,
    rounds: int = 3,
    weight: str | None = None,
    src: str = "subject_id",
    dst: str = "object_id",
    round_to: int = 6,
    pin_rounds: bool = True,
    node_col: str = "node",
) -> DataFrame:
    """(node, dist) single-source-set shortest paths after `rounds`
    Bellman-Ford relaxations from the `sources` node set (its `node_col`
    column — named, never positional — dist 0.0);
    nodes unreached within `rounds` hops are absent. `weight` names an
    edge weight column (default: every edge costs 1.0). Parallel edges
    collapse to their MIN weight first.

    Cross-engine determinism is free here: every aggregate is a MIN
    (order-independent), edge weights and distances are re-rounded to
    `round_to`, and each candidate distance is one IEEE add of two
    identical doubles — so the oracle restates the identical unrolled
    relaxations with plain min() and no ordered folds. Each round is one
    dist⋈edges shuffle + one groupBy(node) min, pinned lazily (dist feeds
    the union twice)."""
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    if node_col not in sources.columns:
        raise ValueError(f"sources must carry a {node_col!r} column (has {sources.columns})")
    w_col = F.round(F.col(weight), round_to) if weight else F.lit(1.0)
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"), w_col.alias("w"))
        .groupBy("src", "dst")
        .agg(F.min("w").alias("w"))
    )
    if pin_rounds:
        e = e.localCheckpoint(eager=False)
    dist = sources.select(F.col(node_col).alias("node"), F.lit(0.0).alias("dist")).distinct()
    for _ in range(rounds):
        relaxed = e.join(dist.withColumnRenamed("node", "src"), "src").select(
            F.col("dst").alias("node"), F.round(F.col("dist") + F.col("w"), round_to).alias("dist")
        )
        dist = dist.unionByName(relaxed).groupBy("node").agg(F.min("dist").alias("dist"))
        # pin_rounds=False is for plan inspection only (the checkpoint
        # hides each round's physical plan behind an RDD scan)
        if pin_rounds:
            dist = dist.localCheckpoint(eager=False)
    return dist


def label_propagation(
    edges: DataFrame,
    rounds: int = 3,
    src: str = "subject_id",
    dst: str = "object_id",
    pin_rounds: bool = True,
) -> DataFrame:
    """(node, label) community assignment after `rounds` of SYNCHRONOUS
    label propagation over the undirected simple graph: every node starts
    labelled with its own id; each round every node simultaneously adopts
    the most frequent label among its neighbors, ties broken by the
    smallest label. Deterministic by construction (no random visit order —
    the async variant's nondeterminism is exactly what a distributed
    engine can't replay), integer-and-string arithmetic only, so the SQL
    restatement needs no float playbook: each round is one adjacency⋈label
    join + a (node, label) count + an argmax via min-of-(−count, label)
    struct ≡ QUALIFY row_number() ORDER BY c DESC, label ASC.

    Synchronous LPA on bipartite regions can oscillate with period 2 —
    irrelevant here because a FIXED round count is part of the operator
    contract (same stance as the partial k-core peel).

    Scale: per round one shuffle on dst (label join) + one on (node,
    label) with partial aggregation; labels frame is node-cardinality.
    Isolated nodes never appear in the edge list and are absent — join
    the degree table for a dense report."""
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    und = _undirected(edges, src, dst)
    adj = und.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
        und.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    if pin_rounds:
        adj = adj.localCheckpoint(eager=False)
    labels = adj.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(rounds):
        cnt = (
            adj.join(labels.withColumnRenamed("node", "v"), "v")
            .groupBy(F.col("u").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            cnt.groupBy("node")
            .agg(F.min(F.struct((-F.col("c")).alias("nc"), F.col("label").alias("l"))).alias("w"))
            .select("node", F.col("w.l").alias("label"))
        )
        # pin_rounds=False is for plan inspection only (the checkpoint
        # hides each round's physical plan behind an RDD scan)
        if pin_rounds:
            labels = labels.localCheckpoint(eager=False)
    return labels


def hits(
    edges: DataFrame,
    iterations: int = 3,
    round_to: int = 6,
    exact_fold: bool = False,
    src: str = "subject_id",
    dst: str = "object_id",
    pin_rounds: bool = True,
) -> DataFrame:
    """(node, hub, authority) after `iterations` rounds of
    Kleinberg-style HITS over the simple DIRECTED graph (parallel edges
    collapsed). Each round:

      auth(v) = round(Σ_{u→v} hub(u)) , then auth /= max(auth)
      hub(u)  = round(Σ_{u→v} auth(v)), then hub  /= max(hub)

    L∞ (max) normalization instead of the textbook L2: max is
    order-independent, so the only float sums left are the per-node
    incoming folds — with `exact_fold=True` those are ordered folds by
    counterpart id (≡ DuckDB list_sum(list(x ORDER BY u)); the oracle
    replay mode, same contract as pagerank), and every intermediate is
    re-rounded to `round_to` so both engines walk the identical
    fixed-point trajectory. Nodes with no in-edges hold authority 0;
    no out-edges, hub 0.

    Scale: each round is two edges⋈scores shuffles + two node-keyed
    aggregations + two broadcast 1-row max joins; scores stay
    node-cardinality, rounds pinned with lazy localCheckpoints (the score
    frame feeds both the fold join and the max aggregate)."""
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    if pin_rounds:
        e = e.localCheckpoint(eager=False)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )

    def folded_sum(joined: DataFrame, key: str, other: str, val: str) -> DataFrame:
        """Σ val per `key` — ordered fold by `other` when exact_fold."""
        if exact_fold:
            return (
                joined.groupBy(F.col(key).alias("node"))
                .agg(F.array_sort(F.collect_list(F.struct(F.col(other).alias("k"), F.col(val).alias("x")))).alias("xs"))
                .select(
                    "node",
                    F.round(
                        F.aggregate(F.col("xs"), F.lit(0.0), lambda acc, x: acc + x["x"]),
                        round_to,
                    ).alias("s"),
                )
            )
        return joined.groupBy(F.col(key).alias("node")).agg(
            F.round(F.sum(val), round_to).alias("s")
        )

    scores = nodes.select("node", F.lit(1.0).alias("hub"))
    for _ in range(iterations):
        a_raw = folded_sum(
            e.join(scores.withColumnRenamed("node", "src"), "src"), "dst", "src", "hub"
        )
        a_max = a_raw.agg(F.max("s").alias("_m"))
        auth = (
            nodes.join(a_raw, "node", "left")
            .crossJoin(F.broadcast(a_max))
            .select(
                "node",
                F.round(F.coalesce(F.col("s"), F.lit(0.0)) / F.col("_m"), round_to).alias("authority"),
            )
        )
        if pin_rounds:
            auth = auth.localCheckpoint(eager=False)
        h_raw = folded_sum(
            e.join(auth.withColumnRenamed("node", "dst"), "dst"), "src", "dst", "authority"
        )
        h_max = h_raw.agg(F.max("s").alias("_m"))
        scores = (
            nodes.join(h_raw, "node", "left")
            .crossJoin(F.broadcast(h_max))
            .select(
                "node",
                F.round(F.coalesce(F.col("s"), F.lit(0.0)) / F.col("_m"), round_to).alias("hub"),
            )
        )
        # pin_rounds=False is for plan inspection only
        if pin_rounds:
            scores = scores.localCheckpoint(eager=False)
    return scores.join(auth, "node").select("node", "hub", "authority")


def kcore(
    edges: DataFrame,
    k: int = 2,
    rounds: int | None = None,
    src: str = "subject_id",
    dst: str = "object_id",
    pin_rounds: bool = True,
) -> DataFrame:
    """Nodes surviving k-core peeling of the undirected simple graph, with
    their degree inside the surviving subgraph: (node, degree).

    Synchronous peel: every round removes ALL nodes with degree < k at
    once (the parallel variant of the classic sequential peel — same
    fixpoint). `rounds=None` iterates until no node is removed (one
    count() action per round, converges in O(peel depth) — this is the
    true k-core). A fixed `rounds` runs that many peels as pure lineage —
    deterministic partial peel, unrollable as SQL CTEs for the oracle.

    Each round is one degree groupBy + one LeftSemi join of the edge list
    against the surviving nodes on each endpoint; edges only ever shrink,
    and a lazy per-round checkpoint stops lineage growth (edges appear on
    both sides of the semi-joins)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    und = _undirected(edges, src, dst).localCheckpoint(eager=False)

    def peel(e: DataFrame) -> DataFrame:
        deg = (
            e.select(F.col("a").alias("node"))
            .unionByName(e.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).cast("long").alias("degree"))
        )
        keep = deg.filter(F.col("degree") >= k).select("node")
        return (
            e.join(keep.withColumnRenamed("node", "a"), "a", "leftsemi")
            .join(keep.withColumnRenamed("node", "b"), "b", "leftsemi")
            .select("a", "b")
        )

    e = und
    if rounds is None:
        n = e.count()
        while True:
            e = peel(e).localCheckpoint(eager=False)
            m = e.count()
            if m == n:
                break
            n = m
    else:
        for _ in range(rounds):
            e = peel(e)
            # pin_rounds=False is for plan inspection only (the checkpoint
            # hides each round's physical plan behind an RDD scan)
            if pin_rounds:
                e = e.localCheckpoint(eager=False)
    # degrees of the surviving subgraph — at the fixpoint every node is
    # >= k by definition; under a fixed partial peel the raw degrees are
    # reported as-is (the oracle restates the identical R peels)
    return (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )


def transitive_closure(
    edges: DataFrame,
    max_depth: int = 4,
    src: str = "subject_id",
    dst: str = "object_id",
    pin_rounds: bool = True,
) -> DataFrame:
    """(src, dst, depth) — every ordered pair connected by a directed path
    of 1..max_depth hops, with depth = the MINIMUM hop count. The taxonomy
    /ontology closure query (is-a ancestor expansion) a KG store answers
    constantly; the reference serves per-seed expansions only
    (kgserver/query/subgraph.py), this is the whole-relation form.

    Iterative DOUBLING, not hop-at-a-time: round r holds all shortest
    paths of depth <= 2^r, so ceil(log2(max_depth)) self-joins reach
    max_depth — 2 rounds for depth 4, 5 for depth 32 — where frontier BFS
    pays one shuffle PER HOP. Each round is one paths⋈paths shuffle on the
    join node + one (src, dst) groupBy with partial min aggregation;
    integer arithmetic only (min is order-independent), so the SQL
    restatement is a plain recursive CTE + group-min with no float
    playbook. Self-paths (cycles back to the start) are kept with their
    true depth — a closure over a DAG never produces them, and on a cyclic
    graph dropping them would silently hide the cycle."""
    if max_depth < 1:
        raise ValueError("max_depth must be >= 1")
    paths = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .withColumn("depth", F.lit(1))
    )
    if pin_rounds:
        paths = paths.localCheckpoint(eager=False)
    rounds = max(0, (max_depth - 1).bit_length())  # ceil(log2(max_depth))
    for _ in range(rounds):
        a = paths.select(F.col("src"), F.col("dst").alias("_mid"), F.col("depth").alias("_da"))
        b = paths.select(F.col("src").alias("_mid"), F.col("dst"), F.col("depth").alias("_db"))
        hop = a.join(b, "_mid").select(
            "src", "dst", (F.col("_da") + F.col("_db")).alias("depth")
        ).filter(F.col("depth") <= max_depth)
        paths = (
            paths.unionByName(hop)
            .groupBy("src", "dst")
            .agg(F.min("depth").alias("depth"))
        )
        # pin_rounds=False is for plan inspection only (the checkpoint
        # hides each round's physical plan behind an RDD scan)
        if pin_rounds:
            paths = paths.localCheckpoint(eager=False)
    return paths.select("src", "dst", F.col("depth").cast("long").alias("depth"))


def harmonic_centrality(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 3,
    src: str = "subject_id",
    dst: str = "object_id",
    node_col: str = "node",
    pin_rounds: bool = True,
) -> DataFrame:
    """(node, n_reached, harmonic) — seed-set harmonic centrality over the
    undirected simple graph: harmonic(v) = sum over seeds s (v != s,
    d(s,v) <= max_hops) of 1 / d(s,v). The landmark form used at scale
    (exact all-pairs harmonic is O(n·m)); seeds are the landmarks.

    Per-seed distances via multi-source BFS keyed on (seed, node) — the
    same bounded relaxation as shortest_paths but WITHOUT collapsing
    sources, since the reciprocal needs each seed's own distance. Float
    discipline: distances stay INTEGER hops through every round (min is
    order-independent); the only float op is the final fixed expression
    sum_h count_h / h over the per-hop counts — one rounded expression per
    node, no accumulation-order dependence, so the SQL oracle replays it
    bit-for-bit. Each round: one dist⋈edges shuffle + one (seed, node)
    groupBy min. State is |seeds|·|reachable| rows — the operator's honest
    cost; cap the seed set, not the hop arithmetic."""
    if max_hops < 1:
        raise ValueError("max_hops must be >= 1")
    if node_col not in seeds.columns:
        raise ValueError(f"seeds must carry a {node_col!r} column (has {seeds.columns})")
    und = _undirected(edges, src, dst)
    adj = und.unionByName(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).select(F.col("a").alias("u"), F.col("b").alias("v"))
    if pin_rounds:
        adj = adj.localCheckpoint(eager=False)
    dist = seeds.select(F.col(node_col).alias("seed")).distinct().select(
        "seed", F.col("seed").alias("node"), F.lit(0).alias("hop")
    )
    for _ in range(max_hops):
        relaxed = dist.join(adj, dist["node"] == adj["u"]).select(
            "seed", F.col("v").alias("node"), (F.col("hop") + 1).alias("hop")
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("seed", "node")
            .agg(F.min("hop").alias("hop"))
        )
        # pin_rounds=False is for plan inspection only (the checkpoint
        # hides each round's physical plan behind an RDD scan)
        if pin_rounds:
            dist = dist.localCheckpoint(eager=False)
    per_hop = (
        dist.filter(F.col("hop") > 0)
        .groupBy("node")
        .pivot("hop", list(range(1, max_hops + 1)))
        .count()
    )
    harmonic = F.round(
        sum(
            (F.coalesce(F.col(str(h)), F.lit(0)) / float(h) for h in range(1, max_hops + 1)),
            start=F.lit(0.0),
        ),
        6,
    )
    n_reached = sum(
        (F.coalesce(F.col(str(h)), F.lit(0)) for h in range(1, max_hops + 1)),
        start=F.lit(0),
    )
    return per_hop.select(
        "node", n_reached.cast("long").alias("n_reached"), harmonic.alias("harmonic")
    )


def deterministic_walks(
    edges: DataFrame,
    seeds: DataFrame,
    walk_len: int = 5,
    walks_per_seed: int = 2,
    src: str = "subject_id",
    dst: str = "object_id",
    node_col: str = "node",
    pin_rounds: bool = True,
) -> DataFrame:
    """(origin, walk_idx, path, n_steps) — node2vec-style walk sampling
    (p = q = 1) with the randomness replaced by a keyed hash: at step s,
    walk w standing on node u moves to the out-neighbor minimizing
    md5(origin|walk_idx|s|u|neighbor). Deterministic by construction —
    rerunning the job (or an SQL engine) regenerates the identical corpus,
    which is what makes hash-seeded walks the distributed idiom for
    embedding-prep sampling (a stateful RNG per walker can't be replayed
    across retried tasks). Walks halt early at sink nodes (path keeps its
    length; n_steps reports actual hops).

    Scale: walk state is (|seeds| · walks_per_seed) rows regardless of
    graph size; each step is one state⋈edges shuffle on the current node
    + one groupBy(walk) min — the hash argmin rides the aggregation
    (min of (hash, dst) struct), so candidate rows never sort globally.
    String/integer arithmetic only: no float playbook in the oracle."""
    if walk_len < 1 or walks_per_seed < 1:
        raise ValueError("walk_len and walks_per_seed must be >= 1")
    if node_col not in seeds.columns:
        raise ValueError(f"seeds must carry a {node_col!r} column (has {seeds.columns})")
    e = edges.select(F.col(src).alias("_u"), F.col(dst).alias("_v")).distinct()
    if pin_rounds:
        e = e.localCheckpoint(eager=False)
    state = (
        seeds.select(F.col(node_col).alias("origin"))
        .distinct()
        .select(
            "origin",
            F.explode(F.sequence(F.lit(0), F.lit(walks_per_seed - 1))).alias("walk_idx"),
        )
        .select(
            "origin",
            "walk_idx",
            F.col("origin").alias("cur"),
            F.array(F.col("origin")).alias("path"),
        )
    )
    for step in range(1, walk_len + 1):
        cand = state.join(e, state["cur"] == e["_u"]).select(
            "origin",
            "walk_idx",
            F.struct(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.col("origin").cast("string"),
                        F.col("walk_idx").cast("string"),
                        F.lit(str(step)),
                        F.col("cur").cast("string"),
                        F.col("_v").cast("string"),
                    )
                ).alias("h"),
                F.col("_v").alias("nxt"),
            ).alias("pick"),
        )
        nxt = cand.groupBy("origin", "walk_idx").agg(F.min("pick").alias("pick"))
        state = state.join(nxt, ["origin", "walk_idx"], "left").select(
            "origin",
            "walk_idx",
            F.coalesce(F.col("pick.nxt"), F.col("cur")).alias("cur"),
            F.when(
                F.col("pick.nxt").isNotNull(),
                F.concat(F.col("path"), F.array(F.col("pick.nxt"))),
            )
            .otherwise(F.col("path"))
            .alias("path"),
        )
        # pin_rounds=False is for plan inspection only (the checkpoint
        # hides each round's physical plan behind an RDD scan)
        if pin_rounds:
            state = state.localCheckpoint(eager=False)
    return state.select(
        "origin",
        F.col("walk_idx").cast("long").alias("walk_idx"),
        "path",
        (F.size("path") - 1).cast("long").alias("n_steps"),
    )


def condense_components(
    labels: DataFrame,
    edges: DataFrame,
    src: str = "subject_id",
    dst: str = "object_id",
) -> DataFrame:
    """Component-level supergraph (graph condensation): map each edge
    endpoint to its component via `labels` (id, component — e.g.
    connected_components output, canonicalize.py) and aggregate to
    (comp_src, comp_dst, n_edges, n_pairs). `n_edges` counts edge
    multiplicity, `n_pairs` distinct endpoint pairs. Intra-component rows
    (comp_src == comp_dst) are kept — dropping them would hide the
    component's internal density; filter downstream.

    Two id-keyed joins (the labels frame is node-cardinality — broadcast
    when nodes ≪ edges) + one partial/final hash aggregation on the
    component pair. The condensed graph is the scale win: downstream
    analytics run on |components|² at most, not |edges|."""
    l_src = labels.select(F.col("id").alias("_s"), F.col("component").alias("comp_src"))
    l_dst = labels.select(F.col("id").alias("_d"), F.col("component").alias("comp_dst"))
    return (
        edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
        .join(l_src, "_s")
        .join(l_dst, "_d")
        .groupBy("comp_src", "comp_dst")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_edges"),
            F.countDistinct("_s", "_d").cast("long").alias("n_pairs"),
        )
    )


def neighborhood_jaccard(
    edges: DataFrame,
    min_common: int = 1,
    src: str = "subject_id",
    dst: str = "object_id",
) -> DataFrame:
    """Neighborhood-Jaccard link prediction: for non-adjacent node pairs
    with >= min_common shared neighbors, |Γ(a)∩Γ(b)| / |Γ(a)∪Γ(b)| —
    the set-overlap twin of adamic_adar (which weights each shared
    neighbor by 1/ln(deg)). All-integer until the final division, so the
    oracle needs no ordered float folds; round 6.

    Same wedge enumeration as adamic_adar (cost Σ_u deg(u)² — thin hub
    nodes first on dense graphs), ONE count aggregate per candidate pair,
    union size by inclusion-exclusion from the two degrees (no second
    neighbor-set pass), known edges removed with a LeftAnti join. The
    n_common=1 tail dominates on dense graphs — production use sets
    min_common >= 2."""
    und = _undirected(edges, src, dst)
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    adj = und.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
        und.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    e1 = adj.select("u", F.col("v").alias("na"))
    e2 = adj.select("u", F.col("v").alias("nb"))
    pairs = (
        e1.join(e2, "u")
        .filter(F.col("na") < F.col("nb"))
        .groupBy("na", "nb")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
        .filter(F.col("n_common") >= min_common)
        .join(
            und.select(F.col("a").alias("na"), F.col("b").alias("nb")),
            ["na", "nb"],
            "left_anti",
        )
    )
    da = deg.select(F.col("node").alias("na"), F.col("d").alias("_da"))
    db = deg.select(F.col("node").alias("nb"), F.col("d").alias("_db"))
    union_sz = F.col("_da") + F.col("_db") - F.col("n_common")
    return (
        pairs.join(da, "na")
        .join(db, "nb")
        .select(
            F.col("na").alias("node_a"),
            F.col("nb").alias("node_b"),
            "n_common",
            union_sz.cast("long").alias("n_union"),
            F.round(F.col("n_common") / union_sz, 6).alias("jaccard"),
        )
    )


def strongly_connected_components(
    edges: DataFrame,
    max_depth: int = 16,
    src: str = "subject_id",
    dst: str = "object_id",
) -> DataFrame:
    """(id, scc_id) — scc_id is the MIN node id in the node's strongly
    connected component: n and m share a component iff n reaches m AND m
    reaches n. Composes transitive_closure (path doubling, so max_depth=16
    costs 4 self-join rounds) with its own reversal: mutual pairs are a
    LeftSemi of the closure against its flip, then one min aggregate per
    node. Directed cycles — the thing a DAG-shaped taxonomy must NOT have
    — fall out as scc_size > 1; singletons are their own component.

    Contract: max_depth must cover the longest in-component shortest path
    (an SCC with internal distance > max_depth would split); integer/id
    arithmetic only. The closure materializes O(reachable pairs) — right
    for taxonomy cores and gate subgraphs; whole-web-graph SCC wants the
    forward-backward coloring algorithm instead (noted, not needed at KG
    relation scale where components are small and shallow)."""
    clo = transitive_closure(edges, max_depth=max_depth, src=src, dst=dst).select(
        "src", "dst"
    )
    nodes = (
        edges.select(F.col(src).alias("n"))
        .union(edges.select(F.col(dst).alias("n")))
        .distinct()
    )
    reach = clo.union(nodes.select(F.col("n").alias("src"), F.col("n").alias("dst")))
    rev = reach.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    mutual = reach.join(rev, ["src", "dst"], "left_semi")
    return mutual.groupBy(F.col("src").alias("id")).agg(
        F.min("dst").alias("scc_id")
    )


def feature_propagation(
    edges: DataFrame,
    features: DataFrame,
    rounds: int = 2,
    alpha: float = 0.5,
    src: str = "subject_id",
    dst: str = "object_id",
    id_col: str = "id",
    feat_col: str = "f",
    pin_rounds: bool = True,
) -> DataFrame:
    """GraphSAGE-mean-style scalar feature smoothing over the undirected
    graph: f' = alpha·f + (1-alpha)·mean_{u∈Γ(n)} f(u), `rounds` times —
    the aggregation primitive of GNN message passing and of label/score
    smoothing over a KG ("entities connected to high-confidence entities
    inherit confidence"). Isolated nodes keep their own value.

    Float playbook: each round's output re-rounds to 6 decimals (the
    pagerank trajectory trick, so unrolled SQL replays it), and neighbor
    means accumulate as round-6 FIXED-POINT longs — order-free integer
    sums, no ordered folds needed. Per round: one adjacency⋈features join
    keyed on the neighbor + one per-node sum/count aggregate + one join
    back to the own value — two key shuffles, vectors... scalars only.
    Nodes missing from `features` contribute nothing and stay absent
    (provide a full feature table; degree_table ⋈ defaults builds one)."""
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    if not 0.0 <= alpha <= 1.0:
        raise ValueError("alpha must be in [0, 1]")
    und = _undirected(edges, src, dst)
    adj = und.select(F.col("a").alias("n"), F.col("b").alias("nb")).unionByName(
        und.select(F.col("b").alias("n"), F.col("a").alias("nb"))
    )
    f = features.select(F.col(id_col).alias("n"), F.round(feat_col, 6).alias("f"))
    for _ in range(rounds):
        nbr = (
            adj.join(f.select(F.col("n").alias("nb"), F.col("f").alias("_nf")), "nb")
            .groupBy("n")
            .agg(
                F.sum(F.round(F.col("_nf") * 1000000, 0).cast("long")).alias("_s"),
                F.count(F.lit(1)).alias("_c"),
            )
            .select("n", (F.col("_s") / F.col("_c") / 1000000.0).alias("_mean"))
        )
        f = (
            f.join(nbr, "n", "left")
            .select(
                "n",
                F.round(
                    F.when(
                        F.col("_mean").isNotNull(),
                        alpha * F.col("f") + (1.0 - alpha) * F.col("_mean"),
                    ).otherwise(F.col("f")),
                    6,
                ).alias("f"),
            )
        )
        # pin_rounds=False is for plan inspection only (the checkpoint
        # hides each round's physical plan behind an RDD scan)
        if pin_rounds:
            f = f.localCheckpoint(eager=False)
    return f.select(F.col("n").alias(id_col), F.col("f").alias(feat_col))


def degree_assortativity(
    edges: DataFrame,
    src: str = "subject_id",
    dst: str = "object_id",
) -> DataFrame:
    """Degree assortativity of the undirected graph — the Pearson
    correlation of endpoint degrees over edge ENDS (Newman 2002): one row
    (n_ends, r). Positive = hubs link hubs (social shape), negative =
    hubs link leaves (the typical KG/web star shape — worth knowing
    before choosing a partitioner, since disassortative graphs are
    exactly the ones where hub-keyed shuffles skew).

    Every moment (Σx, Σx², Σxy) aggregates as exact integer sums over
    degree longs; the Pearson combination happens once, in doubles, on
    the final scalars (round 6) — deterministic without ordered folds.
    Each undirected edge contributes BOTH (deg_a, deg_b) and
    (deg_b, deg_a), the standard edge-end convention that makes the
    correlation symmetric."""
    und = _undirected(edges, src, dst)
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    ends = und.join(deg.select(F.col("node").alias("a"), F.col("d").alias("da")), "a").join(
        deg.select(F.col("node").alias("b"), F.col("d").alias("db")), "b"
    )
    both = ends.select(F.col("da").alias("x"), F.col("db").alias("y")).unionByName(
        ends.select(F.col("db").alias("x"), F.col("da").alias("y"))
    )
    m = both.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    n, sx, sxx, sxy = F.col("n"), F.col("sx"), F.col("sxx"), F.col("sxy")
    # symmetric ends: Σy = Σx and Σy² = Σx²
    num = n.cast("double") * sxy - sx.cast("double") * sx
    den = n.cast("double") * sxx - sx.cast("double") * sx
    return m.select(
        n.alias("n_ends"),
        F.when(den != 0, F.round(num / den, 6)).alias("assortativity"),
    )


def ktruss(
    edges: DataFrame,
    k: int = 3,
    rounds: int = 3,
    src: str = "subject_id",
    dst: str = "object_id",
    pin_rounds: bool = True,
) -> DataFrame:
    """Fixed-round k-truss peel: repeatedly drop undirected edges whose
    triangle SUPPORT (count of common neighbors of the endpoints) is
    below k-2 — the standard cohesive-subgraph filter one notch stronger
    than k-core (an edge must sit in k-2 triangles, not just touch a
    busy node). Returns the surviving (a, b, support) edges after
    `rounds` synchronous peels, support as of the LAST recount.

    Fixed rounds = pure lineage (the kcore/pagerank stance): each round
    is one wedge join (adjacency ⋈ adjacency on the shared endpoint →
    common-neighbor counts, cost Σ deg² like adamic_adar) + one LeftSemi
    survivor filter, integer-only, so the oracle unrolls identically.
    Converged when a round removes nothing; `rounds` bounds work on
    adversarial peel chains (run more rounds for the fixpoint)."""
    if k < 2:
        raise ValueError("k must be >= 2")
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    cur = _undirected(edges, src, dst)
    support = None
    for _ in range(rounds):
        adj = cur.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
            cur.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        e1 = adj.select("u", F.col("v").alias("na"))
        e2 = adj.select("u", F.col("v").alias("nb"))
        common = (
            e1.join(e2, "u")
            .filter(F.col("na") < F.col("nb"))
            .groupBy(F.col("na").alias("a"), F.col("nb").alias("b"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
        )
        support = cur.join(common, ["a", "b"], "left").select(
            "a", "b",
            F.coalesce(F.col("n_common"), F.lit(0)).cast("long").alias("support"),
        )
        # pin_rounds=False is for plan inspection only (the checkpoint
        # hides each round's physical plan behind an RDD scan)
        if pin_rounds:
            support = support.localCheckpoint(eager=False)
        cur = support.filter(F.col("support") >= k - 2).select("a", "b")
    return support.filter(F.col("support") >= k - 2)


def global_transitivity(
    edges: DataFrame, src: str = "subject_id", dst: str = "object_id"
) -> DataFrame:
    """ONE-row global clustering summary (n_triangles, n_wedges,
    transitivity) over the undirected simple graph: transitivity =
    3·triangles / wedges — the whole-graph companion of the per-node
    clustering_coefficient (how 'closed' the KG's neighborhood structure
    is overall; a cheap drift gate between corpus builds).

    Integer arithmetic end-to-end: triangles ride the degree-ordered
    triangle_counts machinery (each triangle contributes 3 corner rows, so
    Σ/3 is exact), wedges are Σ d(d−1)/2 over the degree table. The only
    float is the final division, rounded to 6 — both engines divide the
    same two integers, so the oracle matches bit-for-bit. Two bounded
    aggregates on top of the triangle plan; the result is one broadcastable
    row at ANY graph size."""
    und = _undirected(edges, src, dst)
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    wedges = deg.agg(
        F.sum(F.col("d") * (F.col("d") - F.lit(1)) / F.lit(2)).cast("long").alias("n_wedges")
    )
    tri = triangle_counts(edges, src, dst).agg(
        (F.coalesce(F.sum("n_triangles"), F.lit(0)) / F.lit(3)).cast("long").alias("n_triangles")
    )
    return tri.crossJoin(wedges).select(
        "n_triangles",
        "n_wedges",
        F.when(
            F.col("n_wedges") > 0,
            F.round(F.lit(3) * F.col("n_triangles") / F.col("n_wedges"), 6),
        ).alias("transitivity"),
    )


def wl_labels(
    edges: DataFrame,
    rounds: int = 2,
    src: str = "subject_id",
    dst: str = "object_id",
    init_labels: DataFrame | None = None,
    pin_rounds: bool = True,
) -> DataFrame:
    """(node, wl_label) after `rounds` of Weisfeiler-Lehman relabeling over
    the undirected graph — the structural-role fingerprint (1-WL / color
    refinement): two nodes share a label after r rounds iff their r-hop
    neighborhood trees agree, the same signal GNN message-passing can at
    best distinguish. On a KG this groups entities by connection ROLE
    (hub-of-leaves vs chain-link vs triangle-member) without any feature
    engineering; label-histogram drift between corpus builds is a cheap
    structural regression gate.

    label₀ = degree (as string); labelᵣ₊₁ = md5(own || '|' || neighbor
    labels sorted and comma-joined), truncated to 16 hex chars. Everything
    is string/integer arithmetic on md5 — the repo's engine-portable hash —
    so a SQL oracle replays the exact labels: DuckDB restates one round as
    md5(own || '|' || array_to_string(list_sort(list(neighbor_label)), ',')).
    Per round: one edges⋈labels join + one groupBy(node) whose state is the
    sorted neighbor-label array — bounded by max degree, the same budget any
    neighbor aggregation pays. Isolated nodes (no edges) keep refining on an
    empty neighbor list. `init_labels` ((node, wl_label) frame) seeds
    round 0 from existing node attributes instead of degree — every listed
    node refines even if isolated; unlisted nodes are absent by contract."""
    if rounds < 1:
        raise ValueError("need rounds >= 1")
    und = _undirected(edges, src, dst)
    adj = und.unionByName(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    if init_labels is not None:
        if set(init_labels.columns) != {"node", "wl_label"}:
            raise ValueError("init_labels must have exactly (node, wl_label)")
        labels = init_labels.select("node", F.col("wl_label").cast("string"))
    else:
        labels = adj.groupBy(F.col("a").alias("node")).agg(
            F.count(F.lit(1)).cast("long").cast("string").alias("wl_label")
        )
    for _ in range(rounds):
        nbr = (
            adj.join(labels.withColumnRenamed("node", "b"), "b")
            .groupBy(F.col("a").alias("node"))
            .agg(
                F.concat_ws(",", F.array_sort(F.collect_list("wl_label"))).alias("_nbrs")
            )
        )
        labels = (
            labels.join(nbr, "node", "left")
            .select(
                "node",
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("wl_label"), F.lit("|"), F.coalesce(F.col("_nbrs"), F.lit(""))
                        )
                    ),
                    1,
                    16,
                ).alias("wl_label"),
            )
        )
        if pin_rounds:
            labels = labels.localCheckpoint(eager=False)
    return labels


def butterfly_counts(
    edges: DataFrame,
    src: str = "subject_id",
    dst: str = "object_id",
    min_common: int = 2,
) -> DataFrame:
    """(a, b, n_common, n_butterflies) per left-node pair over a BIPARTITE
    edge list (src = left partition, dst = right partition): butterflies —
    2×2 bicliques, the bipartite analogue of triangles — between a and b
    number C(c, 2) where c is their common right-neighbor count. On the
    doc↔entity (or order↔part) bipartite graph this measures co-occurrence
    REDUNDANCY: pairs backed by many independent shared contexts, the
    signal one shared context can't give.

    Wedge enumeration exactly like adamic_adar: self-join the edge list on
    the right node (ids only cross the wire), count common neighbors per
    (a < b) pair in one hash aggregate, then C(c,2) = c(c−1)/2 — exact
    integer arithmetic end-to-end, so the oracle matches bit-for-bit.
    `min_common` (default 2) prunes the c=1 tail at the aggregate — pairs
    that close no butterfly — which is the bulk of pairs on any sparse
    graph. Right-side hubs bound the work (Σ deg² over right nodes); cap
    or sample hub right-nodes upstream on skewed corpora, exactly the
    hot-shingle contract dedup_text documents."""
    e = edges.select(F.col(src).alias("l"), F.col(dst).alias("r")).filter(
        F.col("l").isNotNull() & F.col("r").isNotNull()
    ).distinct()
    e1 = e.select(F.col("l").alias("a"), "r")
    e2 = e.select(F.col("l").alias("b"), "r")
    pairs = (
        e1.join(e2, "r")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )
    return pairs.select(
        "a",
        "b",
        "n_common",
        (F.col("n_common") * (F.col("n_common") - F.lit(1)) / F.lit(2))
        .cast("long")
        .alias("n_butterflies"),
    )


def degree_powerlaw_alpha(
    edges: DataFrame,
    d_min: int = 2,
    src: str = "subject_id",
    dst: str = "object_id",
    scale: int = 1_000_000,
) -> DataFrame:
    """ONE-row Hill estimator of the degree-distribution power-law tail:
    α = 1 + n / Σ ln(dᵢ/d_min) over nodes with degree ≥ d_min (Clauset/
    Shalizi/Newman 2009's MLE at a fixed cutoff). KGs live near α ≈ 2-3;
    drift toward 1 flags a hub explosion (an over-merged entity sucking in
    edges — the D8 failure mode), drift high flags fragmentation. Pairs
    with key_skew (row-level skew) as the graph-level structural gate.

    The degree table is the only data-scale aggregate; the tail fold sums
    round-6 FIXED-POINT ln terms (exact longs, order-free) and the single
    α division happens on exact integers. Nodes below d_min are excluded
    exactly (integer compare)."""
    und = _undirected(edges, src, dst)
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    tail = deg.filter(F.col("d") >= d_min).select(
        F.round(F.log(F.col("d") / F.lit(float(d_min))) * F.lit(float(scale)))
        .cast("long")
        .alias("_t")
    )
    agg = tail.agg(
        F.count(F.lit(1)).cast("long").alias("n_tail"),
        F.sum("_t").cast("long").alias("_s"),
    )
    return agg.select(
        "n_tail",
        F.lit(d_min).cast("long").alias("d_min"),
        F.when(
            F.col("_s") > 0,
            F.round(
                F.lit(1.0)
                + F.col("n_tail").cast("double")
                * F.lit(float(scale))
                / F.col("_s").cast("double"),
                6,
            ),
        ).alias("alpha"),
    )


def modularity(
    edges: DataFrame,
    labels: DataFrame,
    src: str = "subject_id",
    dst: str = "object_id",
    label_col: str = "label",
    node_col: str = "node",
    scale: int = 1_000_000_000,
) -> DataFrame:
    """ONE-row Newman modularity Q of a community assignment over the
    undirected simple graph: Q = Σ_c (e_c/m − (d_c/2m)²) — the standard
    "was this clustering better than chance" score for label_propagation
    (or any D8-style grouping projected onto the graph). Q ≈ 0 = random,
    0.3+ = real structure; between-build drift is a merge-quality gate
    that needs no gold labels (complement of the B³/pairwise gates, which
    do).

    Exact arithmetic: e_c (intra-community edges) and d_c (community
    degree sums) are integer aggregates; each community's term scales to
    fixed-point longs — e_c·scale div m and d_c²·scale div (4m²) — summed
    exactly, ONE division back at the end (contract: m·scale < 2^63 —
    drop `scale` a decade per decade of edges past 9×10^9; the (d_c/2m)²
    term is two chained integer divisions so it never overflows when
    m·scale fits). Nodes missing from `labels`
    form their own singleton communities (explicit coalesce, so a partial
    labeling is scored honestly rather than crashing). Two id-keyed joins
    + community-cardinality aggregates."""
    und = _undirected(edges, src, dst)
    la = labels.select(
        F.col(node_col).alias("a"), F.col(label_col).alias("_la")
    )
    lb = labels.select(
        F.col(node_col).alias("b"), F.col(label_col).alias("_lb")
    )
    tagged = (
        und.join(la, "a", "left")
        .join(lb, "b", "left")
        .select(
            F.coalesce(F.col("_la").cast("string"), F.concat(F.lit("\x02"), F.col("a"))).alias("la"),
            F.coalesce(F.col("_lb").cast("string"), F.concat(F.lit("\x02"), F.col("b"))).alias("lb"),
        )
    )
    m_row = tagged.agg(F.count(F.lit(1)).cast("long").alias("m"))
    intra = (
        tagged.filter(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("c"))
        .agg(F.count(F.lit(1)).cast("long").alias("ec"))
    )
    dsum = (
        tagged.select(F.col("la").alias("c"))
        .unionByName(tagged.select(F.col("lb").alias("c")))
        .groupBy("c")
        .agg(F.count(F.lit(1)).cast("long").alias("dc"))
    )
    per_c = dsum.join(intra, "c", "left").select(
        "c",
        F.coalesce("ec", F.lit(0)).cast("long").alias("ec"),
        "dc",
    )
    terms = per_c.crossJoin(F.broadcast(m_row)).select(
        "m",
        (
            F.expr(f"ec * CAST({scale} AS BIGINT) div m")
            # (dc/2m)^2·scale in two integer divisions — dc·dc·scale would
            # overflow a long at graph scale; the two-step form stays under
            # 2^63 whenever m·scale does, at ≤ 1 fixed-point unit of loss
            - F.expr(
                f"((CAST(dc AS BIGINT) * CAST({scale} AS BIGINT)) div (2 * m))"
                f" * dc div (2 * m)"
            )
        ).alias("_t"),
    )
    return terms.groupBy("m").agg(
        F.count(F.lit(1)).cast("long").alias("n_communities"),
        F.round(F.sum("_t") / F.lit(float(scale)), 6).alias("modularity"),
    ).select("m", "n_communities", "modularity")


def neighborhood_sizes(
    edges: DataFrame,
    src: str = "subject_id",
    dst: str = "object_id",
    max_node_degree: int | None = 1000,
) -> DataFrame:
    """(node, n_1hop, n_2hop): exact distinct-node counts within one and
    two hops (self excluded) — the head of the neighborhood function
    (ANF), the KG locality profile behind "how much graph does a 2-hop
    query touch" (H1/H2 cost estimation) and hub-blast-radius audits
    before a merge. n_2hop counts nodes at distance ≤ 2.

    Wedge-join shape (Σ deg² work) with the composition/hot-shingle
    degree-cap contract: `max_node_degree` LeftSemi-drops hub MID nodes
    before the 2-hop join (a hub's own row survives; paths THROUGH it are
    skipped — documented recall trade, None = exact). Exact integers; two
    id-only joins + one distinct + one count. At full ANF depth swap the
    distinct for per-node HLL registers (sketches.hll_sketch_grouped) —
    the standard ANF move; the exact head is the oracle-able form."""
    und = _undirected(edges, src, dst)
    adj = und.unionByName(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = adj.groupBy("a").agg(F.count(F.lit(1)).cast("long").alias("_d"))
    mids = (
        deg.filter(F.col("_d") <= max_node_degree).select("a")
        if max_node_degree is not None
        else adj.select("a").distinct()
    )
    hop2 = (
        adj.withColumnRenamed("b", "m")
        .join(mids.withColumnRenamed("a", "m"), "m", "left_semi")
        .join(
            adj.select(F.col("a").alias("m"), F.col("b").alias("c")),
            "m",
        )
        .filter(F.col("a") != F.col("c"))
        .select("a", "c")
    )
    reach = adj.select("a", F.col("b").alias("c")).unionByName(hop2).distinct()
    counts = reach.groupBy("a").agg(F.count(F.lit(1)).cast("long").alias("n_2hop"))
    return (
        deg.join(counts, "a")
        .select(F.col("a").alias("node"), F.col("_d").alias("n_1hop"), "n_2hop")
    )


def edge_lift(
    edges: DataFrame,
    src: str = "subject_id",
    dst: str = "object_id",
    weight: str | None = None,
) -> DataFrame:
    """Configuration-model edge surprise: lift(u,v) = w_uv · 2W /
    (s_u · s_v) — observed edge weight over its expectation under the
    degree-preserving null model (the same null modularity Q scores
    communities against, applied per EDGE). lift ≫ 1 = the connection is
    stronger than the endpoints' popularity explains (a real association);
    lift ≈ 1 = exactly what two hubs would produce by chance — the
    graph-level complement of doc-level PMI (cooc_pmi) for pruning
    hub-inflated co-occurrence edges before they enter the KG.

    Exact integer arithmetic: per-pair weights and node strengths are
    long sums, the numerator w·2W and denominator s_u·s_v are exact longs
    (overflow contract: w·2W < 2^63 — at larger totals pre-divide by a
    documented scale), ONE round-6 division at the end. Plan: one pair
    aggregate (undirected-canonical key), one strength aggregate, two
    id-keyed joins to attach strengths — ids and longs only.

    Returns (src, dst, weight, lift) with src < dst."""
    w_col = (
        F.coalesce(F.col(weight).cast("long"), F.lit(0))
        if weight
        else F.lit(1).cast("long")
    )
    pairs = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("_a"),
            F.greatest(F.col(src), F.col(dst)).alias("_b"),
            w_col.alias("_w"),
        )
        .filter(F.col("_a") != F.col("_b"))
        .groupBy("_a", "_b")
        .agg(F.sum("_w").cast("long").alias("weight"))
    )
    strengths = (
        pairs.select(F.col("_a").alias("_n"), "weight")
        .union(pairs.select(F.col("_b").alias("_n"), "weight"))
        .groupBy("_n")
        .agg(F.sum("weight").cast("long").alias("_s"))
    )
    total = pairs.agg((F.sum("weight") * 2).cast("long").alias("_w2"))
    return (
        pairs.join(strengths.select(F.col("_n").alias("_a"), F.col("_s").alias("_sa")), "_a")
        .join(strengths.select(F.col("_n").alias("_b"), F.col("_s").alias("_sb")), "_b")
        .crossJoin(F.broadcast(total))
        .select(
            F.col("_a").alias(src),
            F.col("_b").alias(dst),
            "weight",
            F.round(
                (F.col("weight") * F.col("_w2")).cast("double")
                / (F.col("_sa") * F.col("_sb")).cast("double"),
                6,
            ).alias("lift"),
        )
    )


def katz_centrality(
    edges: DataFrame,
    iterations: int = 3,
    src: str = "subject_id",
    dst: str = "object_id",
) -> DataFrame:
    """Katz centrality with attenuation β = 1/2, unrolled to `iterations`
    walk lengths, in EXACT integer micro-units: katz_micro(v) =
    Σ_{k=1..K} (10⁶ / 2^k) · walks_k(v), where walks_k(v) counts directed
    walks of length k ending at v. β = 1/2 keeps every per-length
    contribution an exact integer (10⁶/2ᵏ for k ≤ 3 divides evenly), so
    any engine chaining the same joins reproduces the hash — no float
    ever enters the fold. Nodes include both endpoints; walks₀ seeds 1.

    Scale: k chained equi-joins of the walk-count vector (|nodes| rows)
    against the edge list — the standard sparse matrix-vector product;
    each round is one shuffle on the join key, partial aggregation
    map-side. Hub blowup is bounded because counts grow only along real
    edges (cap the iteration count, not the data)."""
    if iterations < 1 or iterations > 6:
        raise ValueError("iterations must be in [1, 6] (10^6/2^k must divide evenly)")
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    nodes = (
        e.select(F.col("_s").alias("node"))
        .union(e.select(F.col("_d").alias("node")))
        .distinct()
    )
    walks = nodes.withColumn("w", F.lit(1).cast("long"))
    acc = nodes.withColumn("katz_micro", F.lit(0).cast("long"))
    for k in range(1, iterations + 1):
        beta_micro = 1_000_000 >> k
        walks = (
            e.join(walks, e["_s"] == walks["node"])
            .groupBy(F.col("_d").alias("node"))
            .agg(F.sum("w").cast("long").alias("w"))
        )
        acc = (
            acc.join(walks.withColumnRenamed("w", "_wk"), "node", "left")
            .withColumn(
                "katz_micro",
                F.col("katz_micro")
                + F.coalesce(F.col("_wk"), F.lit(0)) * F.lit(beta_micro),
            )
            .drop("_wk")
        )
    return acc.select("node", F.col("katz_micro").cast("long").alias("katz_micro"))


def reciprocity(
    edges: DataFrame,
    src: str = "subject_id",
    dst: str = "object_id",
    group_col: str | None = None,
) -> DataFrame:
    """Directed-edge reciprocity per group: (group?, n_edges,
    n_reciprocated, reciprocity). An edge u→v is reciprocated when v→u
    exists IN THE SAME GROUP. The KG-health read: a symmetric predicate
    (interacts_with) should sit near 1.0, an asymmetric one (is_a,
    part_of) near 0 — drift is an extraction-direction bug (the F6 swap
    family), caught here corpus-wide instead of per-triple.

    Self-loops are excluded (u→u is trivially its own reverse); edges
    dedup first so multi-evidence triples count once. ONE equi-join of
    the distinct edge set against its flip on (group, src, dst) — both
    sides shuffle-partition on the same key, integer counts, one round-6
    division. At 100 TB this is a self-join of the DISTINCT edge list
    (orders below raw mentions); AQE handles the hub-key skew."""
    keys = [group_col] if group_col else []
    e = (
        edges.select(*keys, F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    rev = e.select(*keys, F.col("v").alias("u"), F.col("u").alias("v"))
    marked = e.join(rev, [*keys, "u", "v"], "left_semi").groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n_reciprocated")
    )
    totals = e.groupBy(*keys).agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    out = (
        totals.join(marked, keys, "left") if keys else totals.crossJoin(marked)
    ).withColumn("n_reciprocated", F.coalesce("n_reciprocated", F.lit(0)))
    return out.select(
        *keys,
        "n_edges",
        F.col("n_reciprocated").cast("long").alias("n_reciprocated"),
        F.round(F.col("n_reciprocated") / F.col("n_edges"), 6).alias("reciprocity"),
    )


def rich_club(
    edges: DataFrame,
    k_grid: list[int],
    src: str = "subject_id",
    dst: str = "object_id",
) -> DataFrame:
    """Rich-club coefficient φ(k) over the undirected simple graph, for
    each k in k_grid: among nodes with degree > k, the realized fraction
    of possible edges — (k, n_nodes, n_edges, phi). A rising φ(k) says
    the hubs wire to each other (one densely-connected core of canonical
    entities); flat/falling says hub connections spread out. The
    structural audit for "did canonicalization collapse the hubs into a
    clique".

    Degrees come from one aggregate; each edge then carries its two
    endpoint degrees (two broadcast-size joins against the degree table —
    or shuffle joins at full scale) and the tiny k_grid crosses in as a
    literal array, so the whole sweep is ONE pass over the edge list, not
    |grid| passes. Integer counts, one round-6 division; φ undefined
    (NULL) when fewer than 2 nodes clear k."""
    und = _undirected(edges, src, dst)
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    ks = F.explode(F.array(*[F.lit(int(k)) for k in sorted(set(k_grid))])).alias("k")
    nodes_k = (
        deg.select("d").select(ks, "d")
        .filter(F.col("d") > F.col("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("_da"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("_db"))
    ed = und.join(da, "a").join(db, "b")
    edges_k = (
        ed.select(ks, "_da", "_db")
        .filter((F.col("_da") > F.col("k")) & (F.col("_db") > F.col("k")))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    )
    grid = local_frame(und.sparkSession, [(int(k),) for k in sorted(set(k_grid))], "k int")
    out = (
        grid.join(nodes_k, "k", "left")
        .join(edges_k, "k", "left")
        .select(
            "k",
            F.coalesce("n_nodes", F.lit(0)).cast("long").alias("n_nodes"),
            F.coalesce("n_edges", F.lit(0)).cast("long").alias("n_edges"),
        )
    )
    possible = F.col("n_nodes") * (F.col("n_nodes") - 1) / 2
    return out.select(
        "k",
        "n_nodes",
        "n_edges",
        F.when(
            F.col("n_nodes") >= 2, F.round(F.col("n_edges") / possible, 6)
        ).alias("phi"),
    )


def bowtie_classification(
    edges: DataFrame,
    max_depth: int = 16,
    src: str = "subject_id",
    dst: str = "object_id",
) -> DataFrame:
    """Broder bow-tie decomposition around the largest SCC: (node, cls)
    with cls ∈ {CORE, IN, OUT, OTHER}. CORE = the largest strongly
    connected component (ties broken to the min scc_id); IN = reaches
    the core but isn't in it; OUT = reached from the core; OTHER = the
    tendrils/disconnected rest. The macro-shape audit for a directed KG:
    a healthy taxonomy is almost all OTHER/OUT (DAG-shaped), a citation
    or link graph grows a fat core — drift between snapshots is
    structural news.

    IN ∩ OUT = ∅ by construction (a non-core node both reaching and
    reached by the core would close a cycle through the core and be IN
    the core) — so the classification is a partition, asserted cheaply
    by the class sum. Reuses the path-doubling transitive closure
    (2^max_depth reach, 4 self-join rounds at 16) and the SCC pass that
    already rides on it; reach sets materialize O(reachable pairs) —
    right for KG relation graphs (components small and shallow), the
    forward-backward coloring algorithm is the whole-web swap-in, as
    strongly_connected_components documents."""
    scc = strongly_connected_components(edges, max_depth=max_depth, src=src, dst=dst)
    sizes = scc.groupBy("scc_id").agg(F.count(F.lit(1)).cast("long").alias("sz"))
    top = sizes.orderBy(F.col("sz").desc(), F.col("scc_id")).limit(1)
    core = scc.join(
        F.broadcast(top.select("scc_id")), "scc_id", "left_semi"
    ).select("id")
    clo = transitive_closure(edges, max_depth=max_depth, src=src, dst=dst).select(
        "src", "dst"
    )
    reaches_core = (
        clo.join(core.select(F.col("id").alias("dst")), "dst", "left_semi")
        .select(F.col("src").alias("id"))
        .distinct()
    )
    reached_from_core = (
        clo.join(core.select(F.col("id").alias("src")), "src", "left_semi")
        .select(F.col("dst").alias("id"))
        .distinct()
    )
    nodes = (
        edges.select(F.col(src).alias("id"))
        .union(edges.select(F.col(dst).alias("id")))
        .distinct()
    )
    return (
        nodes.join(core.withColumn("_core", F.lit(1)), "id", "left")
        .join(reaches_core.withColumn("_in", F.lit(1)), "id", "left")
        .join(reached_from_core.withColumn("_out", F.lit(1)), "id", "left")
        .select(
            "id",
            F.when(F.col("_core") == 1, F.lit("CORE"))
            .when(F.col("_in") == 1, F.lit("IN"))
            .when(F.col("_out") == 1, F.lit("OUT"))
            .otherwise(F.lit("OTHER"))
            .alias("cls"),
        )
    )


def directed_triad_motifs(
    edges: DataFrame,
    src: str = "subject_id",
    dst: str = "object_id",
) -> DataFrame:
    """Directed triangle motif census: ONE row (n_edges,
    cyclic_triangles, transitive_triads). A cyclic triangle is a
    directed 3-cycle a→b→c→a (each counted once — the 3 rotations the
    join enumerates collapse by an exact `div 3`); a transitive triad is
    an ordered triple of distinct nodes with a→b, b→c AND the shortcut
    a→c (counted once per (a,b,c) instance). The feed-forward-vs-cycle
    mix is the classic motif signature separating hierarchy-shaped KGs
    (taxonomies: all transitive) from feedback-shaped ones
    (cyclic mass = contradiction/loop pressure for rule mining).

    Self-loops drop and edges dedup first, so multiplicity never
    inflates a motif. Scale: the open-path join e(a,b)⋈e(b,c) fans out
    as Σ_b in(b)·out(b) — the same hub-bound as kg_pred_compose; at
    100 TB cap hub degree first (degree_table + semi-join, the
    documented recall contract) or orient by (degree, id) as
    triangle_counts does. The cycle close is an id-pair join; the
    transitive close is a LEFT SEMI (path rows never duplicate).
    """
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    paths = (
        e.join(
            e.select(F.col("a").alias("b"), F.col("b").alias("c")), "b"
        )
        .filter(F.col("c") != F.col("a"))
        .select("a", "b", "c")
    )
    closing = e.select(F.col("a").alias("cl_c"), F.col("b").alias("cl_a"))
    cyc = (
        paths.join(
            closing,
            (F.col("c") == F.col("cl_c")) & (F.col("a") == F.col("cl_a")),
        )
        .agg(F.expr("count(*) div 3").cast("long").alias("cyclic_triangles"))
    )
    shortcut = e.select(F.col("a").alias("sc_a"), F.col("b").alias("sc_c"))
    trans = paths.join(
        shortcut,
        (F.col("a") == F.col("sc_a")) & (F.col("c") == F.col("sc_c")),
        "left_semi",
    ).agg(F.count(F.lit(1)).cast("long").alias("transitive_triads"))
    n_edges = e.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    return n_edges.crossJoin(cyc).crossJoin(trans)


def eccentricity_profile(
    edges: DataFrame,
    max_depth: int = 4,
    src: str = "subject_id",
    dst: str = "object_id",
) -> DataFrame:
    """Bounded-hop eccentricity per node: (node, ecc, n_reached) where
    ecc = the longest shortest-path (≤ max_depth) leaving the node and
    n_reached = how much of the graph it sees within the horizon.
    min(ecc) over nodes is the k-radius, max(ecc) the k-diameter — the
    "how stringy is this KG" profile that complements
    component_size_histogram (fragment count) and graph_ball (single
    seed). Nodes with no outgoing path are absent (their horizon is
    empty, not zero).

    Exact integers end to end. Scale: rides transitive_closure's
    doubling join (log₂(max_depth) shuffles, min-depth hash aggregates)
    plus ONE more groupBy on src; the honest caveat transitive_closure
    documents applies — the closure materializes reachable PAIRS, so
    keep max_depth small on dense graphs (the profile is most telling
    at 3-5 hops anyway)."""
    clo = transitive_closure(edges, max_depth, src=src, dst=dst)
    return clo.groupBy(F.col("src").alias("node")).agg(
        F.max("depth").cast("long").alias("ecc"),
        F.count(F.lit(1)).cast("long").alias("n_reached"),
    )


def attribute_mixing(
    edges: DataFrame,
    types: DataFrame,
    src: str = "subject_id",
    dst: str = "object_id",
) -> DataFrame:
    """Categorical mixing matrix + Newman assortativity over a typed
    graph: one row per (type_a, type_b) with the directed edge count,
    its micro fraction of all typed edges, and the graph-level
    coefficient r = (m·Tr − Σaᵢbᵢ)/(m² − Σaᵢbᵢ) repeated on every row
    (Tr = same-type edge count, aᵢ/bᵢ = out/in totals per type) —
    r → 1 when edges stay inside a type (assortative KG layers), r < 0
    when types alternate (bipartite-ish wiring). The categorical
    companion to degree_assortativity; types come as (entity_id, type).

    Exact: every term is an integer count cross-multiplied before the
    ONE division each for frac and r. Edges with an untyped endpoint
    drop (inner joins) — measured mixing is over the typed subgraph.

    Scale: two type-lookup joins (broadcast when the type table is a
    dimension), one |types|² aggregate, 1-row totals broadcast back."""
    ta = types.select(F.col(types.columns[0]).alias("_sid"),
                      F.col(types.columns[1]).alias("type_a"))
    tb = types.select(F.col(types.columns[0]).alias("_oid"),
                      F.col(types.columns[1]).alias("type_b"))
    typed = (
        edges.select(F.col(src).alias("_sid"), F.col(dst).alias("_oid"))
        .join(F.broadcast(ta), "_sid")
        .join(F.broadcast(tb), "_oid")
    )
    mat = typed.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_edges")
    )
    a_tot = mat.groupBy("type_a").agg(F.sum("n_edges").cast("long").alias("_a"))
    b_tot = mat.groupBy("type_b").agg(F.sum("n_edges").cast("long").alias("_b"))
    ab = (
        a_tot.join(
            b_tot, a_tot["type_a"] == b_tot["type_b"], "full_outer"
        )
        .select(
            (F.coalesce(F.col("_a"), F.lit(0)) * F.coalesce(F.col("_b"), F.lit(0)))
            .alias("_ab")
        )
        .agg(F.sum("_ab").cast("long").alias("sab"))
    )
    glob = mat.agg(
        F.sum("n_edges").cast("long").alias("m"),
        F.sum(F.when(F.col("type_a") == F.col("type_b"), F.col("n_edges"))
              .otherwise(F.lit(0))).cast("long").alias("tr"),
    ).crossJoin(F.broadcast(ab))
    r = F.when(
        F.col("m") * F.col("m") != F.col("sab"),
        F.round(
            (F.col("m") * F.col("tr") - F.col("sab")).cast("double")
            / (F.col("m") * F.col("m") - F.col("sab")).cast("double"),
            6,
        ),
    )
    return mat.crossJoin(F.broadcast(glob)).select(
        "type_a",
        "type_b",
        "n_edges",
        F.round(F.col("n_edges").cast("double") * F.lit(1_000_000.0)
                / F.col("m").cast("double"), 0).cast("long").alias("frac_micro"),
        r.alias("assortativity"),
    )


def dag_levels(
    edges: DataFrame,
    max_depth: int = 8,
    src: str = "subject_id",
    dst: str = "object_id",
) -> DataFrame:
    """Longest-path level per node from the DAG's roots: (node, level)
    with roots (no incoming edge) at 0 and level(v) = max over
    predecessors of level(u)+1 — the topological STRATIFICATION that
    schedules dependency evaluation (rule tiers, materialized-view
    refresh order, pipeline stages): everything in level k may run
    concurrently once k−1 finished. The max-path dual of sssp's
    min-fold.

    Contract: a DAG with longest path ≤ max_depth (levels are exact
    there); on a cycle the fold would climb forever, so levels clamp at
    max_depth rounds — a node AT max_depth in the output is the
    documented "suspect a cycle here" signal. Pure integer max-folds —
    no float playbook.

    Scale: one anti-join for roots, then max_depth rounds of one
    frontier⋈edges join + one max hash aggregate, pinned lazily (one
    action at the end — the temporal_reachability/D8 discipline)."""
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    nodes = (
        e.select(F.col("_s").alias("node"))
        .unionByName(e.select(F.col("_d").alias("node")))
        .distinct()
    )
    state = nodes.join(
        e.select(F.col("_d").alias("node")).distinct(), "node", "left_anti"
    ).select("node", F.lit(0).cast("long").alias("level"))
    for _ in range(max_depth):
        hop = (
            state.join(e, state["node"] == e["_s"])
            .select(F.col("_d").alias("node"), (F.col("level") + 1).alias("level"))
        )
        state = (
            state.unionByName(hop)
            .groupBy("node")
            .agg(F.max("level").alias("level"))
            .localCheckpoint(eager=False)
        )
    return state


def global_efficiency(
    edges: DataFrame,
    max_depth: int = 4,
    src: str = "subject_id",
    dst: str = "object_id",
) -> DataFrame:
    """Bounded-horizon global efficiency: mean over ALL ordered node
    pairs of 1/d(u,v), pairs unreachable within max_depth contributing
    the standard 0 — one number for "how navigable is this KG" that
    moves when hub deletion or over-aggressive dedup fragments it
    (component counts stay flat until a cut actually disconnects;
    efficiency degrades smoothly first). One row: (n_nodes,
    n_reachable_pairs, efficiency).

    Exactness: each pair's 1/d rounds ONCE to integer micro (d is a
    small integer, round(10⁶/d) is the same long everywhere), the sum
    is exact, and efficiency = (Σ/n(n−1))/10⁶ is a fixed two-division
    finish.

    Scale: rides transitive_closure (the materialized-pairs caveat
    applies — keep the horizon small on dense graphs) + ONE global
    aggregate; node census is a distinct over edge endpoints."""
    clo = transitive_closure(edges, max_depth, src=src, dst=dst)
    pairs = clo.filter(F.col("src") != F.col("dst")).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(
            F.round(F.lit(1_000_000.0) / F.col("depth").cast("double"), 0)
            .cast("long")
        ).cast("long").alias("s_micro"),
    )
    e = edges.select(F.col(src).alias("node")).unionByName(
        edges.select(F.col(dst).alias("node"))
    )
    n = e.distinct().agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    j = pairs.crossJoin(F.broadcast(n))
    denom = (F.col("n_nodes") * (F.col("n_nodes") - 1)).cast("double")
    return j.select(
        "n_nodes",
        F.col("n_pairs").alias("n_reachable_pairs"),
        F.when(
            F.col("n_nodes") > 1,
            F.round(
                F.col("s_micro").cast("double") / denom / F.lit(1_000_000.0), 6
            ),
        ).alias("efficiency"),
    )


def hub_removal_robustness(
    edges: DataFrame,
    top_k: int = 10,
    src_col: str = "subject_id",
    dst_col: str = "object_id",
) -> DataFrame:
    """Attack-robustness audit — how much of the graph's connective
    tissue rides on the top-k hubs: two rows (phase 'before'/'after')
    with (phase, hubs_removed, n_nodes, n_edges, max_degree, wedges).
    wedges = Σ d(d−1)/2 is the 2-path (routing-capacity) mass — the
    quantity a targeted hub attack destroys quadratically; a graph
    that loses most wedges to k node removals funnels its traffic
    through k chokepoints (the scale-free fragility result, restated
    as exact counts instead of a percolation simulation).

    Exact and join-only: undirected degrees from one canonical-pair
    aggregate, hubs = deterministic top-k by (degree DESC, node ASC)
    (an ordered LIMIT — never a sampled heap), removal = two broadcast
    anti-joins, and both phase summaries are single hash folds.
    """
    und = edges.select(
        F.least(F.col(src_col), F.col(dst_col)).alias("a"),
        F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
    ).filter(F.col("a") != F.col("b")).distinct()

    def summarize(e: DataFrame, phase: str, removed: int) -> DataFrame:
        deg = (
            e.select(F.col("a").alias("node"))
            .unionAll(e.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).cast("long").alias("d"))
        )
        # sums of d and d(d-1) stay far under 2^53, so the /2 halvings
        # (both exactly even) are exact double ops in any engine
        return deg.agg(
            F.lit(phase).alias("phase"),
            F.lit(removed).cast("long").alias("hubs_removed"),
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            (F.sum("d").cast("long") / F.lit(2)).cast("long").alias("n_edges"),
            F.max("d").cast("long").alias("max_degree"),
            (
                F.sum(F.col("d") * (F.col("d") - 1)).cast("long") / F.lit(2)
            ).cast("long").alias("wedges"),
        )

    deg_all = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    hubs = deg_all.orderBy(F.col("d").desc(), F.col("node").asc()).limit(
        top_k
    ).select("node")
    kept = und.join(
        F.broadcast(hubs.select(F.col("node").alias("a"))), "a", "left_anti"
    ).join(
        F.broadcast(hubs.select(F.col("node").alias("b"))), "b", "left_anti"
    )
    return summarize(und, "before", 0).unionAll(
        summarize(kept, "after", top_k)
    )


def neighbor_type_entropy(
    edges: DataFrame,
    src_col: str = "subject_id",
    dst_col: str = "object_id",
    type_chars: int = 1,
) -> DataFrame:
    """Per-node neighbor-type diversity — the entropy of each node's
    neighborhood composition (type = the id's `type_chars` prefix, the
    repo's O/P/S convention): one row per node (node, degree, k_types,
    h_bits, h_norm). A hub with h ≈ 0 only ever touches one entity
    class (a mechanical join artifact); high-entropy hubs are the
    semantically interesting connectors — the KG-quality lens degree
    alone cannot give.

    Exact: undirected neighbor pairs dedup first, per-(node, type)
    counts are integers, each count's n·(ln d − ln n)/ln2 term is
    nano-rounded and exact-summed per node (the entropy_rate recipe),
    h_norm divides by log2(k_types) once (NULL for k=1).
    """
    und = edges.select(
        F.col(src_col).alias("a"), F.col(dst_col).alias("b")
    ).union(
        edges.select(F.col(dst_col).alias("a"), F.col(src_col).alias("b"))
    ).filter(F.col("a") != F.col("b")).distinct()
    typed = und.select(
        "a", F.substring(F.col("b"), 1, type_chars).alias("ty")
    )
    cells = typed.groupBy("a", "ty").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    ln2 = 0.6931471805599453
    NANO = F.lit(1_000_000_000.0)
    deg = cells.groupBy("a").agg(
        F.sum("c").cast("long").alias("degree"),
        F.count(F.lit(1)).cast("long").alias("k_types"),
    )
    j = cells.join(deg, "a")
    term = F.round(
        F.col("c").cast("double")
        * (F.log(F.col("degree").cast("double")) - F.log(F.col("c").cast("double")))
        / F.lit(ln2)
        * NANO
    ).cast("long")
    agg = j.groupBy("a", "degree", "k_types").agg(
        F.sum(term).cast("long").alias("h_nano")
    )
    h = F.col("h_nano").cast("double") / (
        F.col("degree").cast("double") * NANO
    )
    hmax = F.log(F.col("k_types").cast("double")) / F.lit(ln2)
    return agg.select(
        F.col("a").alias("node"),
        "degree",
        "k_types",
        F.round(h, 6).alias("h_bits"),
        F.when(F.col("k_types") >= 2, F.round(h / hmax, 6)).alias("h_norm"),
    )
