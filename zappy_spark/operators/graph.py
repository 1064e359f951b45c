"""Iterative DataFrame graph algorithms: connected components,
PageRank, HITS, label propagation, BFS, and triangle counting.

Near-duplicate pairs form a graph; production dedup keeps one
representative per CONNECTED COMPONENT (transitive closure), not per
pair — (a,b) and (b,c) near-dups mean a,b,c are one cluster even if
(a,c) was never generated. This is also the missing piece most
pair-based dedup implementations get subtly wrong.

Every iterative operator here is one vertex program (the Pregel /
GraphX ``aggregateMessages`` model). ``_edge_table`` builds the
distinct (a, b) edge set, checkpointed once; ``_send`` joins
node-sized state onto it by ``a`` and emits messages to
``node = b``; each operator combines the messages per node (min for
CC and BFS, the mode for label propagation, a sum for PageRank and
HITS); and ``_rounds`` runs the rounds, cutting lineage every round
and applying an optional convergence probe. Per round: one join +
one aggregation, both hash-partitioned on the node id, so at
100 TB each round is two shuffles over (node, value) pairs.

Connected components is iterative min-label propagation (each node
adopts the smallest component id among itself and its neighbors,
until fixpoint). It converges in O(diameter) rounds; near-dup
clusters are shallow (diameter ≲ 5), so 20 rounds is a generous
default.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _parse_byte_conf(raw: object) -> int:
    """Parse a Spark byte-size conf value ('10485760b', '10MB',
    '2pb', '-1', plain int) into bytes. An unparseable spelling
    returns -1 (disabled), so the broadcast gate degrades to the
    shuffle path instead of raising."""
    s = str(raw).strip().lower()
    mult = 1
    for suf, m in (
        ("kb", 1024),
        ("mb", 1024**2),
        ("gb", 1024**3),
        ("tb", 1024**4),
        ("pb", 1024**5),
        ("k", 1024),
        ("m", 1024**2),
        ("g", 1024**3),
        ("t", 1024**4),
        ("p", 1024**5),
        ("b", 1),
    ):
        if s.endswith(suf):
            s = s[: -len(suf)] or "0"
            mult = m
            break
    try:
        return int(float(s)) * mult
    except (ValueError, OverflowError):
        return -1


# Conservative bytes-per-row estimate for a (bigint node, 8-byte
# payload) frame once built into a broadcast hash relation (key +
# value + hash-table overhead). Used only to GATE a hint, so
# overestimating is the safe direction.
_NODE_ROW_BYTES = 32


def _node_broadcast_ok(spark, n_nodes: int) -> bool:
    """``F.broadcast`` is a hard hint with no size fallback — at
    100 TB a graph's node set can exceed driver/executor memory and
    the hint OOMs instead of degrading to a shuffle join. Gate the
    node-frame broadcast on the same budget the planner uses for
    automatic broadcasts (spark.sql.autoBroadcastJoinThreshold; -1
    disables, matching the planner's semantics); above it the
    per-round join falls back to the shuffle strategies, which spill
    gracefully."""
    thresh = _parse_byte_conf(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    )
    return thresh > 0 and n_nodes * _NODE_ROW_BYTES <= thresh


def _edge_table(
    edges: DataFrame, src: str, dst: str, undirected: bool
) -> DataFrame:
    """The distinct (a, b) edge set of ``edges``, with both
    directions when ``undirected`` is set. Callers checkpoint it
    once: ``edges`` may be an expensive upstream plan (e.g. the full
    MinHash-LSH pipeline), and every round joins against it."""
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    if undirected:
        e = e.union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
    return e.distinct()


def _send(
    e: DataFrame, state: DataFrame, cols: list, bcast: bool = False
) -> DataFrame:
    """One message step: join node-sized ``state`` (keyed ``node``)
    onto the edge table ``e`` by ``a`` and emit ``cols`` to
    ``node = b``. Broadcasting the state keeps the much larger edge
    table from re-shuffling every round, but ``F.broadcast`` has no
    size fallback, so ``bcast`` is set only where
    ``_node_broadcast_ok`` admits the node count."""
    s = F.broadcast(state) if bcast else state
    return e.join(s, e["a"] == s["node"]).select(
        F.col("b").alias("node"), *cols
    )


def _min_over(own: DataFrame, msgs: DataFrame, *cols: str) -> DataFrame:
    """Per node, the min of each of ``cols`` over the node's own row
    and its messages: the CC and BFS combine."""
    return (
        own.unionByName(msgs)
        .groupBy("node")
        .agg(*[F.min(c).alias(c) for c in cols])
    )


def _rounds(state: DataFrame, step, rounds: int, done=None, op: str = ""):
    """Run ``rounds`` rounds of ``state = step(state)``. Lineage is
    cut every round: each round's plan stacks on the last, so an
    uncut loop plans (and re-executes) every earlier round again.
    ``done`` is an optional probe on the cut state; when it is given
    and never passes, raise RuntimeError naming ``op`` — silent
    partial convergence would return wrong answers."""
    for _ in range(rounds):
        state = step(state).localCheckpoint()
        if done is not None and done(state):
            return state
    if done is not None:
        raise RuntimeError(f"{op} did not converge in {rounds} iterations")
    return state


def connected_components(
    edges: DataFrame,
    src: str = "i",
    dst: str = "j",
    max_iter: int = 20,
) -> DataFrame:
    """Label every node reachable through ``edges`` with the minimum
    node id of its component. Returns (node, component).

    Raises RuntimeError if not converged within ``max_iter`` —
    silent partial convergence would mis-cluster.
    """
    sym = _edge_table(edges, src, dst, True).localCheckpoint()
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    comp_t = dict(labels.dtypes)["component"]

    def step(s: DataFrame) -> DataFrame:
        # the previous label rides along as ``_old``, non-null only on
        # the node's own row, so min() recovers it and the convergence
        # probe is a filter over the cut frame instead of a join
        own = s.select("node", "component", F.col("component").alias("_old"))
        msgs = _send(
            sym, s, ["component", F.lit(None).cast(comp_t).alias("_old")]
        )
        return _min_over(own, msgs, "component", "_old")

    def done(s: DataFrame) -> bool:
        changed = s.filter(F.col("component") != F.col("_old"))
        return changed.limit(1).count() == 0

    labels = _rounds(labels, step, max_iter, done, "connected_components")
    return labels.select("node", "component")


def drop_cluster_dups(
    df: DataFrame, pairs: DataFrame, id_col: str, max_iter: int = 20
) -> DataFrame:
    """Keep one doc (the min id) per near-dup component — the
    transitively-correct version of pairwise removal. ``max_iter``
    bounds the component diameter (near-dup chains are shallow;
    raise it for gradual-drift corpora)."""
    comps = connected_components(pairs, max_iter=max_iter)
    losers = comps.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("_loser")
    )
    return df.join(losers, F.col(id_col) == F.col("_loser"), "left_anti")


def pagerank(
    edges: DataFrame,
    src: str = "i",
    dst: str = "j",
    damping: float = 0.85,
    max_iter: int = 20,
    tol: float = 1e-6,
    exact_iters: int | None = None,
    restart: "list | None" = None,
) -> DataFrame:
    """PageRank over a directed edge list — the importance score for
    link/citation/reference graphs (which documents are canonical
    sources, which pages anchor a crawl). Returns (node, rank),
    ranks summing to 1.

    Per round ONE join (ranks onto out-edges) + ONE aggregation
    (sum of incoming contributions), both hash-partitioned on node
    ids, lineage cut every round. Dangling-node mass (nodes with no
    out-edges) is redistributed uniformly — the standard
    stochastic-matrix completion — via one tiny scalar agg per
    round. Convergence is checked on the L1 delta (one scalar per
    round); raises RuntimeError if not converged, like CC.
    ``exact_iters`` runs EXACTLY that many rounds, no early stop and
    no convergence requirement — the deterministic mode a
    fixed-iteration SQL oracle can replay.
    ``restart`` personalizes: teleport mass (and dangling mass)
    lands uniformly on the given SEED NODES instead of all nodes —
    Personalized PageRank, the "importance relative to this seed
    set" variant behind related-document ranking. Seeds absent from
    the graph and repeated seeds are ignored; raises ValueError when
    no seed is in the graph.
    """
    if not 0.0 < damping < 1.0:
        raise ValueError(f"damping must be in (0,1), got {damping}")
    if restart is not None and not restart:
        raise ValueError("restart set must be non-empty when given")
    # out-degrees ride on the edge table, so no round re-joins them;
    # count(*) over (partition by a) of the distinct edges IS the
    # out-degree
    e_deg = (
        _edge_table(edges, src, dst, False)
        .withColumn("deg", F.count("*").over(Window.partitionBy("a")))
        .localCheckpoint()
    )
    # node set and dangling marker from ONE aggregate: max(_src) = 0
    # iff the node never appears as a source, i.e. it dangles
    node_info = (
        e_deg.select(F.col("a").alias("node"), F.lit(1).alias("_src"))
        .union(e_deg.select(F.col("b").alias("node"), F.lit(0).alias("_src")))
        .groupBy("node")
        .agg(F.max("_src").alias("_src"))
        .localCheckpoint()
    )
    n = node_info.count()
    if n == 0:
        raise ValueError("pagerank of an empty graph")
    dangling = node_info.filter(F.col("_src") == 0).select("node")
    # with no dangling node the per-round mass is a sum over an empty
    # set, 0.0 every round, and x + d·0.0/n == x bit-exactly in IEEE,
    # so the dangling subquery can be dropped up front (symmetrized
    # graphs, like v16's trade graph, always take this path)
    has_dangling = dangling.limit(1).count() > 0
    dangling_col = F.col("_dangling") if has_dangling else F.lit(0.0)
    if restart is None:
        base_col = F.lit((1.0 - damping) / n) + (
            F.lit(damping) * dangling_col
        ) / F.lit(float(n))
    else:
        seeds = [int(x) for x in restart]
        # teleport mass splits over the distinct seeds in the graph
        k = node_info.filter(F.col("node").isin(seeds)).count()
        if k == 0:
            raise ValueError("restart set has no node in the graph")
        per_seed = (
            F.lit(1.0 - damping) + F.lit(damping) * dangling_col
        ) / F.lit(float(k))
        base_col = F.when(F.col("node").isin(seeds), per_seed).otherwise(
            F.lit(0.0)
        )
    rank_col = (
        base_col + F.lit(damping) * F.coalesce("inflow", F.lit(0.0))
    ).alias("rank")
    bcast = _node_broadcast_ok(edges.sparkSession, n)

    def step(ranks: DataFrame) -> DataFrame:
        # each node's own row rides the message shuffle with its
        # previous rank as ``_prev`` (for the L1 probe) and a null
        # contribution, which sum() skips. A left join of a node frame
        # onto the summed contributions would re-shuffle that frame
        # every round: AQE turns the join into a broadcast with a
        # local read, so no checkpoint keeps a hash partitioning. The
        # own rows come first in the union, so the contributions'
        # partial sums merge in the same order as without them.
        none = F.lit(None).cast("double")
        own = ranks.select(
            "node", F.col("rank").alias("_prev"), none.alias("c")
        )
        c = (F.col("rank") / F.col("deg")).alias("c")
        msgs = _send(e_deg, ranks, [none.alias("_prev"), c], bcast)
        upd = (
            own.unionByName(msgs)
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"), F.max("_prev").alias("_prev"))
        )
        if has_dangling:
            mass = ranks.join(dangling, "node", "left_semi").agg(
                F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dangling")
            )
            upd = upd.crossJoin(F.broadcast(mass))
        return upd.select("node", rank_col, "_prev")

    def done(ranks: DataFrame) -> bool:
        delta = F.sum(F.abs(F.col("rank") - F.col("_prev")))
        return ranks.agg(delta).first()[0] < tol

    ranks = node_info.select("node").withColumn("rank", F.lit(1.0 / n))
    if exact_iters is not None:
        ranks = _rounds(ranks, step, exact_iters)
    else:
        ranks = _rounds(ranks, step, max_iter, done, "pagerank")
    return ranks.select("node", "rank")


def hits_bipartite(
    edges: DataFrame,
    src: str = "o",
    dst: str = "p",
    iters: int = 3,
) -> DataFrame:
    """HITS hub/authority scoring on a bipartite src→dst edge list
    (orders→parts, pages→cited-sources, queries→documents): good
    hubs point at good authorities and vice versa — the
    seed-discovery dual of PageRank's single importance score.
    Returns (node, auth) for the dst side after ``iters`` authority
    updates.

    Determinism trick: scores stay UNNORMALIZED INTEGERS (hub⁰ = 1,
    then alternating integer-sum updates). Per-round L2
    normalization only rescales by a positive scalar, so the
    RANKING is identical to textbook HITS — but integer sums are
    exact and order-independent on every engine, so the
    fixed-iteration recursive-CTE oracle replays bit-for-bit with
    zero float/rounding risk (the same class-dodge as the decimal
    money sums). Callers wanting unit scores normalize the returned
    column once at the end. Overflow bound: scores grow ~
    (d_src·d_dst)^iters; with int64 that caps iters≈4 on
    thousand-degree graphs — raise to DECIMAL(38,0) beyond.

    Per half-round: ONE join (scores onto edges) + ONE integer sum
    aggregate, hash-partitioned on node ids; lineage cut per
    hub → authority → hub round."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    e = _edge_table(edges, src, dst, False).localCheckpoint()
    rev = e.select(F.col("b").alias("a"), F.col("a").alias("b"))

    def half(edge: DataFrame, s: DataFrame) -> DataFrame:
        return _send(edge, s, ["v"]).groupBy("node").agg(F.sum("v").alias("v"))

    hub = (
        e.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("v", F.lit(1).cast("bigint"))
    )
    hub = _rounds(hub, lambda h: half(rev, half(e, h)), iters - 1)
    return half(e, hub).select("node", F.col("v").alias("auth"))


def label_propagation(
    edges: DataFrame,
    src: str = "i",
    dst: str = "j",
    iters: int = 5,
) -> DataFrame:
    """Synchronous label propagation over an undirected edge list —
    the cheap community detector (near-linear per round, no
    modularity objective): every node starts as its own label and
    each round adopts the MODE of its neighbors' previous-round
    labels, ties broken by the smaller label. Returns
    (node, label) after exactly ``iters`` rounds. Communities
    separate denser-than-chance neighborhoods where connected
    components (d19) would merge everything reachable — in a
    near-dup graph that is the difference between a template FAMILY
    and a chain of borderline pairs.

    Fully deterministic by construction (synchronous update + the
    (count DESC, label ASC) tie-break), so a fixed-iteration
    recursive-CTE oracle replays it exactly — the same trick as
    pagerank's exact_iters and the d19 closure. Per round: ONE join
    (labels onto edges) + ONE count aggregate + ONE per-node mode
    aggregate, all hash-partitioned on node ids; lineage cut every
    round. At 100 TB: rounds are constant-cost joins; iters bounds
    wall-clock regardless of graph diameter (unlike CC, LPA is run
    for a fixed budget)."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    sym = _edge_table(edges, src, dst, True).localCheckpoint()
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    bcast = _node_broadcast_ok(edges.sparkSession, labels.count())

    def step(s: DataFrame) -> DataFrame:
        # the mode in ONE aggregate: min over the (-count, label)
        # struct is the (count DESC, label ASC) pick
        return (
            _send(sym, s, ["label"], bcast)
            .groupBy("node", "label")
            .agg(F.count("*").alias("c"))
            .groupBy("node")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("c")).alias("_nc"),
                        F.col("label").alias("label"),
                    )
                ).alias("_m")
            )
            .select("node", F.col("_m.label").alias("label"))
        )

    return _rounds(labels, step, iters)


def triangle_count(edges: DataFrame, src: str = "i", dst: str = "j") -> DataFrame:
    """Exact global triangle count with degree-ordered orientation —
    the third graph primitive next to components and PageRank (dedup
    reads it as a cluster-density signal: triangle-rich near-dup
    neighborhoods are template families, triangle-poor ones are
    chains of borderline pairs).

    The scale trick is the ORIENTATION: undirected edges are
    canonicalized then directed from the (degree, id)-smaller toward
    the larger endpoint, so every wedge enumeration fans out from
    the LOWER-degree endpoint. Out-degrees under this orientation
    are bounded by O(sqrt(m)), which turns the worst case from
    sum(deg^2) (quadratic at hubs — a power-law killer) into
    O(m^1.5) total wedges: the standard bound. Execution is two
    self-equi-joins hash-partitioned on node ids — no cartesian, no
    iteration; each triangle is counted exactly once (the count is
    orientation-invariant, so an oracle may replay with plain id
    ordering). Returns 1 row: (n_nodes, n_edges, n_triangles)."""
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("x"),
            F.greatest(F.col(src), F.col(dst)).alias("y"),
        )
        .filter(F.col("x") != F.col("y"))
        .distinct()
    )
    deg = (
        e.select(F.col("x").alias("n"))
        .unionAll(e.select(F.col("y").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    # orient each edge from the (degree, id)-smaller endpoint
    dx = deg.select(F.col("n").alias("x"), F.col("d").alias("dx"))
    dy = deg.select(F.col("n").alias("y"), F.col("d").alias("dy"))
    ranked = e.join(dx, "x").join(dy, "y")
    fwd = (F.col("dx") < F.col("dy")) | (
        (F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y"))
    )
    o = ranked.select(
        F.when(fwd, F.col("x")).otherwise(F.col("y")).alias("a"),
        F.when(fwd, F.col("y")).otherwise(F.col("x")).alias("b"),
    )
    wedges = o.alias("e1").join(
        o.alias("e2"), F.col("e1.b") == F.col("e2.a")
    ).select(
        F.col("e1.a").alias("u"),
        F.col("e1.b").alias("v"),
        F.col("e2.b").alias("w"),
    )
    # closing edge may be oriented either way between u and w
    closing = o.select(
        F.least("a", "b").alias("cx"), F.greatest("a", "b").alias("cy")
    )
    tri = wedges.join(
        closing,
        (F.least("u", "w") == F.col("cx"))
        & (F.greatest("u", "w") == F.col("cy")),
        "left_semi",
    )
    return (
        tri.agg(F.count("*").alias("n_triangles"))
        .crossJoin(deg.agg(F.count("*").alias("n_nodes")))
        .crossJoin(e.agg(F.count("*").alias("n_edges")))
        .select("n_nodes", "n_edges", "n_triangles")
    )


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "i",
    dst: str = "j",
    max_hops: int = 3,
    directed: bool = False,
) -> DataFrame:
    """Minimum hop distance from any seed node, bounded by
    ``max_hops`` — multi-source BFS, the reachability primitive next
    to components/PageRank/LPA (pipeline reading: "everything within
    k links of a known-bad seed set", the standard spam/contamination
    blast-radius query).

    Exactly ``max_hops`` rounds run (distances only shrink, and a
    node at distance d is final after round d, so a fixed-round
    schedule is exact for every node it returns — and replayable by
    a bounded recursive CTE, which is what makes the corpus oracle
    possible). Per round: one join + one min-agg, both
    hash-partitioned on the node id — two shuffles over (node, hops)
    pairs regardless of corpus size; lineage cut every round like
    connected_components. Returns (node, hops) for nodes within
    ``max_hops`` of a seed, seeds at 0.
    """
    e = _edge_table(edges, src, dst, not directed).localCheckpoint()
    dist = (
        seeds.select(F.col(seeds.columns[0]).alias("node"))
        .distinct()
        .withColumn("hops", F.lit(0))
    )

    def step(s: DataFrame) -> DataFrame:
        msgs = _send(e, s, [(F.col("hops") + 1).alias("hops")])
        return _min_over(s, msgs, "hops")

    return _rounds(dist, step, max_hops)
