"""Graph analytics beyond connected components: triangle counting.

Reference parity: the reference has no graph operators (its closest
shape is the per-flight episode chain, FlightAnalysis.py:134-330);
this module is part of the SURVEY §2.11 LLM-pipeline extension
surface — co-occurrence graphs over behavioral data, with the dup
graph's connected components (operators/corpus.py) as the sibling.

Algorithm: degree-ordered compact-forward counting (the standard
distributed formulation). Every undirected edge is ORIENTED from its
lower-(degree, id) endpoint to the higher one; a triangle {a,b,c}
with ord(a) < ord(b) < ord(c) then appears exactly once, as the
wedge (a→b, a→c) closed by (b→c). Why the degree ordering matters at
100 TB: out-degree under this orientation is bounded by O(sqrt(m))
on any graph (arboricity bound), so the wedge join's per-key fan-out
— the term that makes naive triangle joins quadratic on hub nodes —
stays bounded no matter how skewed the raw degree distribution is.
Every step is DataFrame joins/aggregations: degree groupBy, two
shuffle joins on node keys, one explode+count.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import shuffle_width
from .skew import pinned_checkpoint

# Static edge tables that feed EVERY round of an iterative loop are
# placed once via _pinned_edge_table, NOT a plain localCheckpoint: a
# plain checkpoint (eager or lazy) reports UnknownPartitioning/no
# ordering to downstream planning under AQE, so every round's SMJ
# silently re-exchanged AND re-sorted the edge table it was
# "shuffled once" for (probe-verified r15; the r10-era comments
# claiming the checkpoint pins HashPartitioning were wrong).
# Per-round frames deliberately stay on plain checkpoints — pinning
# them re-ran their small aggregates at full session width with no
# runtime coalescing (the r14 graphs-wide experiment, 34 -> 59 s,
# correctly reverted).


def _pinned_edge_table(
    df: DataFrame, key: str, n_rows: int | None = None
) -> DataFrame:
    """Materialize a loop's STATIC table once, hash-placed and sorted
    on ``key`` behind a pinned checkpoint, at a width sized to the
    TABLE (~250k rows per partition, min 2, cap 2048), not the
    session shuffle width.

    Both halves matter and were measured separately (r15 A/B):
      * the PIN keeps partitioning/ordering visible, so per-round
        SMJs stop re-exchanging and re-sorting the static side
        (pagerank_events 20 -> 6 Exchanges in the unrolled plan);
      * the DATA-SIZED width keeps a bench-scale graph from running
        every round as 32 near-empty tasks — pinning at session
        width alone regressed the whole loop family 1.5-2x at sf0.1
        (task latency), while a 10^9-edge dup graph still gets ~1000
        partitions. AQE cannot size a pinned exchange, so the width
        must be right at compile time; one bounded count() job pays
        for it (the frame is lazily checkpointed first, so the count
        materializes what round 1 needs anyway).

    ``n_rows`` skips the count when the caller already knows it
    (e.g. a second placement of the same table on another key).

    Width floor is 2, NOT 1: HashPartitioning(key, 1) normalizes to
    a partitioning the planner re-exchanges anyway (probe: p=1 kept
    3 exchanges and re-shuffled the pinned side to 32; p=2+ elides
    and the other side adopts the pinned width).

    ~250k rows per partition, NOT the 1M-row shuffle-bytes heuristic
    the CC loop uses: the pinned width is also the COMPUTE width of
    every per-round SMJ (AQE cannot re-split an elided exchange), and
    at 1M rows/partition a 6M-edge label_propagation ran 13-wide on a
    32-thread executor — 2.4x slower than the unpinned plan it beat
    at bench scale (measured r15). 250k rows ≈ 4-8 MB of edge rows:
    small enough to keep a big graph's loop at full width, large
    enough that a bench-scale graph stays at 2-3 low-latency tasks."""
    if n_rows is None:
        df = df.localCheckpoint(eager=False)
        n_rows = df.count()
    p = max(2, min(int(n_rows // 250_000) + 1, 2048))
    return pinned_checkpoint(
        df.repartition(p, key).sortWithinPartitions(key)
    )

def oriented_edges(edges: DataFrame, u: str = "u", v: str = "v") -> DataFrame:
    """Undirected distinct edges (u < v, no self-loops) -> edges
    oriented low-ord -> high-ord, carrying both endpoints' ord keys
    as (src, dst, src_ord, dst_ord).

    ord(node) is the STRUCT (deg, node): Spark compares structs
    lexicographically, so <, least and greatest all order by degree
    with the id as tiebreak. A struct key is total and collision-free
    for any id range — the earlier arithmetic packing
    (deg * 1e9 + node) silently mis-ordered once ids reached 1e9,
    which raw production user_ids can."""
    deg = (
        edges.select(F.col(u).alias("node"))
        .unionByName(edges.select(F.col(v).alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
        .select(
            "node",
            F.struct(F.col("deg"), F.col("node").alias("id")).alias("ord"),
        )
    )
    e = (
        edges.join(deg.withColumnRenamed("node", u).withColumnRenamed("ord", "u_ord"), u)
        .join(deg.withColumnRenamed("node", v).withColumnRenamed("ord", "v_ord"), v)
    )
    fwd = F.col("u_ord") < F.col("v_ord")
    return e.select(
        F.when(fwd, F.col(u)).otherwise(F.col(v)).alias("src"),
        F.when(fwd, F.col(v)).otherwise(F.col(u)).alias("dst"),
        F.least("u_ord", "v_ord").alias("src_ord"),
        F.greatest("u_ord", "v_ord").alias("dst_ord"),
    )


def triangle_counts(edges: DataFrame, u: str = "u", v: str = "v") -> DataFrame:
    """Per-node triangle participation counts over an undirected
    simple graph given as distinct (u < v) pairs. Returns (node,
    n_triangles) for every node in at least one triangle.

    Wedges form at each triangle's LOWEST-ord vertex only (e1.dst_ord
    < e2.dst_ord keeps each unordered wedge once); the closing join
    probes the oriented edge set, so each triangle materializes
    exactly one row before the explode fans it back to its three
    corners."""
    tri = _triangle_rows(edges, u, v)
    return (
        tri.select(
            F.explode(F.array("a", "b", "c")).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def _triangle_rows(
    edges: DataFrame,
    u: str = "u",
    v: str = "v",
    materialize: bool = True,
) -> DataFrame:
    """Every triangle exactly once as an (a, b, c) row, ord-ordered
    (the degree-ordered compact-forward enumeration triangle_counts
    and ktruss share).

    ``materialize``: the oriented edge table feeds THREE consumers
    (both wedge sides + the closing probe), and oriented_edges
    itself consumes ``edges`` three more times (degree union + the
    two annotation joins) — so a lazy ``edges`` replans its whole
    derivation ~9x (exchange reuse dedupes the shuffles but not the
    post-exchange compute; local_clustering_events carried 172
    Exchanges / 30 scans in its static plan). One lazy
    localCheckpoint runs it once. ``materialize=False`` is an escape
    hatch for per-round loops where the materialization might not
    pay; currently UNUSED — ktruss's peel measured faster WITH
    materialization (r14 A/B, 5.08 -> 4.79 s) and keeps the default,
    with the loop unpersisting each round's frames once the next
    round's eager checkpoint lands (see ktruss)."""
    o = oriented_edges(edges, u, v)
    if materialize:
        o = o.localCheckpoint(eager=False)
    e1 = o.select(
        F.col("src").alias("a"),
        F.col("dst").alias("b"),
        F.col("dst_ord").alias("b_ord"),
    )
    e2 = o.select(
        F.col("src").alias("a"),
        F.col("dst").alias("c"),
        F.col("dst_ord").alias("c_ord"),
    )
    wedges = e1.join(e2, "a").filter(F.col("b_ord") < F.col("c_ord"))
    closing = o.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    return wedges.join(closing, ["b", "c"]).select("a", "b", "c")


def pagerank_micro(
    edges: DataFrame,
    n_iter: int = 3,
    u: str = "u",
    v: str = "v",
    seeds: DataFrame | None = None,
) -> DataFrame:
    """PageRank over an undirected simple graph given as distinct
    (u < v) pairs, with EXACT integer-micro arithmetic so every
    engine reproduces the ranks bit-for-bit (the Lloyd/GD doctrine
    applied to the classic iterative graph algorithm):

      * ranks are BIGINT micros, sum-to-N convention (r0 = 1e6 per
        node);
      * a node's per-edge contribution is ``r DIV deg`` (integer
        division — both engines truncate identically on nonnegative
        BIGINTs);
      * the damped update is pure integer arithmetic too:
        r' = 150000 + (17 * sum_contribs) DIV 20   (d = 0.85 = 17/20,
        (1-d) = 0.15 -> 150000 micros).

    Unlike Lloyd/GD there is NO driver sync: each iteration is a
    join + groupBy on DataFrames, so ``n_iter`` rounds compose into
    ONE lazy plan — Catalyst sees the whole pipeline. Scale shape:
    per iteration one shuffle join of edges with the (node, rank)
    table on the source key and one map-side-combining groupBy on
    the destination key; the rank state is one row per node, never
    driver-resident. Isolated nodes are out of scope (no edges =>
    not in the graph), and every graph node has deg >= 1 by
    construction, so there is no dangling-mass term.

    ``seeds`` (optional, a one-column ``node`` frame) switches to
    PERSONALIZED PageRank: the restart mass — 0.15 of the total
    N x 1e6 micros — is divided equally over the seed nodes (those
    present in the graph) instead of uniformly, i.e.
    r' = [node in seeds] * (3 * N * 1e6) DIV (20 * |seeds|)
         + (17 * sum_contribs) DIV 20,
    still pure BIGINT arithmetic (3/20 = 0.15; products stay inside
    int64 up to ~1e12 nodes). The seed-count and node-count scalars
    ride a broadcast one-row crossJoin, so the personalized variant
    is STILL one lazy plan with no driver sync. Initial ranks stay
    uniform (1e6 per node) — the fixed-iteration contract scores
    proximity to the seed set after n_iter damped steps, exactly
    what the unrolled oracle replays.

    Returns (node, rank_micro BIGINT)."""
    de = edges.select(F.col(u).alias("s"), F.col(v).alias("t")).unionByName(
        edges.select(F.col(v).alias("s"), F.col(u).alias("t"))
    )
    deg = de.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    # ONE materialization of the static edge side, HASH-PARTITIONED
    # AND SORTED on the join key before the PINNED checkpoint: every
    # iteration's rank join is an SMJ on `s`, and only
    # pinned_checkpoint keeps the partitioning/ordering visible to
    # planning (a plain localCheckpoint reports UnknownPartitioning —
    # every iteration re-exchanged AND re-sorted the edge table; see
    # the module note) — so the 2m-row edge table is shuffled and
    # sorted ONCE (the GraphX edge-partitioning pattern; the
    # round-robin widen-then-checkpoint variant re-sorted per
    # iteration and went superlinear at 10x in tools/scale_smoke —
    # 165 s -> 105 s at 60M directed edges x 3 iterations)
    # do NOT _pinned_edge_table here (measured r15, both scales):
    # pagerank's loop is FULLY LAZY (no per-round checkpoint), so AQE
    # re-optimizes the whole unrolled plan at runtime — including
    # converting the per-round rank joins to broadcasts when the
    # node-sized side fits — and that beats the static pin
    # (interleaved A/B: +0.6 s at sf0.1, +10% at 6M synthetic edges).
    # The pin pays off only where per-round eager cuts block AQE's
    # cross-round view (bfs/sssp/harmonic) or the loop state is
    # edge-sized (salsa); see those operators.
    dd = (
        de.join(deg, "s")
        .repartition(shuffle_width(edges.sparkSession), "s")
        .sortWithinPartitions("s")
        .localCheckpoint(eager=False)
    )
    # node list derived from the CHECKPOINTED edge table (and itself
    # checkpointed): the raw `deg` would re-run the whole upstream
    # edge pipeline + degree groupBy once per iteration
    nodes = dd.select("s").distinct().localCheckpoint(eager=False)
    if seeds is not None:
        seed_nodes = (
            seeds.select(F.col("node").alias("s")).distinct().join(
                nodes, "s", "left_semi"
            )
        ).localCheckpoint(eager=False)
        scalars = F.broadcast(
            nodes.agg(F.count(F.lit(1)).alias("__nn")).crossJoin(
                seed_nodes.agg(F.count(F.lit(1)).alias("__ns"))
            )
        )
        seed_flag = F.broadcast(
            seed_nodes.select("s", F.lit(True).alias("__seed"))
        )
    ranks = nodes.select(
        F.col("s").alias("node"), F.lit(1_000_000).cast("long").alias("r")
    )
    for _ in range(n_iter):
        contribs = (
            dd.join(ranks, dd["s"] == ranks["node"])
            .select(
                F.col("t").alias("node2"),
                F.expr("r DIV deg").alias("c"),
            )
            .groupBy("node2")
            .agg(F.sum("c").alias("cs"))
        )
        base = nodes.select(F.col("s").alias("node")).join(
            contribs, F.col("node") == F.col("node2"), "left"
        )
        if seeds is None:
            restart = F.lit(150_000).cast("long")
        else:
            base = base.join(
                seed_flag, base["node"] == seed_flag["s"], "left"
            ).crossJoin(scalars)
            # Fail FAST (and loudly) when no seed overlaps the graph:
            # with __ns = 0 the seed_flag side is empty, so the
            # `when(__seed, ...)` branch never fires and Spark would
            # silently drop ALL restart mass, while the unrolled
            # DuckDB oracle raises on // 0 — a silent/loud divergence.
            # The guard rides the same broadcast scalar every row
            # already crossJoins, so the plan stays lazy (no driver
            # sync); raise_error fires at execution time.
            guard = F.expr(
                "CASE WHEN __ns > 0 THEN CAST(0 AS LONG) ELSE "
                "CAST(raise_error('pagerank_micro: seed set has no "
                "overlap with the graph (in-graph seed count is 0)') "
                "AS LONG) END"
            )
            restart = (
                F.when(
                    F.col("__seed"),
                    F.expr("(3 * __nn * 1000000) DIV (20 * __ns)"),
                )
                .otherwise(F.lit(0))
                .cast("long")
                + guard
            )
        ranks = base.select(
            "node",
            (
                restart
                + F.expr("(17 * coalesce(cs, CAST(0 AS LONG))) DIV 20")
            ).alias("r"),
        )
    return ranks.select("node", F.col("r").alias("rank_micro"))


def _peel_rounds(
    d: DataFrame,
    peel: Callable[[DataFrame], DataFrame],
    n_rounds: int | None,
    max_rounds: int,
    name: str,
) -> DataFrame:
    """The kcore/ktruss peel loop: exactly ``n_rounds`` peels, or (with
    ``n_rounds=None``) peel until the surviving row count stops
    changing, raising after ``max_rounds``. Every round's result is
    EAGERLY checkpointed (see kcore for why)."""
    from pyspark import StorageLevel

    def _ckpt(x: DataFrame) -> DataFrame:
        # SERIALIZED memory+disk storage: the default deserialized
        # level holds each round's surviving-edge table as JVM row
        # objects — ~100 B/row of header overhead, measured heap OOM
        # at 60M directed edges x 4 rounds on a 16 GiB local JVM;
        # serialized UnsafeRow pages are ~16 B/row and spill cleanly
        return x.localCheckpoint(
            eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK
        )

    # Free each round's persistent RDDs once the NEXT round's eager
    # checkpoint holds the data: a round caches one edge-sized frame
    # (two in ktruss — the lazy oriented-edge checkpoint inside
    # _triangle_rows plus the round's _ckpt), and although surviving-
    # edge tables shrink monotonically, up to max_rounds=64 dead
    # frames would still cost rounds x first-round size of executor
    # storage at scale. Round N's new RDDs are diffed against a
    # snapshot via getPersistentRDDs and freed after round N+1
    # materializes; frames cached BEFORE the loop (callers' lazy
    # checkpoints) are in the snapshot and never touched.
    jsc = d.sparkSession.sparkContext._jsc

    def _persistent_ids() -> set:
        return {int(k) for k in jsc.getPersistentRDDs().keySet().toArray()}

    def _unpersist(ids: set) -> None:
        m = jsc.getPersistentRDDs()
        for jk in m.keySet().toArray():
            if int(jk) in ids:
                m.get(jk).unpersist(False)

    prev_round_ids: set = set()

    def _round(x: DataFrame) -> DataFrame:
        nonlocal prev_round_ids
        before = _persistent_ids()
        out = _ckpt(peel(x))
        _unpersist(prev_round_ids)
        prev_round_ids = _persistent_ids() - before
        return out

    if n_rounds is not None:
        for _ in range(n_rounds):
            d = _round(d)
        return d
    d = _ckpt(d)
    prev = d.count()
    for _ in range(max_rounds):
        d = _round(d)
        n = d.count()
        if n == prev:
            return d
        prev = n
    raise RuntimeError(f"{name}: no fixpoint within max_rounds={max_rounds}")


def kcore(
    edges: DataFrame,
    k: int = 2,
    n_rounds: int | None = None,
    u: str = "u",
    v: str = "v",
    max_rounds: int = 64,
) -> DataFrame:
    """k-core decomposition by iterative peeling over an undirected
    simple graph given as distinct (u < v) pairs: repeatedly delete
    every node whose degree in the SURVIVING subgraph is < k, until
    nothing changes. The classic web/social-graph quality filter
    (Seidman 1983, "Network structure and minimum degree"; the
    standard distributed formulation peels a round at a time) — in a
    corpus pipeline the 2-core of a link/co-occurrence graph drops
    leaf-and-chain spam tails while keeping the dense community.

    Two modes:
      * ``n_rounds=None`` (production): peel until fixpoint, checked
        by a driver-side surviving-EDGE count per round (one scalar
        per round, the Lloyd/GD bounded-sync shape), capped at
        ``max_rounds`` (the true peel count never exceeds the graph's
        degeneracy ordering depth; 64 covers any real co-occurrence
        graph and the cap raises rather than silently truncates).
      * ``n_rounds=N`` (oracle replay): exactly N peels, giving the
        DuckDB oracle a fixed CTE unrolling. Callers pin N ≥ the
        fixpoint depth at gate scale (tests assert the fixpoint
        really is reached, so the pinned-round result IS the k-core,
        not a truncation).

    Per round: one map-side-combining degree groupBy + two
    MERGE-hinted semi-joins re-keying the directed edge table on src
    then dst — all shuffles on the same two keys every round, no
    fan-out join anywhere, surviving-edge state only (never
    driver-resident). Each round's edge table is EAGERLY
    localCheckpointed: the alive set is used by two joins (without a
    checkpoint the plan triples per round), and a chain of LAZY
    checkpoints materializing in one final job is fragile at scale —
    memory pressure evicts a not-yet-checkpointed block whose lineage
    is already cut ("Block rdd_N does not exist", reproduced at 30M
    directed edges in tools/scale_smoke) — so peeling pays one
    bounded driver sync per round in both modes, the standard
    iterative-graph trade (GraphX/Pregel materializes per superstep
    for the same reason). Surviving-edge tables shrink monotonically,
    bounding total checkpoint storage at rounds x first-round size,
    disk-spillable.

    Returns (node, core_deg) for every node surviving all peels,
    where core_deg is the node's degree within the k-core subgraph.
    """
    de = edges.select(F.col(u).alias("s"), F.col(v).alias("t")).unionByName(
        edges.select(F.col(v).alias("s"), F.col(u).alias("t"))
    )

    def peel(d: DataFrame) -> DataFrame:
        alive = (
            d.groupBy("s")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= k)
            .select("s")
        )
        # merge-hint both semi-joins: the alive set is O(nodes) — at
        # scale it must NOT broadcast, and without the hint AQE sees
        # a just-under-threshold shuffle stat and pins one multi-
        # hundred-MB broadcast PER ROUND for the whole job (measured
        # OOM at 30M directed edges x 4 rounds in tools/scale_smoke);
        # SMJ sorts-and-spills instead, and the s-side shuffle is
        # shared with the degree groupBy's partitioning
        return d.join(alive.hint("merge"), "s", "left_semi").join(
            alive.withColumnRenamed("s", "t").hint("merge"),
            "t",
            "left_semi",
        )

    de = _peel_rounds(de, peel, n_rounds, max_rounds, "kcore")
    return de.groupBy("s").agg(F.count(F.lit(1)).alias("core_deg")).select(
        F.col("s").alias("node"), "core_deg"
    )


def ktruss(
    edges: DataFrame,
    k: int = 4,
    n_rounds: int | None = None,
    u: str = "u",
    v: str = "v",
    max_rounds: int = 64,
) -> DataFrame:
    """k-truss decomposition by edge-support peeling over an
    undirected simple graph given as distinct (u < v) pairs:
    repeatedly delete every edge in fewer than k-2 triangles of the
    SURVIVING subgraph, until stable (Cohen 2008, "Trusses: cohesive
    subgraphs for social network analysis") — the edge-cohesion
    sharpening of kcore (a k-truss is always inside the (k-1)-core),
    the standard dense-community/spam-tail filter one notch stronger
    than degree peeling.

    Per round: one degree-ordered triangle enumeration
    (_triangle_rows — the arboricity-bounded wedge join
    triangle_counts uses, never a naive neighbor-pair fan), each
    triangle exploded to its three id-normalized edges, one
    map-side-combining support count, and an inner join back to the
    edge set (k >= 3 makes support >= 1 a requirement, so zero-
    support edges drop by absence). Same two modes and the same
    eager serialized per-round checkpoint discipline as kcore
    (n_rounds pinned for the unrolled-CTE oracle — tests assert the
    fixpoint is reached inside the pinned rounds; n_rounds=None
    peels to fixpoint on a per-round edge-count sync).

    Returns the surviving edges with their final in-truss support:
    (u, v, support). At fixpoint the last peel's support IS the
    final subgraph's support (the edge set no longer changes).
    """
    if k < 3:
        raise ValueError(f"k must be >= 3 for a k-truss, got {k}")
    if n_rounds is not None and n_rounds < 1:
        raise ValueError("n_rounds must be >= 1 (the support column "
                         "only exists after a peel)")
    e = edges.select(F.col(u).alias("u"), F.col(v).alias("v"))

    def peel(d: DataFrame) -> DataFrame:
        tri = _triangle_rows(d)
        pair = lambda x, y: F.struct(  # noqa: E731
            F.least(x, y).alias("u"), F.greatest(x, y).alias("v")
        )
        sup = (
            tri.select(
                F.explode(
                    F.array(
                        pair("a", "b"), pair("a", "c"), pair("b", "c")
                    )
                ).alias("e")
            )
            .select("e.u", "e.v")
            .groupBy("u", "v")
            .agg(F.count(F.lit(1)).alias("support"))
        )
        return d.select("u", "v").join(sup, ["u", "v"]).filter(
            F.col("support") >= k - 2
        )

    e = _peel_rounds(e, peel, n_rounds, max_rounds, "ktruss")
    return e.select("u", "v", "support")


def incremental_connected_components(
    history: DataFrame,
    new_edges: DataFrame,
    id_col: str = "id",
    cluster_col: str = "cluster_id",
    src_col: str = "id1",
    dst_col: str = "id2",
    new_nodes: DataFrame | None = None,
) -> DataFrame:
    """Incremental connected components against a GROWING edge log:
    given ``history`` — the (node, cluster) labeling of every edge
    batch seen so far, with the min-label invariant
    operators/dedup.connected_components produces (cluster =
    smallest reachable node id) — fold in one arriving batch of
    undirected ``new_edges`` and return the updated labeling. The
    graph analog of the incremental-dedup family
    (operators/corpus.incremental_dedup and friends): arrivals are
    processed against persisted state, never by re-running the
    from-scratch algorithm over the whole log.

    EXACTNESS (not an approximation): the result equals from-scratch
    min-label CC over (history's graph + new edges). Proof shape:
    contract every history component to its representative label.
    New edges connect representatives; min-label CC over that
    CONTRACTED graph — whose size is bounded by the new batch, never
    by history — yields, for each merged group, the min over member
    components' minima = the min reachable id in the full graph.
    Induction over batches makes the update confluent: any split of
    an edge log into arrival batches converges to the same labeling
    as one batch (min over a union is order-free), and REPLAYING a
    batch is a no-op (already-merged labels contract to self-loops),
    the idempotence the streaming twin's restart contract needs.

    Scale shape (100 TB): the contracted merge graph is collected
    only through connected_components' bounded small-graph path (or
    its distributed loop past SMALL_GRAPH_EDGES); history is touched
    by exactly ONE map-side pass — a broadcast remap join on
    cluster_col against the (changed labels only) merge map, no
    shuffle of the store. On a cluster-keyed bucketed store the same
    remap is a MERGE touching only buckets whose cluster appears in
    the map, the streaming-upsert pattern (sinks.upsert).

    Self-loop rows (u, u) in ``new_edges`` are tolerated and act as
    node arrivals: they register the endpoint (so an edge-less new
    node appears as a singleton) without merging anything —
    ``new_nodes`` is the explicit form of the same thing.

    Returns (id_col, cluster_col) covering history nodes plus every
    new-edge endpoint / new node.
    """
    from .dedup import connected_components

    e = new_edges.select(
        F.col(src_col).alias("u"), F.col(dst_col).alias("v")
    )
    endpoints = e.select(F.col("u").alias("nid")).unionByName(
        e.select(F.col("v").alias("nid"))
    )
    if new_nodes is not None:
        endpoints = endpoints.unionByName(
            new_nodes.select(F.col(id_col).alias("nid"))
        )
    endpoints = endpoints.distinct()

    # arriving endpoints resolve to their current representative:
    # history label if known, own id if new. The arriving side is
    # the bounded one — broadcast it so the history store streams
    # map-side (one pass, no shuffle). Decomposed as inner + anti
    # because an OUTER join can't build its preserved side: a
    # broadcast hint on the right of a right_outer join is
    # unsupported and silently ignored (Spark logs and falls back),
    # which would shuffle — or worse, broadcast — the store. Inner
    # BuildRight and LeftAnti BuildRight are both supported, so the
    # store pass stays map-side; the checkpoint makes it run ONCE
    # (the anti probe reuses `known` instead of re-scanning history).
    known = (
        history.select(
            F.col(id_col).alias("nid"), F.col(cluster_col).alias("lbl")
        )
        .join(F.broadcast(endpoints), "nid")
        .localCheckpoint(eager=False)
    )
    unknown = endpoints.join(
        F.broadcast(known.select("nid")), "nid", "left_anti"
    )
    lbl = (
        known.select("nid", F.lit(True).alias("known"), "lbl")
        .unionByName(
            unknown.select(
                "nid",
                F.lit(False).alias("known"),
                F.col("nid").alias("lbl"),
            )
        )
        .localCheckpoint(eager=False)
    )

    # contract: new edges between representatives (self-loops — both
    # endpoints already share a component — merge nothing and drop)
    lu = lbl.select(F.col("nid").alias("u"), F.col("lbl").alias("l1"))
    lv = lbl.select(F.col("nid").alias("v"), F.col("lbl").alias("l2"))
    label_edges = (
        e.join(F.broadcast(lu), "u")
        .join(F.broadcast(lv), "v")
        .filter(F.col("l1") != F.col("l2"))
        .select(F.col("l1").alias("id1"), F.col("l2").alias("id2"))
        .distinct()
    )
    label_nodes = lbl.select(F.col("lbl").alias("id")).distinct()
    merged = connected_components(label_edges, label_nodes, id_col="id")

    # remap: only labels the merge actually changed rebind history
    # rows; the broadcast map is bounded by the contracted graph
    changed = merged.filter(F.col("cluster_id") != F.col("id")).select(
        F.col("id").alias("old_lbl"), F.col("cluster_id").alias("new_lbl")
    )
    out_hist = (
        history.select(id_col, cluster_col)
        .join(
            F.broadcast(changed),
            F.col(cluster_col) == F.col("old_lbl"),
            "left",
        )
        .select(
            id_col,
            F.coalesce("new_lbl", F.col(cluster_col)).alias(cluster_col),
        )
    )
    # arrivals unknown to history append as fresh rows (their own id
    # was a contracted-graph node, so the merge map covers them) —
    # the `known` flag from the resolve join above spares a second
    # pass over the store
    appended = (
        lbl.filter(~F.col("known"))
        .join(F.broadcast(merged), lbl["lbl"] == merged["id"], "left")
        .select(
            F.col("nid").alias(id_col),
            F.coalesce("cluster_id", F.col("lbl")).alias(cluster_col),
        )
    )
    return out_hist.unionByName(appended)


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    n_rounds: int = 3,
    u: str = "u",
    v: str = "v",
) -> DataFrame:
    """Multi-source BFS hop distance from a seed set over an
    undirected simple graph given as distinct (u < v) pairs, capped
    at ``n_rounds`` hops — the reachability / proximity primitive
    the rest of the graph family (CC, PageRank, k-core) builds on,
    and the contamination-style "within k hops of a flagged node"
    filter shape.

    Round r joins the CURRENT distance frame against the static
    directed edge table and folds ``min(hop)`` over the union with
    the previous distances — pure integer arithmetic, deterministic
    under any partitioning. The edge+direction table is
    hash-partitioned and sorted on the join key before ONE lazy
    localCheckpoint, so every round's SMJ reuses the sort (the
    GraphX edge-partitioning pattern shared with pagerank_micro).
    Unlike PageRank/LPA, the update references the previous distance
    frame TWICE (once in the union, once under the contribs join) —
    left unchecked the unrolled plan DOUBLES per round (the r12
    plan audit measured 15 SMJs for 3 rounds; runtime survived only
    via exchange reuse), so each round's node-sized distance frame
    materializes EAGERLY (the k-core Pregel-superstep trade) and
    the per-round plan stays linear. Each round's join is
    edge-sized; a long-diameter production BFS would additionally
    keep only the frontier (an anti-join) to make later rounds
    frontier-sized — with small fixed round counts the full fold is
    simpler and oracle-replayable.

    ``seeds``: one-column ``node`` frame; restricted to in-graph
    nodes. Returns (node, hop INT) for nodes within n_rounds hops;
    unreached nodes are absent."""
    de = edges.select(F.col(u).alias("s"), F.col(v).alias("t")).unionByName(
        edges.select(F.col(v).alias("s"), F.col(u).alias("t"))
    )
    dd = _pinned_edge_table(de, "s")
    nodes = dd.select("s").distinct()
    dist = (
        seeds.select(F.col("node").cast("long").alias("node"))
        .distinct()
        .join(nodes, F.col("node") == F.col("s"), "left_semi")
        .select("node", F.lit(0).cast("int").alias("hop"))
    )
    for _ in range(n_rounds):
        contribs = dd.join(dist, dd["s"] == dist["node"]).select(
            F.col("t").alias("node"), (F.col("hop") + 1).alias("hop")
        )
        dist = (
            dist.unionByName(contribs)
            .groupBy("node")
            .agg(F.min("hop").cast("int").alias("hop"))
            # EAGER: dist feeds the next round twice (union +
            # contribs) — without the cut the plan doubles per round
            .localCheckpoint(eager=True)
        )
    return dist


def label_propagation(
    edges: DataFrame,
    n_rounds: int = 3,
    u: str = "u",
    v: str = "v",
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan,
    Albert & Kumara 2007) over an undirected simple graph given as
    distinct (u < v) pairs, made DETERMINISTIC for the oracle gate:
    every node starts with its own id as label, and each of the
    ``n_rounds`` synchronous rounds adopts the most frequent label
    among its neighbors, ties broken by the SMALLEST label — so the
    result is a pure function of the graph (classic async LPA's
    visit-order dependence is exactly what an exact-hash gate cannot
    tolerate).

    Unlike connected_components (which converges to reachability),
    fixed-round LPA keeps dense local neighborhoods' labels — the
    standard cheap community pass over co-occurrence graphs.

    Scale shape (the pagerank_micro doctrine): the directed edge
    table is hash-partitioned + sorted once before a lazy
    localCheckpoint; each round is one edge-sized SMJ with the
    (node, label) frame, a map-side-combining (node, label) count,
    and the argmax folds into ONE more aggregate via
    max(struct(cnt, -label)) — no per-round window, no driver sync,
    one unrolled declarative plan.

    Returns (node, label BIGINT)."""
    de = edges.select(F.col(u).alias("s"), F.col(v).alias("t")).unionByName(
        edges.select(F.col(v).alias("s"), F.col(u).alias("t"))
    )
    # do NOT _pinned_edge_table here (measured r15): like
    # pagerank_micro, this loop is FULLY LAZY across rounds, and
    # AQE's runtime re-optimization of the unrolled plan (runtime
    # broadcasts of the node-sized label side included) beats the
    # static pin — wash at sf0.1, -39% vs pinned at 6M synthetic
    # edges (17.9 s unpinned vs 24.9 s pinned@250k-rows/partition,
    # 49 s pinned@1M).
    dd = (
        de.repartition(shuffle_width(edges.sparkSession), "t")
        .sortWithinPartitions("t")
        .localCheckpoint(eager=False)
    )
    labels = dd.select(F.col("t").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(n_rounds):
        neigh = dd.join(labels, dd["t"] == labels["node"]).select(
            F.col("s").alias("node"), "label"
        )
        counted = neigh.groupBy("node", "label").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        # argmax by (cnt DESC, label ASC) as ONE aggregate:
        # min(struct(-cnt, label)) picks the highest count, then the
        # smallest label — the sign trick sits on cnt (always >= 1,
        # negation safe), so node ids/labels of ANY sign order
        # correctly (negating the label instead would silently flip
        # ties to largest-label for negative ids)
        labels = (
            counted.groupBy("node")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("cnt")).alias("nc"), F.col("label")
                    )
                ).alias("m")
            )
            .select("node", F.col("m.label").alias("label"))
        )
    return labels


def sssp_minplus(
    edges: DataFrame,
    seeds: DataFrame,
    n_rounds: int = 3,
    u: str = "u",
    v: str = "v",
    w: str = "w",
) -> DataFrame:
    """Multi-source WEIGHTED shortest path, capped at ``n_rounds``
    relaxation rounds — bounded Bellman-Ford (Bellman 1958 / Ford
    1956) as synchronous min-plus iteration, the weighted upgrade of
    bfs_hops (set every weight to 1 and the two coincide). Edges are
    distinct undirected (u < v) pairs with a non-negative BIGINT
    weight column ``w``; after r rounds each node holds the exact
    minimum path cost from the seed set over paths of at most r
    edges (the classic bounded-hop distance semantics — NOT
    necessarily the unbounded shortest path, which needs
    diameter-many rounds).

    Scale shape: identical to bfs_hops — the directed (s, t, w)
    table is hash-partitioned + sorted once before one lazy
    localCheckpoint so every round's edge-sized SMJ reuses the sort;
    the distance frame feeds each round TWICE (union + relaxation
    join), so it materializes EAGERLY per round, keeping the
    unrolled plan linear in rounds (the r12 BFS plan-doubling
    lesson, applied from birth this time). Pure integer min-plus —
    deterministic under any partitioning, strict-oracle-replayable
    as unrolled CTE rounds.

    ``seeds``: one-column ``node`` frame; restricted to in-graph
    nodes. Returns (node, dist BIGINT) for nodes reached within
    n_rounds edges; unreached nodes are absent."""
    de = edges.select(
        F.col(u).alias("s"), F.col(v).alias("t"), F.col(w).alias("w")
    ).unionByName(
        edges.select(
            F.col(v).alias("s"), F.col(u).alias("t"), F.col(w).alias("w")
        )
    )
    dd = _pinned_edge_table(de, "s")
    nodes = dd.select("s").distinct()
    dist = (
        seeds.select(F.col("node").cast("long").alias("node"))
        .distinct()
        .join(nodes, F.col("node") == F.col("s"), "left_semi")
        .select("node", F.lit(0).cast("long").alias("dist"))
    )
    for _ in range(n_rounds):
        relaxed = dd.join(dist, dd["s"] == dist["node"]).select(
            F.col("t").alias("node"),
            (F.col("dist") + F.col("w")).alias("dist"),
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").cast("long").alias("dist"))
            # EAGER: dist feeds the next round twice (union +
            # relaxation) — without the cut the plan doubles per
            # round (the r12 bfs_hops audit finding)
            .localCheckpoint(eager=True)
        )
    return dist


def incremental_bfs_relax(
    prior: DataFrame,
    edges: DataFrame,
    batch_edges: DataFrame,
    seed_sql: str = "node % 11 = 0",
    u: str = "u",
    v: str = "v",
    max_rounds: int = 64,
) -> DataFrame:
    """One incremental multi-source-BFS advance: fold ``batch_edges``
    (the newly-arrived undirected pairs) into the distance frame
    ``prior`` (node, hop) given ``edges`` = the FULL accumulated
    undirected edge set — frontier-based min-plus relaxation until
    fixpoint. The streaming twin's per-batch core
    (streaming/foreach_batch.stream_incremental_bfs wraps this with
    the generation-keyed stores); factored out so tests and the
    scale smoke time exactly the incremental work.

    Exactness (insert-only shortest-path lemma): edges only arrive,
    so prior distances stay valid UPPER bounds; relaxation from any
    valid upper bound converges to the true fixpoint; and a frontier
    of (a) improved/new seeds plus (b) one explicit relaxation of
    the batch edges is complete — an inserted edge propagates
    improvement from a node whose own distance did not change, which
    (b) catches. Per-round state cuts EAGERLY (dist feeds each round
    twice — the bfs_hops plan-doubling lesson). Raises if no
    fixpoint within ``max_rounds`` (a diameter breach must never
    silently truncate; the DuckDB oracle's recursion cap mirrors
    it)."""
    spark = edges.sparkSession
    de = edges.select(F.col(u).alias("s"), F.col(v).alias("t")).unionByName(
        edges.select(F.col(v).alias("s"), F.col(u).alias("t"))
    )
    dd = _pinned_edge_table(de, "s")
    seeds = (
        dd.select(F.col("s").alias("node"))
        .distinct()
        .filter(F.expr(seed_sql))
        .select("node", F.lit(0).cast("int").alias("hop"))
    )
    dist = (
        prior.unionByName(seeds)
        .groupBy("node")
        .agg(F.min("hop").cast("int").alias("hop"))
        .localCheckpoint(eager=True)
    )
    batch_dir = batch_edges.select(
        F.col(u).alias("s"), F.col(v).alias("t")
    ).unionByName(
        batch_edges.select(F.col(v).alias("s"), F.col(u).alias("t"))
    )
    new_edge_relax = (
        batch_dir.join(dist, batch_dir["s"] == dist["node"])
        .select(
            F.col("t").alias("node"),
            (F.col("hop") + 1).cast("int").alias("hop"),
        )
        .groupBy("node")
        .agg(F.min("hop").cast("int").alias("hop"))
    )
    seed_improved = (
        dist.alias("d")
        .join(prior.alias("p"), "node", "left")
        .filter(F.col("p.hop").isNull() | (F.col("d.hop") < F.col("p.hop")))
        .select("node", F.col("d.hop").alias("hop"))
    )
    edge_improved = (
        new_edge_relax.alias("c")
        .join(dist.alias("d"), "node", "left")
        .filter(F.col("d.hop").isNull() | (F.col("c.hop") < F.col("d.hop")))
        .select("node", F.col("c.hop").alias("hop"))
    )
    frontier = (
        seed_improved.unionByName(edge_improved)
        .groupBy("node")
        .agg(F.min("hop").cast("int").alias("hop"))
        .localCheckpoint(eager=True)
    )
    dist = (
        dist.unionByName(frontier)
        .groupBy("node")
        .agg(F.min("hop").cast("int").alias("hop"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_rounds):
        if not frontier.take(1):
            break
        contribs = (
            dd.join(frontier, dd["s"] == frontier["node"])
            .select(
                F.col("t").alias("node"),
                (F.col("hop") + 1).cast("int").alias("hop"),
            )
            .groupBy("node")
            .agg(F.min("hop").cast("int").alias("hop"))
        )
        improved = (
            contribs.alias("c")
            .join(dist.alias("d"), "node", "left")
            .filter(
                F.col("d.hop").isNull() | (F.col("c.hop") < F.col("d.hop"))
            )
            .select("node", F.col("c.hop").alias("hop"))
            .localCheckpoint(eager=True)
        )
        dist = (
            dist.unionByName(improved)
            .groupBy("node")
            .agg(F.min("hop").cast("int").alias("hop"))
            .localCheckpoint(eager=True)
        )
        frontier = improved
    else:
        raise RuntimeError(
            f"incremental_bfs_relax: no fixpoint within {max_rounds} "
            "rounds (graph diameter exceeds cap?)"
        )
    return dist


def salsa_micro(
    edges: DataFrame,
    n_iter: int = 2,
    s: str = "s",
    t: str = "t",
) -> DataFrame:
    """SALSA hub/authority scoring (Lempel & Moran 2000 — the
    Stochastic Approach for Link-Structure Analysis, i.e. HITS with
    both half-steps degree-NORMALIZED) over a DIRECTED simple graph
    given as distinct (s, t) pairs, with EXACT integer-micro
    arithmetic so every engine reproduces the scores bit-for-bit.

    Why SALSA and not raw HITS for the strict-oracle doctrine: HITS'
    unnormalized sums grow like lambda_max^k (overflow) and its
    usual fix is an L2 normalization (a transcendental sqrt no two
    engines truncate identically). SALSA's transition matrices are
    STOCHASTIC — each half-step divides a node's score by its degree
    before propagating — so total mass is conserved (minus integer
    truncation), values stay bounded by N x 1e6 in BIGINT forever,
    and the whole computation is join + ``DIV`` + sum:

      * authority scores start at 1e6 micros per in-linked node;
      * hub half-step      h(i) = SUM over edges (i,j) of
                                  a(j) DIV indeg(j);
      * authority half-step a'(j) = SUM over edges (i,j) of
                                  h(i) DIV outdeg(i).

    After ``n_iter`` alternations the scores approximate SALSA's
    stationary distributions (whose exact fixpoint is proportional
    to in-/out-degree per connected component — the fixed-iteration
    contract scores mixing toward it, which is what the unrolled
    oracle replays). No driver sync: all rounds compose into one
    lazy plan.

    Scale shape: the degree-annotated edge table is shuffled+sorted
    ONCE per join key (one copy partitioned on ``t`` for the hub
    half's authority join, one on ``s`` for the authority half's hub
    join) behind lazy localCheckpoints; each half-step is then one
    edge-sized SMJ + one map-side-combining groupBy. Score state is
    one row per node, never driver-resident. The final hub frame
    feeds the plan twice (last authority half + output), so it gets
    its own lazy cut.

    Returns (node, hub_micro BIGINT, auth_micro BIGINT) — hub_micro
    is 0 for pure sinks, auth_micro 0 for pure sources."""
    # NOT checkpointed: de's three consumers all sit inside dd_t's
    # existing lazy checkpoint, whose single materialization dedupes
    # the shuffles via exchange reuse — a separate de materialization
    # measured +10% (r14 interleaved A/B)
    de = edges.select(F.col(s).alias("s"), F.col(t).alias("t")).distinct()
    od = de.groupBy("s").agg(F.count(F.lit(1)).alias("odeg"))
    idg = de.groupBy("t").agg(F.count(F.lit(1)).alias("ideg"))
    dd = de.join(od, "s").join(idg, "t")
    dd_t = _pinned_edge_table(dd, "t")
    # second placement of the SAME rows on the other key: count known
    # (dd_t is materialized), so only the repartition+sort is paid
    __n_dd = dd_t.count()
    dd_s = _pinned_edge_table(dd_t, "s", n_rows=__n_dd)
    auth = dd_t.select("t").distinct().select(
        F.col("t").alias("node"),
        F.lit(1_000_000).cast("long").alias("a"),
    )
    hub = None
    for _ in range(n_iter):
        hub = (
            dd_t.join(auth, dd_t["t"] == auth["node"])
            .select(
                F.col("s").alias("node2"),
                F.expr("a DIV ideg").alias("c"),
            )
            .groupBy("node2")
            .agg(F.sum("c").alias("h"))
            .select(F.col("node2").alias("node"), "h")
            # node-sized lazy cut: the FINAL round's hub frame feeds
            # the plan twice (last authority half + output join);
            # cutting every round keeps the unrolled plan linear in
            # rounds (the r12 BFS plan-doubling lesson)
            .localCheckpoint(eager=False)
        )
        auth = (
            dd_s.join(hub, dd_s["s"] == hub["node"])
            .select(
                F.col("t").alias("node2"),
                F.expr("h DIV odeg").alias("c"),
            )
            .groupBy("node2")
            .agg(F.sum("c").alias("a"))
            .select(F.col("node2").alias("node"), "a")
        )
    return (
        hub.withColumnRenamed("h", "hub_micro")
        .join(
            auth.withColumnRenamed("a", "auth_micro"),
            "node",
            "full",
        )
        .select(
            "node",
            F.coalesce("hub_micro", F.lit(0).cast("long")).alias(
                "hub_micro"
            ),
            F.coalesce("auth_micro", F.lit(0).cast("long")).alias(
                "auth_micro"
            ),
        )
    )


def link_prediction_ra(
    edges: DataFrame,
    k: int = 20,
    u: str = "u",
    v: str = "v",
    deg_cap: int | None = None,
) -> DataFrame:
    """Top-k link prediction by the Resource-Allocation index (Zhou,
    Lu & Zhang 2009) over an undirected simple graph given as
    distinct (u < v) pairs: for each NON-edge (a, b),

        RA(a, b) = SUM over common neighbors z of  1 / deg(z),

    kept integer-exact as ``1_000_000 DIV deg(z)`` micros — the same
    reasoning that picked RA over Adamic-Adar's 1/log(deg) (a
    transcendental no two engines truncate identically) and rational
    damping for PageRank. Ranking is total: (score DESC, a, b), so
    the top-k frame is bit-stable under any partitioning.

    Shape: one wedge enumeration at each center z (every unordered
    neighbor pair of z), one anti-join against the edge set to drop
    existing edges, one map-side-combining sum on the (a, b) key,
    then a k-row TakeOrdered via row_number. The wedge join joins the
    adjacency table with itself on the CENTER key after one
    repartition+sort, so both probe sides reuse a single shuffle.

    Scale: wedge count is SUM deg(z)^2 — inherent to the index (every
    common neighbor contributes), not an implementation artifact.
    ``deg_cap`` optionally drops centers with deg(z) > deg_cap before
    the self-join: a capped center's per-pair contribution is under
    1e6/deg_cap micros, so high caps bound the error while removing
    exactly the quadratic-fan-out rows (the standard production
    mitigation; None = exact, what the strict oracle replays).

    Returns (a, b, ra_micro BIGINT, rn INT) — the k best non-edges."""
    # NOT checkpointed: ann's existing lazy checkpoint already runs
    # the adjacency+degree pipeline once, and the anti-join probe of a
    # re-planned e dedupes its shuffle via exchange reuse — a separate
    # e materialization measured +13% (r14 interleaved A/B)
    e = edges.select(F.col(u).alias("a"), F.col(v).alias("b")).distinct()
    adj = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).select(F.col("a").alias("z"), F.col("b").alias("n"))
    deg = adj.groupBy("z").agg(F.count(F.lit(1)).alias("deg"))
    ann = adj.join(deg, "z")
    if deg_cap is not None:
        ann = ann.filter(F.col("deg") <= F.lit(int(deg_cap)))
    # ONE shuffle+sort on the center key feeds both sides of the
    # wedge self-join; the PINNED placement makes both SMJ sides
    # reuse it with zero further exchange or sort
    ann = _pinned_edge_table(ann, "z")
    left = ann.select("z", F.col("n").alias("a"), "deg")
    right = ann.select("z", F.col("n").alias("b"))
    wedges = left.join(right, "z").filter(F.col("a") < F.col("b"))
    scored = (
        wedges.select(
            "a", "b", F.expr("1000000 DIV deg").alias("c")
        )
        .groupBy("a", "b")
        .agg(F.sum("c").alias("ra_micro"))
        .join(e, ["a", "b"], "left_anti")
    )
    from pyspark.sql import Window

    w = Window.orderBy(
        F.col("ra_micro").desc(), F.col("a"), F.col("b")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= F.lit(int(k)))
        .select("a", "b", "ra_micro", "rn")
    )


def landmark_harmonic(
    edges: DataFrame,
    landmarks: DataFrame,
    n_rounds: int = 3,
    u: str = "u",
    v: str = "v",
) -> DataFrame:
    """Landmark-approximated HARMONIC centrality (the Boldi & Vigna
    2014 centrality: SUM over sources of 1/dist — chosen over
    closeness because 1/dist handles disconnected pairs natively and,
    being RATIONAL, stays integer-exact as ``1_000_000 DIV hop``
    micros, the PageRank/RA doctrine) over an undirected simple graph
    given as distinct (u < v) pairs.

    Exact harmonic centrality needs all-pairs distances — quadratic
    and off the table at scale. The standard estimator samples a
    landmark set and sums over landmark distances only (Eppstein &
    Wang 2004's centrality-sampling argument); with hops additionally
    capped at ``n_rounds``, the whole computation is a bounded
    multi-source BFS that keeps PER-LANDMARK state: the distance
    frame is keyed (lm, node) instead of node, every round is still
    ONE edge-sized SMJ on the node key (all landmarks relax in the
    same join — k landmarks multiply the state rows, not the round
    count) + a min fold, and the final fold is
    ``SUM(1e6 DIV hop)`` over hop >= 1 per node. Pure integers,
    deterministic under any partitioning, unrolled-CTE-replayable.

    State is |landmarks| x reached nodes — the estimator's cost knob
    (8-64 landmarks in practice); the eager per-round cut bounds the
    unrolled plan exactly as bfs_hops does (the distance frame feeds
    each round twice).

    ``landmarks``: one-column ``node`` frame; restricted to in-graph
    nodes. Returns (node, harmonic_micro BIGINT, n_reached BIGINT)
    for nodes within n_rounds hops of >= 1 landmark (self-distance
    excluded, so a landmark's own row needs another landmark nearby)."""
    de = edges.select(F.col(u).alias("s"), F.col(v).alias("t")).unionByName(
        edges.select(F.col(v).alias("s"), F.col(u).alias("t"))
    )
    dd = _pinned_edge_table(de, "s")
    nodes = dd.select("s").distinct()
    dist = (
        landmarks.select(F.col("node").cast("long").alias("lm"))
        .distinct()
        .join(nodes, F.col("lm") == F.col("s"), "left_semi")
        .select("lm", F.col("lm").alias("node"), F.lit(0).cast("int").alias("hop"))
    )
    for _ in range(n_rounds):
        relaxed = dd.join(dist, dd["s"] == dist["node"]).select(
            "lm",
            F.col("t").alias("node"),
            (F.col("hop") + 1).cast("int").alias("hop"),
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("lm", "node")
            .agg(F.min("hop").cast("int").alias("hop"))
            # the (lm, node) frame feeds the next round TWICE (union
            # + relaxation join) — eager per-round cut keeps the
            # unrolled plan linear (the bfs_hops lesson)
            .localCheckpoint(eager=True)
        )
    return (
        dist.filter(F.col("hop") >= 1)
        .groupBy("node")
        .agg(
            F.sum(F.expr("1000000 DIV hop")).alias("harmonic_micro"),
            F.count(F.lit(1)).alias("n_reached"),
        )
    )


def local_clustering(
    edges: DataFrame, u: str = "u", v: str = "v"
) -> DataFrame:
    """Per-node LOCAL CLUSTERING COEFFICIENT (Watts & Strogatz 1998)
    over an undirected simple graph given as distinct (u < v) pairs:

        lcc(v) = 2 * triangles(v) / (deg(v) * (deg(v) - 1)),

    rational, so it stays integer-exact as
    ``2_000_000 * triangles DIV (deg * (deg - 1))`` micros (the
    PageRank/RA/harmonic doctrine). Triangle counts reuse the
    degree-ordered compact-forward enumeration (triangle_counts),
    whose oriented out-degree is O(sqrt(m)) on any degree
    distribution, so hub nodes cannot blow up the wedge join; the
    degree table is one map-side-combining groupBy and the final
    stitch a node-keyed left join (deg-1 nodes get lcc 0 — no
    possible triangle, the conventional value).

    Returns (node, deg BIGINT, n_triangles BIGINT, lcc_micro BIGINT)
    for every graph node."""
    # the distinct edge set feeds the degree union (2x) and the whole
    # triangle pipeline (~9x through oriented_edges/_triangle_rows) —
    # one lazy cut runs the caller's edge derivation once
    e = (
        edges.select(F.col(u).alias("u"), F.col(v).alias("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    tri = triangle_counts(e)
    return (
        deg.join(tri, "node", "left")
        .select(
            "node",
            "deg",
            F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
            F.when(
                F.col("deg") >= 2,
                F.expr(
                    "(2000000 * coalesce(n_triangles, 0))"
                    " DIV (deg * (deg - 1))"
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("lcc_micro"),
        )
    )
