"""Degree-ordered triangle counting (operators/graphs)."""

from pyspark.sql import functions as F

from ngafid_cpat_spark.operators import graphs as G


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, ["u", "v"])


def test_k4_every_node_in_three_triangles(spark):
    # K4 has 4 triangles; each node sits in exactly 3 of them
    k4 = _edges(spark, [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)])
    out = {r["node"]: r["n_triangles"] for r in G.triangle_counts(k4).collect()}
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangle_free_graphs_yield_nothing(spark):
    path = _edges(spark, [(1, 2), (2, 3), (3, 4)])
    star = _edges(spark, [(0, i) for i in range(1, 8)])
    assert G.triangle_counts(path).count() == 0
    assert G.triangle_counts(star).count() == 0


def test_hub_plus_one_closing_edge(spark):
    # star on 0 plus the single edge (1,2): exactly one triangle
    # {0,1,2} — the hub's high degree must not double-count via
    # wedge symmetry (orientation keeps each wedge once)
    g = _edges(spark, [(0, i) for i in range(1, 8)] + [(1, 2)])
    out = {r["node"]: r["n_triangles"] for r in G.triangle_counts(g).collect()}
    assert out == {0: 1, 1: 1, 2: 1}


def test_oriented_out_degree_bounded_on_star(spark):
    # the scale property the operator exists for: orientation points
    # every star edge AT the hub (leaves have lower degree), so the
    # hub's oriented OUT-degree is 0 and the wedge join has no hot key
    star = _edges(spark, [(0, i) for i in range(1, 101)])
    o = G.oriented_edges(star)
    hub_out = o.filter(F.col("src") == 0).count()
    assert hub_out == 0
    assert o.count() == 100


def test_triangle_counts_with_ids_beyond_packing_range(spark):
    """Node ids above 1e9 must still count correctly: the ord key is
    a (deg, id) struct compared lexicographically, not an arithmetic
    pack that collides/overflows on large raw ids."""
    b = 3_000_000_000
    g = _edges(spark, [(b + 1, b + 2), (b + 1, b + 3), (b + 2, b + 3),
                       (b + 3, b + 4), (5, b + 1)])
    out = {r["node"]: r["n_triangles"] for r in G.triangle_counts(g).collect()}
    assert out == {b + 1: 1, b + 2: 1, b + 3: 1}


def _pagerank_py(pairs, n_iter=3):
    """Independent integer-micro PageRank reference (pure python,
    same arithmetic contract as pagerank_micro)."""
    adj: dict = {}
    for u, v in pairs:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    deg = {n: len(ms) for n, ms in adj.items()}
    r = {n: 1_000_000 for n in adj}
    for _ in range(n_iter):
        contrib = {n: 0 for n in adj}
        for u, ms in adj.items():
            c = r[u] // deg[u]
            for v in ms:
                contrib[v] += c
        r = {n: 150_000 + (17 * contrib[n]) // 20 for n in adj}
    return r


def test_pagerank_matches_python_reference(spark):
    """pagerank_micro == the pure-python integer recipe on an
    irregular graph (hub + chain + isolated pair): bit-exact BIGINT
    micros, no float tolerance needed."""
    pairs = [(1, 2), (1, 3), (1, 4), (1, 5), (5, 6), (6, 7), (8, 9)]
    out = {
        r["node"]: r["rank_micro"]
        for r in G.pagerank_micro(_edges(spark, pairs), n_iter=3).collect()
    }
    assert out == _pagerank_py(pairs, 3)


def test_pagerank_hub_outranks_leaves(spark):
    # star graph: the hub accumulates its leaves' full contributions
    pairs = [(0, i) for i in range(1, 6)]
    out = {
        r["node"]: r["rank_micro"]
        for r in G.pagerank_micro(_edges(spark, pairs), n_iter=3).collect()
    }
    assert out[0] > max(out[i] for i in range(1, 6))
    assert len({out[i] for i in range(1, 6)}) == 1  # leaves symmetric


def _labels(df):
    return {r[0]: r[1] for r in df.collect()}


def _cc_py(pairs, nodes):
    """From-scratch min-label CC (pure python union-find)."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in pairs:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {n: find(n) for n in parent}


def test_incremental_cc_equals_from_scratch(spark):
    """Folding an arrival batch into the old graph's labeling lands
    on exactly the from-scratch CC of the union — including a merge
    of two old components, an extension of one, and a brand-new
    component."""
    from ngafid_cpat_spark.operators.dedup import connected_components

    old = [(1, 2), (3, 4), (10, 11)]
    new = [(2, 3), (11, 12), (20, 21)]  # merge, extend, brand-new
    old_nodes = spark.createDataFrame(
        [(n,) for n in {1, 2, 3, 4, 10, 11}], ["id"]
    )
    hist = connected_components(
        _edges(spark, old), old_nodes, id_col="id", src_col="u", dst_col="v"
    )
    out = _labels(
        G.incremental_connected_components(
            hist, _edges(spark, new), id_col="id", src_col="u", dst_col="v"
        )
    )
    assert out == _cc_py(old + new, {1, 2, 3, 4, 10, 11})


def test_incremental_cc_replay_is_noop(spark):
    """Re-applying the same batch to the already-updated store
    changes nothing (already-merged endpoints contract to
    self-loops) — the streaming restart contract."""
    hist = spark.createDataFrame(
        [(1, 1), (2, 1), (5, 5)], ["id", "cluster_id"]
    )
    batch = _edges(spark, [(2, 5), (7, 7)])
    once = G.incremental_connected_components(
        hist, batch, id_col="id", src_col="u", dst_col="v"
    )
    twice = G.incremental_connected_components(
        once, batch, id_col="id", src_col="u", dst_col="v"
    )
    assert _labels(once) == _labels(twice) == {1: 1, 2: 1, 5: 1, 7: 7}


def test_incremental_cc_selfloop_registers_singleton(spark):
    """A (u, u) arrival registers an edge-less node as a singleton;
    new_nodes is the explicit spelling of the same thing."""
    hist = spark.createDataFrame([(1, 1)], ["id", "cluster_id"])
    via_loop = G.incremental_connected_components(
        hist, _edges(spark, [(9, 9)]), id_col="id", src_col="u", dst_col="v"
    )
    via_nodes = G.incremental_connected_components(
        hist,
        _edges(spark, [(9, 9)]).limit(0),  # empty edge batch
        id_col="id",
        src_col="u",
        dst_col="v",
        new_nodes=spark.createDataFrame([(9,)], ["id"]),
    )
    assert _labels(via_loop) == _labels(via_nodes) == {1: 1, 9: 9}


# ---------------------------------------------------------------------------
# k-core (operators/graphs.kcore)
# ---------------------------------------------------------------------------

def _kcore_py(pairs, k):
    """Independent pure-python peeling reference."""
    de = set()
    for u, v in pairs:
        de.add((u, v))
        de.add((v, u))
    while True:
        deg: dict = {}
        for s, _ in de:
            deg[s] = deg.get(s, 0) + 1
        alive = {n for n, d in deg.items() if d >= k}
        nxt = {(s, t) for s, t in de if s in alive and t in alive}
        if nxt == de:
            break
        de = nxt
    out: dict = {}
    for s, _ in de:
        out[s] = out.get(s, 0) + 1
    return out


def test_kcore_triangle_with_tail(spark):
    # triangle {1,2,3} + tail 3-4-5: the tail peels off round by
    # round (5 first, then 4), the triangle survives with core_deg 2
    pairs = [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5)]
    out = {
        r["node"]: r["core_deg"]
        for r in G.kcore(_edges(spark, pairs), k=2).collect()
    }
    assert out == {1: 2, 2: 2, 3: 2}


def test_kcore_fixpoint_mode_matches_pinned_rounds(spark):
    """n_rounds=None (driver-synced peeling to fixpoint) and a
    pinned round count past the fixpoint depth must agree — the
    catalog's oracle-replay contract."""
    pairs = [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5), (5, 6), (6, 4),
             (7, 8)]
    fix = {
        r["node"]: r["core_deg"]
        for r in G.kcore(_edges(spark, pairs), k=2).collect()
    }
    pinned = {
        r["node"]: r["core_deg"]
        for r in G.kcore(_edges(spark, pairs), k=2, n_rounds=5).collect()
    }
    assert fix == pinned == _kcore_py(pairs, 2)


def test_kcore_gate_graph_fixpoint_within_pinned_rounds(spark):
    """The catalog query pins 4 peel rounds; assert the sf0.001 gate
    graph reaches its fixpoint within them (rounds 3 and 4 agree), so
    the pinned-round result IS the k-core, not a truncation."""
    from ngafid_cpat_spark.sources import load

    ev = load(spark, "/root/testdata/sf0.001", "events")
    cells = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", F.floor(F.unix_timestamp("ts") / 300).alias("h"))
        .distinct()
    )
    a, b = cells.alias("a"), cells.alias("b")
    edges = (
        a.join(b, (F.col("a.h") == F.col("b.h"))
               & (F.col("a.user_id") < F.col("b.user_id")))
        .select(F.col("a.user_id").alias("u"), F.col("b.user_id").alias("v"))
        .distinct()
    )
    r3 = {
        (r["node"], r["core_deg"])
        for r in G.kcore(edges, k=2, n_rounds=3).collect()
    }
    r4 = {
        (r["node"], r["core_deg"])
        for r in G.kcore(edges, k=2, n_rounds=4).collect()
    }
    fix = {
        (r["node"], r["core_deg"])
        for r in G.kcore(edges, k=2).collect()
    }
    assert r3 == r4 == fix


def test_kcore_k3_drops_two_core_cycle(spark):
    # a 4-cycle is a 2-core but has no 3-core; K4 survives k=3
    cyc = [(1, 2), (2, 3), (3, 4), (1, 4)]
    k4 = [(5, 6), (5, 7), (5, 8), (6, 7), (6, 8), (7, 8)]
    out = {
        r["node"]: r["core_deg"]
        for r in G.kcore(_edges(spark, cyc + k4), k=3).collect()
    }
    assert out == {5: 3, 6: 3, 7: 3, 8: 3}


def _persistent_rdd_ids(spark):
    m = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in m.keySet().toArray()}


def test_peel_loops_keep_only_the_final_rounds_rdds(spark):
    """kcore and ktruss free each peel round's persistent RDDs once the
    next round's eager checkpoint holds the data, so after the call
    only the final round's remain: one per kcore round (its eager
    checkpoint) and at most two per ktruss round (plus the lazy
    oriented-edge checkpoint inside _triangle_rows), never one set
    per round."""
    g = _edges(spark, [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
                       (4, 5), (4, 6), (4, 7), (5, 6), (5, 7), (6, 7),
                       (7, 8), (8, 9)])
    for run, per_round in (
        (lambda: G.kcore(g, k=2, n_rounds=4), 1),
        (lambda: G.ktruss(g, k=4, n_rounds=3), 2),
    ):
        before = _persistent_rdd_ids(spark)
        out = run()
        added = _persistent_rdd_ids(spark) - before
        assert 1 <= len(added) <= per_round, added
        out.collect()  # the surviving final round still backs the result
        m = spark.sparkContext._jsc.getPersistentRDDs()
        for jk in m.keySet().toArray():
            if int(jk) in added:
                m.get(jk).unpersist(False)


# ---------------------------------------------------------------------------
# k-truss (operators/graphs.ktruss)
# ---------------------------------------------------------------------------

def _ktruss_py(pairs, k):
    """Independent pure-python support-peeling reference."""
    e = {tuple(sorted(p)) for p in pairs}
    while True:
        adj: dict = {}
        for a, b in e:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        sup = {
            (a, b): len(adj[a] & adj[b]) for a, b in e
        }
        nxt = {p for p in e if sup[p] >= k - 2}
        if nxt == e:
            return {p: sup[p] for p in e}
        e = nxt


def test_ktruss_k4_keeps_k4_drops_cycle_and_tail(spark):
    # K4 {1,2,3,4}: every edge in 2 triangles -> survives k=4;
    # the pendant triangle {4,5,6} (support 1 each) and the chordless
    # square {7,8,9,10} (support 0) peel away
    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    tri = [(4, 5), (4, 6), (5, 6)]
    sq = [(7, 8), (8, 9), (9, 10), (7, 10)]
    out = {
        (r["u"], r["v"]): r["support"]
        for r in G.ktruss(_edges(spark, k4 + tri + sq), k=4).collect()
    }
    assert out == {p: 2 for p in k4}
    assert out == _ktruss_py(k4 + tri + sq, 4)


def test_ktruss_fixpoint_matches_pinned_rounds(spark):
    # two K4s sharing a vertex + a noise path: pinned rounds past the
    # fixpoint must agree with the driver-synced fixpoint mode and
    # the python reference
    g = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
         (4, 5), (4, 6), (4, 7), (5, 6), (5, 7), (6, 7),
         (7, 8), (8, 9)]
    fix = {
        (r["u"], r["v"]): r["support"]
        for r in G.ktruss(_edges(spark, g), k=4).collect()
    }
    pinned = {
        (r["u"], r["v"]): r["support"]
        for r in G.ktruss(_edges(spark, g), k=4, n_rounds=4).collect()
    }
    assert fix == pinned == _ktruss_py(g, 4)


def test_ktruss_gate_graph_fixpoint_within_pinned_rounds(spark):
    from ngafid_cpat_spark.sources import load

    ev = load(spark, "/root/testdata/sf0.001", "events")
    cells = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", F.floor(F.unix_timestamp("ts") / 600).alias("h"))
        .distinct()
    )
    a, b = cells.alias("a"), cells.alias("b")
    edges = (
        a.join(b, (F.col("a.h") == F.col("b.h"))
               & (F.col("a.user_id") < F.col("b.user_id")))
        .select(F.col("a.user_id").alias("u"), F.col("b.user_id").alias("v"))
        .distinct()
    )
    r2 = {(r["u"], r["v"]): r["support"]
          for r in G.ktruss(edges, k=4, n_rounds=2).collect()}
    r3 = {(r["u"], r["v"]): r["support"]
          for r in G.ktruss(edges, k=4, n_rounds=3).collect()}
    fix = {(r["u"], r["v"]): r["support"]
           for r in G.ktruss(edges, k=4).collect()}
    assert r2 == r3 == fix


def test_ktruss_validates_parameters(spark):
    import pytest as _pytest

    e = _edges(spark, [(1, 2)])
    with _pytest.raises(ValueError):
        G.ktruss(e, k=2)
    with _pytest.raises(ValueError):
        G.ktruss(e, k=4, n_rounds=0)


def _ppr_py(pairs, seeds, n_iter=3):
    """Independent integer-micro personalized PageRank reference."""
    adj: dict = {}
    for u, v in pairs:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    deg = {n: len(ms) for n, ms in adj.items()}
    sset = {s for s in seeds if s in adj}
    nn, ns = len(adj), len(sset)
    r = {n: 1_000_000 for n in adj}
    for _ in range(n_iter):
        contrib = {n: 0 for n in adj}
        for u, ms in adj.items():
            c = r[u] // deg[u]
            for v in ms:
                contrib[v] += c
        r = {
            n: ((3 * nn * 1_000_000) // (20 * ns) if n in sset else 0)
            + (17 * contrib[n]) // 20
            for n in adj
        }
    return r


def test_personalized_pagerank_matches_python_reference(spark):
    pairs = [(1, 2), (1, 3), (1, 4), (1, 5), (5, 6), (6, 7), (8, 9),
             (7, 14), (14, 21)]
    seeds_df = spark.createDataFrame([(7,), (14,), (99,)], ["node"])
    out = {
        r["node"]: r["rank_micro"]
        for r in G.pagerank_micro(
            _edges(spark, pairs), n_iter=3, seeds=seeds_df
        ).collect()
    }
    # 99 is not a graph node: excluded from the seed share
    assert out == _ppr_py(pairs, {7, 14, 99}, 3)


def test_personalized_pagerank_concentrates_near_seeds(spark):
    # a path graph seeded at one end: ranks decay with distance
    pairs = [(i, i + 1) for i in range(1, 8)]
    seeds_df = spark.createDataFrame([(1,)], ["node"])
    out = {
        r["node"]: r["rank_micro"]
        for r in G.pagerank_micro(
            _edges(spark, pairs), n_iter=3, seeds=seeds_df
        ).collect()
    }
    assert out[1] > out[2] > out[4] > out[6]


def test_bfs_hops_vs_networkx_style_brute_force(spark):
    from ngafid_cpat_spark.operators.graphs import bfs_hops

    # path 1-2-3-4-5, triangle 6-7-8 attached to 3 via 3-6,
    # isolated pair 9-10; seeds {1, 9, 999 (not in graph)}
    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (6, 7), (7, 8),
             (6, 8), (3, 6), (9, 10)]
    e = spark.createDataFrame(edges, ["u", "v"])
    seeds = spark.createDataFrame([(1,), (9,), (999,)], ["node"])
    got = {
        r["node"]: r["hop"]
        for r in bfs_hops(e, seeds, n_rounds=3).collect()
    }
    # python BFS capped at 3 hops
    import collections

    adj = collections.defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    want = {1: 0, 9: 0}
    q = collections.deque([(1, 0), (9, 0)])
    while q:
        n, d = q.popleft()
        if d == 3:
            continue
        for m in adj[n]:
            if m not in want:
                want[m] = d + 1
                q.append((m, d + 1))
    assert got == want
    assert 999 not in got          # off-graph seed dropped
    assert got[6] == 3 and 5 not in got  # 5 is 4 hops away


def test_label_propagation_deterministic_communities(spark):
    from ngafid_cpat_spark.operators.graphs import label_propagation

    # two dense triangles bridged by one edge: LPA should settle
    # each triangle on its minimum member id, unlike CC which would
    # merge everything into one component
    edges = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)]
    e = spark.createDataFrame(edges, ["u", "v"])
    got = {
        r["node"]: r["label"]
        for r in label_propagation(e, n_rounds=3).collect()
    }
    # python replay of the same synchronous min-tie-break rounds
    import collections

    adj = collections.defaultdict(list)
    for a, b in edges:
        adj[a].append(b)
        adj[b].append(a)
    lab = {n: n for n in adj}
    for _ in range(3):
        nxt = {}
        for n in adj:
            cnt = collections.Counter(lab[m] for m in adj[n])
            best = min(cnt, key=lambda l: (-cnt[l], l))
            nxt[n] = best
        lab = nxt
    assert got == lab
    # communities: the two triangles keep distinct labels
    assert len({got[1], got[4]}) == 2


def test_label_propagation_negative_ids_tie_to_smallest(spark):
    """r12 ADVICE fix: the argmax tie-break must pick the SMALLEST
    label even when node ids are negative (the old -label sign trick
    silently flipped to largest-label there)."""
    import collections

    from ngafid_cpat_spark.operators.graphs import label_propagation

    # node 0 sees neighbors -5 and 3 once each: tie on count, the
    # smallest label (-5) must win; plus a negative triangle
    edges = [(-5, 0), (0, 3), (-5, -7), (-7, -9), (-5, -9)]
    e = spark.createDataFrame(edges, ["u", "v"])
    got = {
        r["node"]: r["label"]
        for r in label_propagation(e, n_rounds=3).collect()
    }
    adj = collections.defaultdict(list)
    for a, b in edges:
        adj[a].append(b)
        adj[b].append(a)
    lab = {n: n for n in adj}
    for _ in range(3):
        lab = {
            n: min(
                (c := collections.Counter(lab[m] for m in adj[n])),
                key=lambda l: (-c[l], l),
            )
            for n in adj
        }
    assert got == lab
    assert min(got.values()) == -9  # negative labels propagated


def test_sssp_minplus_bounded_bellman_ford(spark):
    """sssp_minplus must equal a python bounded Bellman-Ford replay,
    including the case where a 2-edge path is CHEAPER than a direct
    edge (what separates it from bfs_hops), and respect the round
    cap (a node 4 edges out stays absent at n_rounds=3)."""
    from ngafid_cpat_spark.operators.graphs import sssp_minplus

    #  0 --10-- 3            0-1-3 costs 2, beating the direct 10
    #  0 --1--- 1 --1-- 3 --1-- 4 --1-- 5 --1-- 6
    edges = [(0, 3, 10), (0, 1, 1), (1, 3, 1), (3, 4, 1), (4, 5, 1), (5, 6, 1)]
    e = spark.createDataFrame(edges, ["u", "v", "w"])
    seeds = spark.createDataFrame([(0,)], ["node"])
    got = {
        r["node"]: r["dist"]
        for r in sssp_minplus(e, seeds, n_rounds=3).collect()
    }
    # python replay: 3 synchronous min-plus rounds
    import collections

    adj = collections.defaultdict(list)
    for a, b, w in edges:
        adj[a].append((b, w))
        adj[b].append((a, w))
    dist = {0: 0}
    for _ in range(3):
        nxt = dict(dist)
        for n, d in dist.items():
            for m, w in adj[n]:
                if m not in nxt or d + w < nxt[m]:
                    nxt[m] = d + w
        dist = nxt
    assert got == dist
    assert got[3] == 2          # relaxed through 0-1-3, not 0-3
    assert 6 not in got         # 5 edges out, beyond 3 rounds
    # off-graph seeds are dropped (the pagerank seed convention)
    s2 = spark.createDataFrame([(0,), (999,)], ["node"])
    got2 = {
        r["node"]: r["dist"]
        for r in sssp_minplus(e, s2, n_rounds=1).collect()
    }
    assert 999 not in got2 and got2[1] == 1


def _salsa_py(pairs, n_iter):
    """Pure-python integer SALSA replay: stochastic hub/authority
    half-steps, score DIV degree, BIGINT micros."""
    out_adj, in_adj = {}, {}
    for s, t in set(pairs):
        out_adj.setdefault(s, set()).add(t)
        in_adj.setdefault(t, set()).add(s)
    odeg = {n: len(ms) for n, ms in out_adj.items()}
    ideg = {n: len(ms) for n, ms in in_adj.items()}
    a = {n: 1_000_000 for n in in_adj}
    h = {}
    for _ in range(n_iter):
        h = {
            s: sum(a[t] // ideg[t] for t in ts)
            for s, ts in out_adj.items()
        }
        a = {
            t: sum(h[s] // odeg[s] for s in ss)
            for t, ss in in_adj.items()
        }
    nodes = set(out_adj) | set(in_adj)
    return {n: (h.get(n, 0), a.get(n, 0)) for n in nodes}


def _salsa_out(spark, pairs, n_iter=2):
    e = spark.createDataFrame(pairs, ["s", "t"])
    return {
        r["node"]: (r["hub_micro"], r["auth_micro"])
        for r in G.salsa_micro(e, n_iter=n_iter).collect()
    }


def test_salsa_matches_python_reference(spark):
    """salsa_micro == the pure-python integer recipe on a directed
    graph mixing pure sources, pure sinks, and a 2-cycle: bit-exact
    BIGINT micros, no float tolerance."""
    pairs = [(1, 4), (2, 4), (3, 4), (4, 5), (5, 4), (3, 6), (6, 7)]
    got = _salsa_out(spark, pairs, n_iter=2)
    assert got == _salsa_py(pairs, 2)
    # pure source 1 never receives authority mass; pure sink 7 never
    # emits hub mass
    assert got[1][1] == 0 and got[7][0] == 0


def test_salsa_mass_conservation_and_popularity(spark):
    """On the bipartite 'many hubs -> one authority' graph, the
    focal authority ends with (almost) all the authority mass —
    SALSA's stochastic transitions conserve total mass up to DIV
    truncation, so scores stay bounded by N x 1e6 forever (the
    no-overflow argument)."""
    pairs = [(i, 100) for i in range(5)] + [(0, 200)]
    got = _salsa_out(spark, pairs, n_iter=3)
    assert got[100][1] > got[200][1]          # indeg 5 beats indeg 1
    total_auth0 = 2 * 1_000_000               # two authorities seeded
    assert sum(v[1] for v in got.values()) <= total_auth0
    assert sum(v[1] for v in got.values()) >= total_auth0 - 100


def _ra_py(pairs, k=20, deg_cap=None):
    """Pure-python RA-index replay: micros, DIV, (score DESC, a, b)."""
    adj: dict = {}
    es = set()
    for a, b in pairs:
        lo, hi = min(a, b), max(a, b)
        es.add((lo, hi))
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    deg = {z: len(ns) for z, ns in adj.items()}
    score: dict = {}
    for z, ns in adj.items():
        if deg_cap is not None and deg[z] > deg_cap:
            continue
        c = 1_000_000 // deg[z]
        for a in ns:
            for b in ns:
                if a < b and (a, b) not in es:
                    score[(a, b)] = score.get((a, b), 0) + c
    ranked = sorted(score.items(), key=lambda kv: (-kv[1], kv[0]))
    return [
        (a, b, s, i + 1) for i, ((a, b), s) in enumerate(ranked[:k])
    ]


def test_link_prediction_ra_matches_python_reference(spark):
    """link_prediction_ra == the pure-python RA replay on a graph
    where the best predicted edge closes a high-RA wedge (two common
    neighbors of low degree beat one hub center), existing edges are
    excluded, and ties break on (a, b)."""
    pairs = [
        (1, 2), (1, 3), (2, 4), (3, 4),      # square: (1,4)+(2,3) via 2 ctrs
        (5, 1), (5, 4),                      # third common neighbor for (1,4)
        (0, 6), (0, 7), (0, 8), (0, 9),      # hub 0: deg-4 center
    ]
    got = [
        (r["a"], r["b"], r["ra_micro"], r["rn"])
        for r in G.link_prediction_ra(_edges(spark, pairs), k=20)
        .orderBy("rn")
        .collect()
    ]
    want = _ra_py(pairs, 20)
    assert got == want
    # (1,4) has 3 common neighbors (2, 3, 5) — it must outrank every
    # hub-centered pair whose single center splits 1e6 four ways
    assert got[0][:2] == (1, 4)
    assert {g[:2] for g in got}.isdisjoint(
        {(min(a, b), max(a, b)) for a, b in pairs}
    )


def test_link_prediction_ra_deg_cap_drops_hub_centers(spark):
    """deg_cap excludes high-degree centers: with cap 3 the deg-4
    hub's wedges vanish while the square's deg-2/3 centers stay."""
    pairs = [(1, 2), (1, 3), (2, 4), (3, 4), (0, 6), (0, 7), (0, 8)]
    got = [
        (r["a"], r["b"], r["ra_micro"], r["rn"])
        for r in G.link_prediction_ra(
            _edges(spark, pairs), k=20, deg_cap=2
        ).orderBy("rn").collect()
    ]
    assert got == _ra_py(pairs, 20, deg_cap=2)
    assert all(a != 0 and b != 0 or (a, b) == (1, 4) for a, b, *_ in got)


def test_landmark_harmonic_matches_python_reference(spark):
    """landmark_harmonic == a python (landmark, node)-keyed bounded
    BFS replay on a path graph with a branch: 1e6 DIV hop micros,
    hop cap respected, self-distance excluded."""
    from ngafid_cpat_spark.operators.graphs import landmark_harmonic

    #   0-1-2-3-4-5   plus branch 2-6
    pairs = [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (2, 6)]
    e = spark.createDataFrame(pairs, ["u", "v"])
    lms = spark.createDataFrame([(0,), (4,), (999,)], ["node"])
    got = {
        r["node"]: (r["harmonic_micro"], r["n_reached"])
        for r in landmark_harmonic(e, lms, n_rounds=3).collect()
    }
    # python replay
    import collections

    adj = collections.defaultdict(set)
    for a, b in pairs:
        adj[a].add(b)
        adj[b].add(a)
    want: dict = {}
    for lm in (0, 4):                      # 999 off-graph -> dropped
        dist = {lm: 0}
        for _ in range(3):
            nxt = dict(dist)
            for n, d in dist.items():
                for m in adj[n]:
                    if m not in nxt or d + 1 < nxt[m]:
                        nxt[m] = d + 1
            dist = nxt
        for n, d in dist.items():
            if d >= 1:
                h, c = want.get(n, (0, 0))
                want[n] = (h + 1_000_000 // d, c + 1)
    assert got == want
    # node 3 sits 3 hops from 0 and 1 hop from 4:
    # 1e6//3 + 1e6//1 = 1333333
    assert got[3] == (1_333_333, 2)
    # node 5 is 5 hops from 0 (beyond cap) and 1 from 4 — only one
    # landmark contributes
    assert got[5] == (1_000_000, 1)


def test_local_clustering_known_values(spark):
    """lcc on K4-plus-pendant: K4 corners not touching the pendant
    have lcc 1.0 (every neighbor pair connected); the corner with the
    pendant has deg 4, 3 triangles -> 2e6*3 DIV 12 = 500000; the
    pendant itself (deg 1) gets the conventional 0."""
    pairs = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5)]
    got = {
        r["node"]: (r["deg"], r["n_triangles"], r["lcc_micro"])
        for r in G.local_clustering(_edges(spark, pairs)).collect()
    }
    assert got[1] == (3, 3, 1_000_000)
    assert got[2] == (3, 3, 1_000_000)
    assert got[3] == (3, 3, 1_000_000)
    assert got[4] == (4, 3, 500_000)
    assert got[5] == (1, 0, 0)
    # triangle-free graphs: every node 0 (incl. deg-2 path interior)
    path = _edges(spark, [(1, 2), (2, 3)])
    out = {
        r["node"]: r["lcc_micro"]
        for r in G.local_clustering(path).collect()
    }
    assert out == {1: 0, 2: 0, 3: 0}
