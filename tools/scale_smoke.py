"""Scale smoke: do the heavy operators scale linearly in rows?

Synthesizes events/documents-shaped data at two sizes (default 1x =
sf0.1-equivalent row counts, and SCALE x that) entirely from
spark.range — no files — and times the operator families whose
100 TB behavior the engine's design notes claim is linear:

  * sessionize (skew-robust two-phase variant)
  * range-frame window aggregation
  * gaps-and-islands episode detection
  * exact dedup (hash groupBy)
  * shingle-Jaccard near-dup pairs (inverted-index join)
  * nearest-neighbor argmin join vs a broadcast dim

Prints one JSON line per operator with rows, seconds at each size,
and the time ratio; a ratio near the size ratio (or below, while
fixed overheads amortize) is the linear-scaling evidence. A
superlinear ratio flags a shuffle or skew problem BEFORE it ships to
a real cluster.

Usage: python tools/scale_smoke.py [--scale 10] [--base-events 1000000]
"""

from __future__ import annotations

import argparse
import json
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402


def synth_events(spark, n_rows: int, n_users: int):
    """Events-shaped frame from spark.range: deterministic hash-mixed
    timestamps/values, zipf-ish hot user to exercise skew handling."""
    mix = (F.col("id") * 2654435761 + 40503) % 1_000_000_007
    return spark.range(n_rows).select(
        F.col("id").alias("event_id"),
        # 10% of events land on user 0 (hot key); rest uniform
        F.when(mix % 10 == 0, F.lit(0))
        .otherwise(mix % n_users)
        .alias("user_id"),
        F.timestamp_seconds(
            F.lit(1_700_000_000) + (mix % 5_000_000)
        ).alias("ts"),
        (mix % 1000 / 10.0).alias("value"),
    )


def synth_docs(spark, n_docs: int, dup_rate: int = 10):
    """Documents-shaped frame: ~60-token texts from a hash-mixed word
    sequence; every dup_rate-th doc repeats the previous doc's seed
    (guaranteed exact+near duplicates).

    Words are xxhash64-mixed per (seed, position) — the synth_emb
    lesson applied to text: the earlier linear-congruential form
    ((seed * 48271 + i * 16807) % 9973) made shingle values a LINEAR
    function of (seed, position), so for every position delta there
    was a seed delta with systematically colliding shingles — ~13M
    candidate doc pairs at 50k docs where natural text (and random
    words) give ~none beyond the planted dups. Aggregate-only
    consumers (jaccard_pairs' groupBy) shrugged; anything that
    materializes per-candidate state measured quadratic on data no
    real corpus resembles."""
    seed = F.when(
        F.col("id") % dup_rate == 0, F.col("id") - 1
    ).otherwise(F.col("id"))
    word = lambda i: F.concat(  # noqa: E731
        F.lit("w"),
        F.pmod(F.xxhash64(seed, F.lit(i)), F.lit(9973)).cast("string"),
    )
    return spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", *[word(i) for i in range(60)]).alias("text"),
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scale", type=int, default=10)
    ap.add_argument("--base-events", type=int, default=1_000_000)
    ap.add_argument("--base-docs", type=int, default=5_000)
    ap.add_argument(
        "--ops",
        default=None,
        help="comma-separated op subset (e.g. the window family for a "
        "50x run where the full suite would take too long)",
    )
    args = ap.parse_args()

    from ngafid_cpat_spark.operators import dedup as D
    from ngafid_cpat_spark.operators import joins as J
    from ngafid_cpat_spark.operators import windows as OW
    from ngafid_cpat_spark.session import get_spark

    spark = get_spark("scale-smoke")
    spark.sparkContext.setLogLevel("ERROR")

    def mat(df) -> int:
        df.write.format("noop").mode("overwrite").save()
        return -1

    def sessionize(ev):
        return OW.sessionize_chunked(ev, "user_id", "ts", gap_seconds=600)

    def range_window(ev):
        from pyspark.sql import Window as W

        from ngafid_cpat_spark.functions.timeutil import epoch_seconds

        w = (
            W.partitionBy("user_id")
            .orderBy(epoch_seconds(F.col("ts")))
            .rangeBetween(-3600, 0)
        )
        return ev.select(
            "event_id", F.sum("value").over(w).alias("hour_sum")
        )

    def range_window_chunked(ev):
        return OW.range_window_chunked(ev, "user_id", "ts", "value", 3600.0)

    def islands(ev):
        return OW.islands(
            ev, "user_id", ["ts", "event_id"],
            flag=F.col("value") > 50, island_col="ep", in_island_only=True,
        )

    def islands_chunked(ev):
        return OW.islands_chunked(
            ev, "user_id", "ts", ["event_id"],
            flag=F.col("value") > 50, island_col="ep", in_island_only=True,
            chunk_seconds=3600.0,
        )

    def dedup_exact(docs):
        return D.exact_dedup(docs)

    def jaccard(docs):
        return D.jaccard_pairs(docs, k=3, threshold=0.5)

    def allpairs_prefix(docs):
        # prefix-filtered exact jaccard >= 1/2: the pruned index join
        # must stay linear in docs — candidates only form on
        # rare-shingle collisions, verify is candidates-bounded
        return D.allpairs_jaccard_prefix(
            docs, k=3, threshold_num=1, threshold_den=2
        )

    def incr_minhash(docs):
        # crawl-batch shape: 1/3 of the corpus arrives, 2/3 is the
        # history it dedups against — both sides scale together, so
        # a superlinear band join or verify shows up as ratio blowup
        from pyspark.sql import functions as F

        return D.incremental_minhash_dedup(
            docs.filter(F.col("doc_id") % 3 == 0),
            history=docs.filter(F.col("doc_id") % 3 != 0),
            verify_threshold=0.5,
        )

    def nn_join(ev):
        dim = spark.range(500).select(
            F.col("id").alias("site_id"),
            (F.col("id") % 997 / 10.0).alias("center"),
        )
        return J.nearest(
            ev, dim,
            distance=F.abs(F.col("value") - F.col("center")),
            fact_key="event_id", dim_cols=["site_id"],
            fan_partitions="auto",  # cache-resident fan sizing (opt-in)
        )

    def nn_join_ref_dims(ev):
        # the reference's literal envelope: 15,165 airports scanned
        # per telemetry tick (BASELINE.md) — here a broadcast dim of
        # exactly that cardinality through the two-phase argmin
        dim = spark.range(15_165).select(
            F.col("id").alias("site_id"),
            (F.col("id") % 9973 / 10.0).alias("center"),
        )
        return J.nearest(
            ev, dim,
            distance=F.abs(F.col("value") - F.col("center")),
            fact_key="event_id", dim_cols=["site_id"],
            fan_partitions="auto",  # cache-resident fan sizing (opt-in)
        )

    def bloom_semi(ev):
        from ngafid_cpat_spark.operators import bloom as B

        # key universe 100x the key set => ~1% selectivity, the
        # shape where the prefilter pays
        keys = spark.range(1_000).select(
            F.concat(F.lit("k"), F.col("id")).alias("k")
        )
        facts = ev.select(
            F.concat(F.lit("k"), (F.col("value") * 7919).cast("long") % 100_000).alias("k"),
            F.col("value"),
        )
        pre = B.bloom_prefilter(facts, "k", keys, "k")
        return pre.join(keys, "k").groupBy("k").agg(F.sum("value"))

    def cc_distributed(ev):
        # chain graph: ~n/10 components of diameter 9, forced through
        # the iterative loop (small_graph_edges=0) — the scale path a
        # >500k-edge dup graph takes
        edges = ev.select(F.col("event_id").alias("id1"),
                          (F.col("event_id") + 1).alias("id2")).filter(
            F.col("id1") % 10 != 9
        )
        ids = ev.select(F.col("event_id").alias("id"))
        return D.connected_components(
            edges, ids, id_col="id", small_graph_edges=0
        )

    def kmeans(emb):
        from ngafid_cpat_spark.operators import similarity as S

        # iterative Lloyd: per-iteration cost = one wide map-side
        # groupBy + a k x dim collect; time should track |vectors|
        return S.kmeans_cluster_profile(emb, k=8, n_iter=2)

    def pq_trained_topk(emb):
        from ngafid_cpat_spark.operators import similarity as S

        # the full trained-PQ pipeline: joint L2-Lloyd training
        # (n_iter+1 passes, k-row driver syncs), encode via the HOF
        # key path (m*k=128 > 64), ADC scan + 50-candidate exact
        # re-rank. Time should track |vectors|: every stage is one
        # linear pass, driver state stays k x dim.
        books = S.pq_codebooks_trained(emb, m=8, k=16, n_iter=2)
        q = [((7 * d + 3) % 11 - 5) / 5.0 for d in range(16)]
        return S.pq_topk(emb, q, books, k=10, rerank=50)

    def ivfpq_topk(emb):
        from ngafid_cpat_spark.operators import similarity as S

        # full IVFADC+R: coarse Lloyd + pooled-residual PQ training
        # + 4-of-8-cell ADC probe + exact re-rank of 100. Linear:
        # both trainings are per-pass linear, the probe scans a fixed
        # fraction, the re-rank is constant-size.
        coarse = S.kmeans_fit(emb, k=8, n_iter=2)
        q = [((7 * d + 3) % 11 - 5) / 5.0 for d in range(16)]
        return S.ivfpq_topk(
            emb, q, coarse, m=8, k_sub=16, n_iter=2,
            k=10, n_probe=4, rerank=100,
        )

    def int8_quantize(emb):
        from ngafid_cpat_spark.functions import vector as VV

        scale, q = VV.int8_quantize("embedding")
        return emb.select("vec_id", scale.alias("s"), q.alias("q"))

    def knn_graph(emb):
        from ngafid_cpat_spark.operators import similarity as S

        # LSH contract: bucket OCCUPANCY, not bucket count, is the
        # cost knob — planes grow with log2(n) so candidates/vector
        # stay constant as the corpus scales (fixed planes would make
        # the bucket self-join quadratic in occupancy)
        from ngafid_cpat_spark.plans.extensions import _plane_component

        n = emb.count()
        n_planes = max(8, (n // 2_500).bit_length() + 7)
        planes = [
            [_plane_component(i, d) for d in range(16)]
            for i in range(n_planes)
        ]
        return S.knn_graph_lsh(emb, planes, k=3)

    def heavy_hitters(docs):
        # frequent-items sketch: ~10k distinct words against
        # maxItemsTracked=10000 — the capacity-edge stress. Cost is
        # one linear pass with a fixed-size sketch per task; the
        # shuffle carries one sketch per partition, NOT one row per
        # distinct token per partition.
        toks = docs.select(F.explode(F.split("text", " ")).alias("token"))
        return toks.agg(
            F.expr("approx_top_k_accumulate(token, 10000)").alias("sk")
        ).select(F.expr("approx_top_k_estimate(sk, 20)").alias("tk"))

    def hll_union(ev):
        # two-level sketch cube: per-day HLL cells then one union —
        # both levels linear map-side passes, state fixed-size
        daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
            F.expr("hll_sketch_agg(user_id, 14)").alias("sk")
        )
        return daily.agg(
            F.expr("hll_sketch_estimate(hll_union_agg(sk, true))").alias("n")
        )

    def recursive_cte(ev):
        # WITH RECURSIVE forest walk (parent = floor(id/10)): depth
        # grows log10(n), each level joins the frontier against the
        # base — expect ~linear in rows with one extra level per 10x
        from ngafid_cpat_spark.plans.relational import _RECURSIVE_CHAIN_SQL

        # the guardrail default (1M rows) is below this smoke's own
        # output size; the row limit is the deployment knob for
        # runaway recursions, not a scalability ceiling
        spark.conf.set(
            "spark.sql.cteRecursionRowLimit", str(100_000_000)
        )
        ev.select(F.col("event_id").alias("s_suppkey")).createOrReplaceTempView(
            "__scale_supplier"
        )
        return spark.sql(
            _RECURSIVE_CHAIN_SQL.format(supplier="__scale_supplier")
        )

    def _synth_edges(ev):
        # 3 deterministic out-edges per node into a 100-node-wide
        # local neighborhood => bounded average degree, plenty of
        # closed wedges; 10% of edges rewired onto hub 0 so the
        # degree-ordered orientation's hub-skew claim is exercised,
        # not just asserted
        nodes = ev.select(F.col("event_id").alias("u"))
        parts = []
        for j in (1, 2, 3):
            tgt = F.col("u") + F.pmod(
                F.xxhash64(F.col("u"), F.lit(j)), F.lit(100)
            ) + 1
            tgt = F.when(
                F.pmod(F.xxhash64(F.col("u"), F.lit(j + 7)), F.lit(10)) == 0,
                F.lit(0),
            ).otherwise(tgt)
            parts.append(
                nodes.select(
                    F.least("u", tgt).alias("u"),
                    F.greatest(F.col("u"), tgt).alias("v"),
                )
            )
        return parts[0].unionByName(parts[1]).unionByName(parts[2]).filter(
            F.col("u") < F.col("v")
        ).distinct()

    def triangles(ev):
        from ngafid_cpat_spark.operators import graphs as G

        return G.triangle_counts(_synth_edges(ev))

    def pagerank(ev):
        from ngafid_cpat_spark.operators import graphs as G

        # 3 iterations over the same hub-skewed bounded-degree graph:
        # each iteration is one edge join + one node groupBy, rank
        # state one row per node — time should track |edges|; the
        # hub's fan-in lands in a map-side-combining SUM, so the
        # skewed node cannot serialize an iteration
        return G.pagerank_micro(_synth_edges(ev), n_iter=3)

    def semantic_dedup(emb):
        from ngafid_cpat_spark.operators import similarity as S

        # the REGISTERED k='auto' dispatch (operators/similarity.
        # semantic_dedup): k tracks the corpus so cluster size stays
        # ~constant (n/k ~ target_cell_rows) and the within-cluster
        # pair matmul cost k*(n/k)^2 = n*target stays linear — fixed
        # k would be quadratic (the LSH-plane occupancy contract's
        # clustering twin)
        return S.semantic_dedup(
            emb, k="auto", n_iter=1, threshold=0.35,
            target_cell_rows=1250,
        )

    def quality_sample(docs):
        from ngafid_cpat_spark.operators import corpus as C
        from ngafid_cpat_spark.operators.skew import widen_narrow_source

        # the registered quality_weighted_sample_docs chain:
        # featurize -> 4-round GD training (one map-side-combining
        # aggregate + 1-row collect per round) -> score -> one
        # map-side filter; time should track corpus rows
        feats = C.classifier_features(docs).join(
            docs.select(
                F.col("doc_id").alias("id"),
                F.pmod(F.xxhash64("doc_id"), F.lit(2))
                .cast("double")
                .alias("y"),
            ),
            "id",
        )
        feats = widen_narrow_source(feats).localCheckpoint(eager=False)
        model = C.train_linear_classifier(feats, n_iter=4)
        scored = feats.select(
            F.col("id").alias("doc_id"),
            C.linear_score(model["weights_micro"]).alias("p"),
        )
        return C.quality_weighted_sample(scored, "doc_id", "p")

    _incr_cc_state: dict = {}
    _incr_bfs_state: dict = {}

    def incr_cc_prep(ev):
        from ngafid_cpat_spark.operators.dedup import connected_components

        # untimed: the persisted label store a deployment already
        # has. Half the edge log (hash parity) is "history", labeled
        # from scratch; the other half is the arrival batch the
        # timed step folds in.
        edges = _synth_edges(ev)
        half = F.pmod(F.xxhash64("u", "v"), F.lit(2))
        old = edges.filter(half == 0)
        new = edges.filter(half == 1)
        old_nodes = (
            old.select(F.col("u").alias("id"))
            .unionByName(old.select(F.col("v").alias("id")))
            .distinct()
        )
        hist = connected_components(
            old, old_nodes, id_col="id", src_col="u", dst_col="v"
        )
        _incr_cc_state[id(ev)] = (
            hist.localCheckpoint(),
            new.localCheckpoint(),
        )

    def incr_cc(ev):
        from ngafid_cpat_spark.operators.graphs import (
            incremental_connected_components,
        )

        # timed: ONLY the incremental fold — label resolve +
        # contracted-graph CC + broadcast remap; should track the
        # arrival batch, with one map-side pass over the store
        hist, new = _incr_cc_state[id(ev)]
        return incremental_connected_components(
            hist, new, id_col="id", src_col="u", dst_col="v"
        )

    def incr_bfs_prep(ev):
        from ngafid_cpat_spark.operators.graphs import (
            incremental_bfs_relax,
        )

        # untimed: the persisted distance store a deployment already
        # has — half the edge log (hash parity) relaxed from scratch
        edges = _synth_edges(ev)
        half = F.pmod(F.xxhash64("u", "v"), F.lit(2))
        old = edges.filter(half == 0).localCheckpoint()
        new = edges.filter(half == 1).localCheckpoint()
        spark = ev.sparkSession
        empty = spark.createDataFrame([], "node bigint, hop int")
        hist = incremental_bfs_relax(
            empty, old, old, seed_sql="node % 11 = 0"
        )
        _incr_bfs_state[id(ev)] = (hist.localCheckpoint(), old, new)

    def incr_bfs(ev):
        from ngafid_cpat_spark.operators.graphs import (
            incremental_bfs_relax,
        )

        # timed: ONLY the incremental fold — frontier-based
        # relaxation of the arrival batch against the accumulated
        # edges; should track the arrival batch + frontier size
        hist, old, new = _incr_bfs_state[id(ev)]
        return incremental_bfs_relax(
            hist, old.unionByName(new), new, seed_sql="node % 11 = 0"
        )

    def kcore_peel(ev):
        from ngafid_cpat_spark.operators import graphs as G

        # 4 pinned peel rounds (the catalog shape) over the same
        # hub-skewed bounded-degree graph: per round one map-side-
        # combining degree groupBy + two semi-joins on the edge
        # table's own keys — time should track |edges| x rounds; the
        # hub's degree lands in a partial-aggregated SUM, so the
        # skewed node cannot serialize a round
        return G.kcore(_synth_edges(ev), k=2, n_rounds=4)

    def ktruss_peel(ev):
        from ngafid_cpat_spark.operators import graphs as G

        # 2 pinned support-peel rounds: per round one degree-ordered
        # triangle enumeration (arboricity-bounded wedge join) + one
        # map-side-combining support count + one edge join — the
        # triangle pass dominates and is the same shape the
        # triangles smoke already proves linear
        return G.ktruss(_synth_edges(ev), k=4, n_rounds=2)

    def dsir_select(docs):
        from ngafid_cpat_spark.operators import corpus as C

        # explode -> 1024-bucket conditional aggregate -> broadcast
        # weight dim -> per-doc aggregate -> 1-row min/max broadcast
        # -> map-side coin filter: every stage linear in gram rows
        return C.dsir_importance_select(
            docs, target=F.col("doc_id") % 2 == 0
        )

    def snm(docs):
        from ngafid_cpat_spark.operators import dedup as DD

        # short synthetic keys (levenshtein is O(len^2) per pair —
        # the operator contract is short normalized keys); one
        # range-partitioned numbering + equi-join on exploded rids
        named = docs.select(
            F.col("doc_id").alias("id"),
            F.concat(
                F.lit("name"),
                F.lpad((F.col("doc_id") % 9973).cast("string"), 5, "0"),
            ).alias("name"),
        )
        return DD.snm_pairs(named, window=4, max_dist=1)

    def skyline(ev):
        from ngafid_cpat_spark.operators.windows import pareto_frontier_2d

        # min ts, max value: per-key max groupBy + two-phase prefix
        # max over the key-domain aggregate
        return pareto_frontier_2d(ev, "ts", "value")

    def apriori_pairs(ev):
        from ngafid_cpat_spark.operators.mining import frequent_pairs

        # 5-item baskets from the event stream: pair fan bounded by
        # basket size, L1 pruning before it
        baskets = ev.select(
            (F.col("event_id") / 5).cast("long").alias("b"),
            (F.col("value") * 10).cast("long").alias("i"),
        )
        return frequent_pairs(baskets, "b", "i", min_support=3)

    def cms_sketch(docs):
        from ngafid_cpat_spark.operators.mining import cms_build

        toks = docs.select(F.explode(F.split("text", " ")).alias("token"))
        return cms_build(toks, "token")

    def centroid_cls(emb):
        from ngafid_cpat_spark.operators import similarity as S

        # one narrow posexplode aggregate (10 x dim driver codebook)
        # + map-side literal-codebook assignment + two-key groupBy
        return S.centroid_classify(
            emb.withColumn("label", F.pmod(F.col("vec_id"), F.lit(10)))
        )

    def power_iteration(emb):
        from ngafid_cpat_spark.operators import similarity as S

        # 3 exact-integer matvec passes + dim-row driver syncs;
        # time should track |vectors|
        v = S.power_iteration_milli(emb, n_iter=3)
        return emb.sparkSession.createDataFrame(
            [(d, int(x)) for d, x in enumerate(v)], "d long, v long"
        )

    def bpe(docs):
        from ngafid_cpat_spark.operators.corpus import bpe_train_merges

        # 3 training rounds; each is one linear pair pass + a one-row
        # collect, so time should track corpus tokens
        merges = bpe_train_merges(docs, 3)
        return docs.sparkSession.createDataFrame(
            [(r, l, rr, n) for r, l, rr, n in merges],
            "merge_round INT, l STRING, r STRING, n LONG",
        )

    def bpe16(docs):
        from ngafid_cpat_spark.operators.corpus import bpe_train_merges

        # the registered catalog depth (r08): 16 rounds through the
        # checkpointed-rewrite tower; still one pass + one-row
        # collect per round, so time tracks tokens x rounds
        merges = bpe_train_merges(docs, 16)
        return docs.sparkSession.createDataFrame(
            [(r, l, rr, n) for r, l, rr, n in merges],
            "merge_round INT, l STRING, r STRING, n LONG",
        )

    def _ivfpq_scale_path(emb) -> str:
        import os

        n = emb.count()
        return os.path.join("/tmp", f"spark_graft_scale_ivfpq_{n}")

    def ivfpq_index_build(emb):
        # UNTIMED prepare: train+write the index once per corpus size
        # — the measurement is the probe, the build is the offline
        # half by design (write_ivfpq_index docstring)
        import os

        from ngafid_cpat_spark.operators import similarity as S

        path = _ivfpq_scale_path(emb)
        if not os.path.exists(os.path.join(path, S.IVFPQ_META_FILE)):
            S.write_ivfpq_index(emb, path, k_coarse=8, m=4, k_sub=16, n_iter=2)

    def ivfpq_indexed_probe(emb):
        # probe-only IVFADC+R against the prebuilt store: a
        # partition-pruned codes read (n_probe/|coarse| of the rows)
        # + a constant-size broadcast re-rank; locally the re-rank's
        # corpus-side scan keeps it ~linear with a small constant,
        # at cluster scale the codes read is the only moving part
        from ngafid_cpat_spark.operators import similarity as S

        path = _ivfpq_scale_path(emb)
        meta = S.read_ivfpq_meta(path)
        q = [(((i * 37) % 2001) - 1000) / 1000.0 for i in range(16)]
        return S.ivfpq_topk_indexed(
            emb.sparkSession, path, q, k=10, n_probe=2, rerank=50,
            emb=emb, meta=meta,
        )

    def bm25_rank(docs):
        from ngafid_cpat_spark.operators import corpus as C

        # five query terms from the synth vocabulary (w0..w9972);
        # cost = tokenize + doc-length groupBy + query-filtered
        # postings groupBy — one linear pass plus broadcast scalars
        return C.bm25_topk(
            docs, ["w11", "w222", "w3333", "w47", "w555"], k=10
        )

    def suffix_lcp(docs):
        from ngafid_cpat_spark.operators import dedup as DD

        # suffix-sort longest-dup-span: the cost is the global range
        # sort of n_tokens truncated suffixes (O(W x corpus) rows)
        # plus two co-partitioned rid joins and island-bounded
        # windows — everything linear-ish in tokens (sort is n log n)
        return DD.suffix_lcp_longest_dup(
            docs, max_span=30, min_len=4
        )

    def hll_portable(ev):
        from ngafid_cpat_spark.operators import mining as M

        # portable md5-register HLL over a 32-group rollup: one
        # map-side-combining groupBy collapsing to groups x 64
        # register rows, then a fixed-size estimate agg
        grp = ev.select(
            (F.col("event_id") % 32).alias("g"),
            F.col("event_id").alias("k"),
        )
        return M.hll_estimate(M.hll_registers(grp, ["g"], "k"), ["g"])

    def synth_tele(mult: int):
        # the FLAGSHIP composed pipeline's input at 1x / mult x: the
        # real sf0.1 anchor-translated telemetry fixture (~100k
        # ticks), replicated with disjoint flight ids and per-copy
        # anchor spread (copies land near different real airports, so
        # the gridded dispatch fans realistically instead of piling
        # one cell)
        from functools import reduce

        from ngafid_cpat_spark.plans import extensions as X

        t = X._real_anchor_telemetry(spark, "/root/testdata/sf0.1")
        if mult == 1:
            return t
        copies = [
            t.select(
                (F.col("flight") + F.lit(i * 1_000_000)).alias("flight"),
                "time",
                "msl_altitude",
                "indicated_airspeed",
                "vertical_airspeed",
                "heading",
                (F.col("latitude") + F.lit((i % 7) * 0.7)).alias(
                    "latitude"
                ),
                (F.col("longitude") - F.lit((i % 5) * 1.3)).alias(
                    "longitude"
                ),
            )
            for i in range(mult)
        ]
        return reduce(lambda a, b: a.unionByName(b), copies)

    def bfs(ev):
        from ngafid_cpat_spark.operators import graphs as G

        # chain graph (the cc_distributed shape): multi-source BFS
        # from every 100th node, 3 rounds — per round one edge-sized
        # SMJ against the once-sorted checkpointed edge table
        edges = ev.select(
            F.col("event_id").alias("u"),
            (F.col("event_id") + 1).alias("v"),
        ).filter(F.col("u") % 10 != 9)
        seeds = ev.select(F.col("event_id").alias("node")).filter(
            F.col("node") % 100 == 0
        )
        return G.bfs_hops(edges, seeds, n_rounds=3)

    def lpa(ev):
        from ngafid_cpat_spark.operators import graphs as G

        # chain graph, 3 synchronous rounds — per round one SMJ vs
        # the sorted edge checkpoint + two map-side-combining aggs
        edges = ev.select(
            F.col("event_id").alias("u"),
            (F.col("event_id") + 1).alias("v"),
        ).filter(F.col("u") % 10 != 9)
        return G.label_propagation(edges, n_rounds=3)

    def es_sample(docs):
        from ngafid_cpat_spark.operators import corpus as C

        # O(w) map-side md5 coins per row + a TakeOrdered top-k:
        # time should track rows x mean weight, no shuffle before
        # the k-row tail
        wd = docs.select(
            "doc_id",
            (F.pmod(F.xxhash64("doc_id"), F.lit(8)) + 1).alias("w"),
        )
        return C.weighted_sample_wor(wd, k=100, weight_col="w")

    def pmi(docs):
        from ngafid_cpat_spark.operators import corpus as C

        # one tokenize+lead pass -> bigram model; margins re-aggregate
        # the vocab^2-bounded MODEL, not the token stream; top-k is a
        # TakeOrdered — time should track corpus token count
        return C.pmi_collocations(docs, k=20, min_count=3)

    def kneser_ney(docs):
        from ngafid_cpat_spark.operators import corpus as C

        # one tokenize+lead pass -> bigram model; margins and the
        # continuation counts re-aggregate the MODEL (vocab-bounded);
        # scoring joins the token stream against model-sized dims —
        # time should track corpus token count like bigram_logprob
        return C.kneser_ney_score(docs)

    def sssp(ev):
        from ngafid_cpat_spark.operators import graphs as G

        # chain graph with deterministic integer weights 1..5 —
        # bounded Bellman-Ford, 3 relaxation rounds: same per-round
        # shape as bfs (one SMJ vs the sorted edge checkpoint + a
        # min fold + an eager node-sized cut), plus the weight column
        # riding the shuffle
        edges = ev.select(
            F.col("event_id").alias("u"),
            (F.col("event_id") + 1).alias("v"),
            (F.pmod(F.xxhash64("event_id"), F.lit(5)) + 1).alias("w"),
        ).filter(F.col("u") % 10 != 9)
        seeds = ev.select(F.col("event_id").alias("node")).filter(
            F.col("node") % 100 == 0
        )
        return G.sssp_minplus(edges, seeds, n_rounds=3)

    def salsa(ev):
        from ngafid_cpat_spark.operators import graphs as G

        # directed 10-ary in-tree (s = id, t = id DIV 10): hub nodes
        # have outdeg 1, authorities indeg ~10 — per half-step one
        # edge-sized SMJ vs the once-sorted degree-annotated
        # checkpoint + a map-side-combining sum; time should track
        # edge count linearly across the 2 alternations
        edges = ev.select(
            F.col("event_id").alias("s"),
            F.expr("event_id DIV 10").alias("t"),
        ).filter(F.col("s") != F.col("t"))
        return G.salsa_micro(edges, n_iter=2)

    def ra_link(ev):
        from ngafid_cpat_spark.operators import graphs as G

        # chain + distance-2 chords: degree <= 4, so wedge volume
        # SUM deg^2 grows linearly with nodes — one center-key
        # shuffle feeding both wedge sides + an anti-join + a k-row
        # tail; predictions are the distance-3 pairs
        chain = ev.select(
            F.col("event_id").alias("u"),
            (F.col("event_id") + 1).alias("v"),
        )
        chord = ev.select(
            F.col("event_id").alias("u"),
            (F.col("event_id") + 2).alias("v"),
        )
        return G.link_prediction_ra(chain.unionByName(chord), k=100)

    def harmonic(ev):
        from ngafid_cpat_spark.operators import graphs as G

        # chain graph, 1% landmark density: per round one edge-sized
        # SMJ relaxes ALL landmarks at once, so time tracks edges x
        # rounds + (landmark x reach) state rows
        edges = ev.select(
            F.col("event_id").alias("u"),
            (F.col("event_id") + 1).alias("v"),
        ).filter(F.col("u") % 10 != 9)
        lms = ev.select(F.col("event_id").alias("node")).filter(
            F.col("node") % 100 == 0
        )
        return G.landmark_harmonic(edges, lms, n_rounds=3)

    def winnow_pairs(docs):
        from ngafid_cpat_spark.operators import dedup as D2

        # gram explosion ~ chars, doc-partitioned ROWS window (no
        # cross-doc shuffle), df-cut before the pair join
        return D2.winnow_match_pairs(docs, k=8, w=4, topk=100)

    def cdc(docs):
        from ngafid_cpat_spark.operators import corpus as C2

        # gram explode ~ chars, 1/64 boundary filter, per-doc lag
        # window — no cross-doc shuffle
        return C2.cdc_chunks(docs, k=8, divisor=64)

    def approach_real(tele):
        # end-to-end flagship: full approach pipeline against the
        # REAL 15,165-airport / 164-runway dims (r11 verdict ask #5 —
        # the components are measured, this is the composition)
        from ngafid_cpat_spark.plans import approach as AP
        from ngafid_cpat_spark.plans import extensions as X

        airports, runways = X._real_dims(spark)
        return AP.analyze(tele, airports, runways)

    ops = {
        "sessionize_chunked": ("events", sessionize),
        "range_window": ("events", range_window),
        "range_window_chunked": ("events", range_window_chunked),
        "episode_islands": ("events", islands),
        "episode_islands_chunked": ("events", islands_chunked),
        "dedup_exact": ("docs", dedup_exact),
        "jaccard_pairs": ("docs", jaccard),
        "allpairs_prefix_jaccard": ("docs", allpairs_prefix),
        "incremental_minhash": ("docs", incr_minhash),
        "nearest_join": ("events", nn_join),
        "nearest_join_ref_dims": ("events", nn_join_ref_dims),
        "bloom_semi_join": ("events", bloom_semi),
        "connected_components": ("events", cc_distributed),
        "knn_graph_lsh": ("emb", knn_graph),
        "kmeans_lloyd": ("emb", kmeans),
        "pq_trained_topk": ("emb", pq_trained_topk),
        "ivfpq_topk": ("emb", ivfpq_topk),
        "int8_quantize": ("emb", int8_quantize),
        "heavy_hitters_sketch": ("docs", heavy_hitters),
        "hll_union": ("events", hll_union),
        "recursive_cte_chain": ("events", recursive_cte),
        "triangle_counts": ("events", triangles),
        "pagerank": ("events", pagerank),
        "kcore": ("events", kcore_peel),
        "ktruss": ("events", ktruss_peel),
        "dsir_select": ("docs", dsir_select),
        "centroid_classify": ("emb", centroid_cls),
        "snm_blocking": ("docs", snm),
        "skyline_2d": ("events", skyline),
        "apriori_pairs": ("events", apriori_pairs),
        "cms_sketch": ("docs", cms_sketch),
        "semantic_dedup": ("emb", semantic_dedup),
        "power_iteration": ("emb", power_iteration),
        "quality_weighted_sample": ("docs", quality_sample),
        "incremental_cc": ("events", incr_cc, incr_cc_prep),
        "incremental_bfs": ("events", incr_bfs, incr_bfs_prep),
        "bpe_train": ("docs", bpe),
        "bpe_train_16": ("docs", bpe16),
        "ivfpq_indexed_probe": ("emb", ivfpq_indexed_probe, ivfpq_index_build),
        "bm25_rank": ("docs", bm25_rank),
        "suffix_lcp_dedup": ("docs", suffix_lcp),
        "hll_portable_union": ("events", hll_portable),
        "bfs_hops": ("events", bfs),
        "label_propagation": ("events", lpa),
        "sssp_minplus": ("events", sssp),
        "salsa": ("events", salsa),
        "ra_link_prediction": ("events", ra_link),
        "harmonic_centrality": ("events", harmonic),
        "winnow_match": ("docs", winnow_pairs),
        "cdc_chunks": ("docs", cdc),
        "pmi_collocations": ("docs", pmi),
        "kneser_ney": ("docs", kneser_ney),
        "weighted_sample_wor": ("docs", es_sample),
        "approach_real_pipeline": ("tele", approach_real),
    }

    def synth_emb(n: int):
        # per-component xxhash64 mixing. Two failed shortcuts, kept
        # as a warning: (id*M + d*K) % 1000 collapses the corpus to
        # 1000 distinct vectors (copies bucket-collide => quadratic
        # join); (id*M + d*K) % prime gives every dimension the SAME
        # id-coefficient, so vectors lie on a 1-parameter curve and
        # pile into a few buckets — the smoke needs genuinely
        # scattered directions to measure the operator, not the
        # degeneracy of the generator.
        return spark.range(n).select(
            F.col("id").alias("vec_id"),
            F.array(*[
                (F.pmod(F.xxhash64(F.col("id"), F.lit(d)), F.lit(2001))
                 - 1000) / 1000.0
                for d in range(16)
            ]).alias("embedding"),
        )

    if args.ops:
        wanted = {s.strip() for s in args.ops.split(",")}
        unknown = wanted - set(ops)
        if unknown:
            raise SystemExit(f"unknown ops: {sorted(unknown)}")
        ops = {n: v for n, v in ops.items() if n in wanted}

    sizes = {
        "events": (args.base_events, args.base_events * args.scale),
        "docs": (args.base_docs, args.base_docs * args.scale),
        "emb": (args.base_docs, args.base_docs * args.scale),
        # telemetry ticks in the sf0.1 fixture x replication
        "tele": (100_000, 100_000 * args.scale),
    }
    frames = {
        ("events", 0): synth_events(spark, sizes["events"][0], 10_000),
        ("events", 1): synth_events(
            spark, sizes["events"][1], 10_000 * args.scale
        ),
        ("docs", 0): synth_docs(spark, sizes["docs"][0]),
        ("docs", 1): synth_docs(spark, sizes["docs"][1]),
        ("emb", 0): synth_emb(sizes["emb"][0]),
        ("emb", 1): synth_emb(sizes["emb"][1]),
    }
    if any(spec[0] == "tele" for spec in ops.values()):
        frames[("tele", 0)] = synth_tele(1)
        frames[("tele", 1)] = synth_tele(args.scale)

    # warm: codegen + python worker pool on the small size (ops with
    # an untimed prepare step run it first — e.g. the offline index
    # build whose probe is the thing being measured)
    for name, spec in ops.items():
        tbl, fn = spec[0], spec[1]
        try:
            if len(spec) > 2:
                spec[2](frames[(tbl, 0)])
            mat(fn(frames[(tbl, 0)]))
        except Exception:
            pass

    results = {}
    for name, spec in ops.items():
        tbl, fn = spec[0], spec[1]
        prep = spec[2] if len(spec) > 2 else None
        out = {"rows_base": sizes[tbl][0], "rows_scaled": sizes[tbl][1]}
        for i, key in ((0, "sec_base"), (1, "sec_scaled")):
            if prep is not None:
                try:
                    prep(frames[(tbl, i)])
                except Exception as e:  # noqa: BLE001
                    out[key] = None
                    out["err"] = f"prepare: {type(e).__name__}: {str(e)[:160]}"
                    break
            t0 = time.perf_counter()
            try:
                mat(fn(frames[(tbl, i)]))
                out[key] = round(time.perf_counter() - t0, 2)
            except Exception as e:  # noqa: BLE001
                out[key] = None
                out["err"] = f"{type(e).__name__}: {str(e)[:160]}"
                break
        if out.get("sec_base") is not None and out.get("sec_scaled") is not None:
            # guard the sub-10ms base case: rounding can make it 0.0
            base = max(out["sec_base"], 0.01)
            out["ratio"] = round(out["sec_scaled"] / base, 2)
            out["linear_ok"] = out["ratio"] <= args.scale * 1.5
        print(json.dumps({"op": name, **out}))
        results[name] = out

    bad = [n for n, r in results.items() if not r.get("linear_ok")]
    print(json.dumps({"scale": args.scale, "superlinear_or_err": bad}))


if __name__ == "__main__":
    main()
