"""Deduplication operators for large-scale text corpora.

Driver-mandated LLM-pipeline extensions (SURVEY.md §2.11). All
operate on a (id, text) DataFrame and are designed so the expensive
pairwise step never materializes the full O(n^2) cross product:

  * exact_dedup          hash-groupBy on the md5 fingerprint of the
                         normalized text; survivor = min id.
  * jaccard_pairs        exact shingle-set Jaccard for candidate
                         pairs that share >=1 shingle (inverted-index
                         join on shingle — linear in sum of posting
                         list squares, not n^2).
  * minhash_lsh_pairs    MinHash signatures + banded LSH: candidate
                         pairs only where a band bucket collides,
                         then exact-Jaccard verification. The 100 TB
                         scale path — shuffle is on (band, bucket).
  * simhash_pairs        64-bit SimHash + hamming-distance pairs via
                         band rotation (4x16-bit block keys).
  * embedding_neardup    cosine-similar embedding pairs over an LSH-
                         free id-range restriction (testdata-sized) —
                         the scale path shares similarity.lsh_buckets.

Text-hash paths are JVM-side column expressions (xxhash64, exploded
shingles); embedding pair scoring runs as Arrow-batched matmul groups
(operators/similarity.cosine_pairs_in_groups) — no row-at-a-time
Python anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as T
from ..session import shuffle_width
from .skew import pinned_checkpoint


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Group identical (normalized) texts; one row per distinct text:
    keeper id (min), duplicate count. Hash-groupBy — one shuffle on
    the 128-bit fingerprint, never on the text body (at 100 TB the
    shuffle carries 16-byte keys, not documents)."""
    return (
        df.select(F.col(id_col), T.fingerprint_md5(text_col).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _shingle_sets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    as_string: bool = False,
) -> DataFrame:
    """(id, shingle) distinct pairs. By default the shingle is kept
    as its xxhash64 — 8-byte shuffle keys instead of multi-word
    strings (identical set semantics; a 64-bit collision across a
    corpus's distinct-shingle count is ~n^2/2^64, negligible).
    ``as_string=True`` keeps the space-joined gram text instead, for
    consumers whose output must be oracle-reproducible values
    (substring_dup_spans) — tokens never contain the separator, so
    the two encodings are distinctness-equivalent.

    Shape: posexplode the token array, window-lead the next k-1
    tokens, hash (or join) the k-tuple — every step stays in
    whole-stage codegen (the transform/slice/array_join shingle
    expression was an interpreted lambda per position and dominated
    every dedup query)."""
    from pyspark.sql import Window

    from .skew import widen_narrow_source

    # widen a compact scan BEFORE tokenize+explode: the lead window
    # below needs id-hash clustering anyway, so this moves that
    # exchange ahead of the explosion (doc rows, not token rows) and
    # parallelizes the regexp tokenizer — no-op on an already-wide
    # source (see widen_narrow_source)
    base = widen_narrow_source(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__txt")),
        "id",
        probe=False,  # the lead window's exchange is unavoidable
    )
    toks = base.select(
        "id",
        F.posexplode(T.tokens("__txt")).alias("pos", "t0"),
    )
    w = Window.partitionBy("id").orderBy("pos")
    lead_cols = [F.lead("t0", i).over(w).alias(f"t{i}") for i in range(1, k)]
    sh = toks.select("id", "t0", *lead_cols).filter(
        F.col(f"t{k - 1}").isNotNull()
    )
    parts = [f"t{i}" for i in range(k)]
    gram = F.concat_ws(" ", *parts) if as_string else F.xxhash64(*parts)
    return sh.select("id", gram.alias("sh")).distinct()


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.05,
    max_doc_freq: int | None = 10_000,
    log_dropped: bool = False,
) -> DataFrame:
    """Exact shingle-set Jaccard over candidate pairs sharing >=1
    shingle. Inverted-index self-join: shuffle on shingle, then on
    the (id1, id2) pair — no cross product. Output columns:
    id1, id2, jaccard.

    ``max_doc_freq`` caps posting-list length: a shingle appearing in
    more than that many documents (a stop-phrase) is dropped from the
    INDEX before the self-join — without the cap one ubiquitous
    shingle makes the join quadratic in corpus size. Set sizes keep
    counting every shingle, so reported jaccard is a lower bound when
    the cap fires (standard inverted-index df-cut; candidate recall
    is lost only for pairs whose overlap is exclusively stop-phrase).
    ``log_dropped=True`` eagerly counts and logs the dropped shingles
    (one extra tiny aggregate — leave off in the hot path)."""
    # three consumers (set sizes, df-cut, index join) would each
    # re-run the explode+lead+hash shingle pipeline; one lazy
    # localCheckpoint materializes it once to executor storage and
    # is GC-reclaimed with the frame (operator-internal, no session
    # cache leak)
    sh = _shingle_sets(df, id_col, text_col, k).localCheckpoint(eager=False)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    sh_idx = sh
    if max_doc_freq is not None:
        hot = (
            sh.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_doc_freq)
            .select("sh")
        )
        if log_dropped:
            import logging

            logging.getLogger(__name__).info(
                "jaccard_pairs: dropping %d shingles with df > %d",
                hot.count(),
                max_doc_freq,
            )
        # hot set is tiny by construction (few shingles can exceed the
        # cap) -> broadcast anti-join, no extra shuffle of the index
        sh_idx = sh.join(F.broadcast(hot), "sh", "left_anti")
    common = (
        sh_idx.alias("a")
        .join(sh_idx.alias("b"), on="sh")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    out = (
        common.join(F.broadcast(sizes).withColumnRenamed("id", "id1").withColumnRenamed("n", "n1"), "id1")
        .join(F.broadcast(sizes.withColumnRenamed("id", "id2").withColumnRenamed("n", "n2")), "id2")
        .withColumn("jaccard", F.col("c") / (F.col("n1") + F.col("n2") - F.col("c")))
        .filter(F.col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard")
    )
    return out


def minhash_sig_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 32,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """MinHash signature table: (id, h0..h{n-1}, s) where s is the
    document's shingle-hash set (rides the SAME groupBy, so exact
    verification downstream never re-shingles). This is the table a
    100 TB deployment PERSISTS and maintains incrementally — both
    minhash_lsh_pairs (self-join dedup) and incremental_minhash_dedup
    (new-vs-history) consume it.

    Signature via exploded shingles + one partial-aggregated groupBy:
    computing 32 array_min(transform(...)) expressions inline blows
    up codegen (9+ MB task binaries, ~100x slower) — the explode
    form is one pass and map-side combines before the shuffle.
    F.expr strings, not Column-op chains: every Column operator is
    a py4j round-trip, and 32x4 of them cost whole seconds of
    driver time per query construction (see functions/vector.py).
    Lazy localCheckpoint: every consumer (band-join sides +
    verification sets) reads one materialization — without it,
    column pruning specializes the aggregate per branch and the
    shingle pipeline runs twice.

    ``hash_family``: "xxhash64" (hot path) or "md5km"
    (Kirsch-Mitzenmeier h_i = a + i*b from one md5 per shingle — the
    cross-engine-reproducible family the DuckDB oracles pair with)."""
    if hash_family == "md5km":
        sh = _shingle_sets(df, id_col, text_col, k, as_string=True)
        # one md5 per distinct (id, shingle) — the projection split
        # guarantees single evaluation (expression-level CSE is not);
        # set membership still rides 8-byte xxhash64 keys
        # (intersection sizes are identical on the text sets —
        # distinctness-equivalent)
        shab = sh.select(
            "id", F.md5("sh").alias("m"), F.xxhash64("sh").alias("shh")
        ).select(
            "id",
            F.expr("cast(conv(substr(m, 1, 14), 16, 10) as bigint)").alias("ha"),
            F.expr("cast(conv(substr(m, 15, 13), 16, 10) as bigint)").alias("hb"),
            "shh",
        )
        return shab.groupBy("id").agg(
            *[
                F.expr(f"min(ha + {i}L * hb) AS h{i}")
                for i in range(num_hashes)
            ],
            F.collect_set("shh").alias("s"),
        ).localCheckpoint(eager=False)
    if hash_family == "xxhash64":
        sh = _shingle_sets(df, id_col, text_col, k)
        return sh.groupBy("id").agg(
            *[
                F.expr(f"min(xxhash64(sh, {i})) AS h{i}")
                for i in range(num_hashes)
            ],
            F.collect_set("sh").alias("s"),
        ).localCheckpoint(eager=False)
    raise ValueError(f"unknown hash_family: {hash_family!r}")


def minhash_band_table(
    sig: DataFrame, bands: int, rows_per_band: int
) -> DataFrame:
    """(id, band, bucket) LSH banding of a signature table: bucket =
    xxhash64 of the band's concatenated signature values. Bucket
    equality stands in for band equality (64-bit collisions are
    vanishing), which turns candidate generation into a plain
    equi-join on (band, bucket)."""
    band_structs = ", ".join(
        "named_struct('band', {b}, 'bucket', xxhash64(concat_ws(',', {cols})))".format(
            b=b,
            cols=", ".join(
                f"cast(h{b * rows_per_band + r} as string)"
                for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    return sig.select(
        "id", F.expr(f"explode(array({band_structs})) AS bb")
    ).select("id", "bb.band", "bb.bucket")


def lsh_bands_for_threshold(
    num_hashes: int, threshold: float
) -> int:
    """Band count whose LSH S-curve pivots nearest the target
    Jaccard threshold: with b bands of r = num_hashes/b rows, a pair
    with true Jaccard j collides with prob 1-(1-j^r)^b, a sigmoid
    whose 50%%-collision pivot sits at ~(1/b)^(1/r) (Mining of
    Massive Datasets §3.4.3). Chooses, among the divisors of
    num_hashes, the b minimizing |pivot - threshold| — the `auto`
    knob for minhash_lsh_pairs: callers state the SIMILARITY
    CONTRACT and the banding follows, instead of hand-tuning b per
    corpus (too few bands -> misses true pairs above the threshold;
    too many -> bucket floods of below-threshold candidates that the
    exact-verify join then pays for)."""
    best_b, best_err = 1, float("inf")
    for b in range(1, num_hashes + 1):
        if num_hashes % b:
            continue
        r = num_hashes // b
        pivot = (1.0 / b) ** (1.0 / r)
        err = abs(pivot - threshold)
        if err < best_err:
            best_b, best_err = b, err
    return best_b


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 32,
    bands: int | str = 16,
    verify_threshold: float = 0.05,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """MinHash + banded LSH near-dup detection, verified by exact
    Jaccard on candidates only.

    Scale shape: signatures are computed in one map-side pass; the
    only shuffles are (band_hash -> bucket grouping) and the candidate
    pair verification join. With b bands of r rows, a pair with true
    Jaccard j collides with prob 1-(1-j^r)^b.

    ``hash_family``:
      * ``"xxhash64"`` (default, hot path): seeded xxhash64 per
        shingle per function — JVM-native, 8-byte shingle keys.
      * ``"md5km"``: Kirsch-Mitzenmeier double hashing h_i = a + i*b
        where (a, b) are the first 56 + next 52 bits of md5(shingle
        text) — one md5 per shingle, then pure integer arithmetic.
        Every engine with md5 + hex parsing reproduces the EXACT
        candidate set, so this family is what the DuckDB driver
        oracle pairs against (the literal-folded-seed trick that made
        knn_graph_embeddings exactly checkable). The bit budgets keep
        a + 31*b < 2^58, far from bigint overflow on either engine.
    """
    if bands == "auto":
        # size the S-curve to the verification threshold (see
        # lsh_bands_for_threshold) — the banding analog of
        # semantic_dedup's k="auto" / the IVF writer's sqrt-N
        bands = lsh_bands_for_threshold(num_hashes, verify_threshold)
    rows_per_band = num_hashes // bands
    sig = minhash_sig_table(
        df, id_col=id_col, text_col=text_col, k=k,
        num_hashes=num_hashes, hash_family=hash_family,
    )
    banded = minhash_band_table(sig, bands, rows_per_band)
    cands = (
        banded.alias("a")
        .join(banded.alias("b"), on=["band", "bucket"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
        .distinct()
    )
    # exact verification on candidates only; sets come from the same
    # signature aggregate, not a fresh shingle pass
    sets = sig.select("id", "s")
    out = (
        cands.join(sets.withColumnRenamed("id", "id1").withColumnRenamed("s", "s1"), "id1")
        .join(sets.withColumnRenamed("id", "id2").withColumnRenamed("s", "s2"), "id2")
        .withColumn("inter", F.size(F.array_intersect("s1", "s2")))
        .withColumn(
            "jaccard",
            F.col("inter") / (F.size("s1") + F.size("s2") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= verify_threshold)
        .select("id1", "id2", "jaccard")
    )
    return out


def incremental_minhash_dedup(
    new_docs: DataFrame,
    history: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 16,
    verify_threshold: float = 0.05,
    hash_family: str = "xxhash64",
    history_sig: DataFrame | None = None,
    new_sig: DataFrame | None = None,
    return_signatures: bool = False,
    broadcast_new: bool = True,
) -> DataFrame:
    """NEAR-dup incremental dedup: from a NEW batch, the documents
    that are not a verified near-duplicate (banded-LSH candidate AND
    exact Jaccard >= ``verify_threshold``) of ANY document in the
    already-ingested corpus — the MinHash companion of
    operators/corpus.incremental_dedup (exact fingerprints). Real
    crawl pipelines dedup each incoming batch against the corpus with
    exactly this shape: the corpus participates only as its PERSISTED
    signature table (pass ``history_sig`` — minhash_sig_table's
    output, maintained by appending each batch's keeper signatures),
    candidates come from a (band, bucket) equi-join of the small new
    side against the history banding, and only candidates pay the
    exact set-intersection verify. The corpus text is never
    rescanned; nothing is all-pairs.

    Within-batch near-dups are deliberately NOT collapsed here (a
    near-dup CLUSTER needs survivorship rules — compose with
    dedup_clusters/keep_best for that); documents too short to carry
    a k-shingle can never match and are always kept.

    Returns the keeper ids (one ``id_col`` column).
    ``return_signatures=True`` additionally LEFT-joins each keeper's
    signature columns (h0..h{n-1}, s — NULL for sub-shingle-length
    docs): exactly what a caller appends to the persisted signature
    table so the NEXT batch dedups against these keepers too (the
    streaming ingest loop, streaming/foreach_batch.
    stream_incremental_minhash_dedup). ``new_sig`` lets such a caller
    reuse a signature table it already built for this batch.

    ``broadcast_new`` (default True) hints the NEW side — its banding,
    its sets, and the candidate pairs they bound — as broadcast: the
    incremental contract is that an arriving batch is small relative
    to the corpus (ingestion-cadence-bounded), so the history is
    never shuffled; only its banding is scanned through the broadcast
    hash join. Pass False for backfill-sized batches that outgrow a
    broadcast — the joins then shuffle both sides (sort-merge)."""
    rows_per_band = num_hashes // bands
    if new_sig is None:
        new_sig = minhash_sig_table(
            new_docs, id_col=id_col, text_col=text_col, k=k,
            num_hashes=num_hashes, hash_family=hash_family,
        )
    if history_sig is None:
        if history is None:
            raise ValueError(
                "pass history_sig (preferred at scale) or history"
            )
        history_sig = minhash_sig_table(
            history, id_col=id_col, text_col=text_col, k=k,
            num_hashes=num_hashes, hash_family=hash_family,
        )
    new_banded = minhash_band_table(new_sig, bands, rows_per_band)
    hist_banded = minhash_band_table(history_sig, bands, rows_per_band)
    nb = F.broadcast(new_banded) if broadcast_new else new_banded
    cands = (
        nb.alias("n")
        .join(hist_banded.alias("h"), on=["band", "bucket"])
        .select(F.col("n.id").alias("nid"), F.col("h.id").alias("hid"))
        .distinct()
    )
    nsets = new_sig.select(F.col("id").alias("nid"), F.col("s").alias("s1"))
    hsets = history_sig.select(
        F.col("id").alias("hid"), F.col("s").alias("s2")
    )
    cn = cands.join(
        F.broadcast(nsets) if broadcast_new else nsets, "nid"
    )
    if broadcast_new:
        # candidate pairs are new-batch-bounded (LSH bucket occupancy
        # keeps them ~|near-dup arrivals|): broadcast them into the
        # history sets instead of shuffling the corpus-sized hsets
        joined = hsets.join(F.broadcast(cn), "hid")
    else:
        joined = cn.join(hsets, "hid")
    matched = (
        joined
        .withColumn("inter", F.size(F.array_intersect("s1", "s2")))
        .filter(
            F.col("inter")
            / (F.size("s1") + F.size("s2") - F.col("inter"))
            >= verify_threshold
        )
        .select(F.col("nid").alias(id_col))
        .distinct()
    )
    if broadcast_new:
        matched = F.broadcast(matched)  # new-batch-bounded
    keepers = new_docs.select(id_col).distinct().join(
        matched, id_col, "left_anti"
    )
    if return_signatures:
        return keepers.join(
            new_sig.withColumnRenamed("id", id_col), id_col, "left"
        )
    return keepers


# NOTE: there is deliberately NO per-row `simhash(text_col)` column
# function. The expression form needs 64 F.aggregate lambdas over the
# shingle array, which blows past whole-stage codegen limits and runs
# interpreted (~100x slower than simhash_pairs' exploded-shingle
# majority vote — measured 227 s vs 2 s for 5k docs at sf0.1). Use
# simhash_pairs, whose signature stage IS the simhash computation.


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 8,
    k: int = 3,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs with SimHash hamming distance <= max_hamming.
    Candidate generation by 4x16-bit block keys (pigeonhole: any pair
    within hamming 3*blocks shares a block; wider radii verified
    after the block join) — avoids the n^2 comparison.

    ``hash_family="md5"`` votes the 64 signature bits from the two
    32-bit halves of md5(shingle text) instead of seeded xxhash64 —
    reproducible in any engine with md5 + hex parsing, which is what
    lets the DuckDB driver oracle recompute the exact pair set (the
    same cross-engine contract as minhash_lsh_pairs' md5km)."""
    # signature from exploded shingles (see minhash comment): per bit,
    # majority vote of the shingle-hash bits, assembled into one long
    # F.expr strings, not Column-op chains — 64x5 Column operators are
    # 64x5 py4j round-trips (~seconds of driver time per construction)
    if hash_family == "md5":
        sh = _shingle_sets(df, id_col, text_col, k, as_string=True)
        # projection split: one md5 per shingle (see minhash md5km)
        hashed = sh.select("id", F.md5("sh").alias("m")).select(
            "id",
            F.expr("cast(conv(substr(m, 1, 8), 16, 10) as bigint)").alias("hhi"),
            F.expr("cast(conv(substr(m, 9, 8), 16, 10) as bigint)").alias("hlo"),
        )
        votes = hashed.groupBy("id").agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.expr(f"sum(cast(shiftrightunsigned(hlo, {b}) & 1L as int)) AS b{b}")
                for b in range(32)
            ],
            *[
                F.expr(
                    f"sum(cast(shiftrightunsigned(hhi, {b - 32}) & 1L as int)) AS b{b}"
                )
                for b in range(32, 64)
            ],
        )
    elif hash_family == "xxhash64":
        sh = _shingle_sets(df, id_col, text_col, k)
        hashed = sh.select("id", F.xxhash64("sh").alias("h"))
        votes = hashed.groupBy("id").agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.expr(f"sum(cast(shiftrightunsigned(h, {b}) & 1L as int)) AS b{b}")
                for b in range(64)
            ],
        )
    else:
        raise ValueError(f"unknown hash_family: {hash_family!r}")
    sh64_sql = " | ".join(
        f"(CASE WHEN b{b} * 2 >= n THEN shiftleft(1L, {b}) ELSE 0L END)"
        for b in range(64)
    )
    sig = votes.select("id", F.expr(f"({sh64_sql}) AS sh64"))
    blocks = sig.select(
        "id",
        "sh64",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("blk"),
                    F.shiftrightunsigned(F.col("sh64"), i * 16)
                    .bitwiseAND(F.lit(0xFFFF))
                    .alias("key"),
                )
                for i in range(4)
            ])
        ).alias("b"),
    ).select("id", "sh64", "b.blk", "b.key")
    cands = (
        blocks.alias("x")
        .join(blocks.alias("y"), on=["blk", "key"])
        .filter(F.col("x.id") < F.col("y.id"))
        .select(
            F.col("x.id").alias("id1"),
            F.col("y.id").alias("id2"),
            F.col("x.sh64").alias("h1"),
            F.col("y.sh64").alias("h2"),
        )
        .distinct()
    )
    return (
        cands.withColumn("hamming", hamming64(F.col("h1"), F.col("h2")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id1", "id2", "hamming")
    )


def embedding_neardup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    max_id: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs. The testdata-sized exact
    variant (optionally id-restricted); at scale, pre-bucket with
    similarity.lsh_bucket_assignments and join within buckets."""
    from .similarity import cosine_pairs_blocked

    e = emb.select(F.col(id_col), F.col(vec_col))
    if max_id is not None:
        e = e.filter(F.col(id_col) < max_id)
    return cosine_pairs_blocked(
        e, id_col=id_col, vec_col=vec_col, threshold=threshold
    )


# Below this many edges the dup graph is collected and solved with a
# driver union-find (bounded transfer: 16 bytes/edge => <= 8 MiB),
# exactly the bounded-small-side judgment a broadcast join makes. A
# 100 TB corpus whose dup graph exceeds this falls through to the
# iterative distributed loop.
SMALL_GRAPH_EDGES = 500_000


def connected_components(
    pairs: DataFrame,
    ids: DataFrame,
    id_col: str = "id",
    src_col: str = "id1",
    dst_col: str = "id2",
    max_iter: int = 20,
    hops_per_round: int = 3,
    small_graph_edges: int = SMALL_GRAPH_EDGES,
) -> DataFrame:
    """Connected components over an undirected pair list by iterative
    min-label propagation: every node's label converges to the
    smallest id reachable from it — the canonical cluster
    representative for dedup survivorship.

    Distributed shape: iteration runs ONLY over edge-endpoint nodes —
    everything else is a singleton and attaches at the end with one
    outer join, so at corpus scale the loop's working set is the dup
    graph (typically orders of magnitude smaller than the corpus),
    not the corpus. Each materialized round composes
    ``hops_per_round`` neighbor-min steps (l(v) <- min over
    neighbors' l(u)) as ONE linear lazy chain before the checkpoint:
    propagation distance per Spark job is k hops, so a diameter-d
    component converges in ceil(d/k)+1 jobs instead of d+1 — the
    per-round cost is dominated by fixed job/shuffle latency
    (measured 5.3 s -> 3.7 s for a 9-hop graph even on local[32];
    the job-count saving grows with cluster size). Every step is a
    plain keyed join + min-aggregate, so a cluster of any size never
    gathers on one executor (vs. collect_set approaches that OOM on
    mega-clusters). A pointer-jump (l(v) <- l(l(v))) variant
    measured SLOWER here: the self-join forces an extra
    materialization per round and near-dup clusters are star-like,
    so the jump removed only ~2 of 9 hops. Convergence is witnessed
    by the label sum (monotone decreasing; an O(1)-result job, not a
    collect of data). Output: (id, cluster_id).
    """
    # the mirror union consumes ``pairs`` twice, and for every caller
    # that matters (keep_best_scored / dedup_clusters / fuzzy
    # consolidation) ``pairs`` is the expensive derived frame — a
    # shingle-index self-join + aggregate — so the whole candidate
    # pipeline ran TWICE into the edges checkpoint. One lazy
    # localCheckpoint of the projected half-edges computes it once;
    # the mirror then reads cached (src, dst) rows (guide §2.4 /
    # §5 recompute elimination). Half-edge-sized, reclaimed with the
    # frame.
    half = pairs.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).localCheckpoint(eager=False)
    edges = (
        half.unionByName(
            half.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
        .distinct()
        .localCheckpoint()
    )
    # Size the loop's parallelism to the DUP GRAPH, not the session
    # default: AQE cannot reach through a localCheckpoint, so without
    # this every hop of a 2k-edge graph runs session-width shuffles of
    # near-empty tasks, and per-hop task latency dominates the loop.
    # ~1M edges per partition; a 100 TB corpus with a 10^9-edge dup
    # graph still gets full cluster width. Partition edges BY dst
    # once so the per-hop join reuses the placement and only the
    # label side moves.
    n_edges = edges.count()
    all_ids = ids.select(F.col(id_col).alias("nid"))
    if n_edges <= small_graph_edges:
        # Small-graph fast path: the iterative loop's cost at this
        # size is pure fixed job latency (measured 6.6 s for a
        # 1.3k-edge graph — a dozen tiny shuffle jobs), while the
        # graph itself fits in one broadcast build side. Collect the
        # half-edges (bounded by small_graph_edges), union-find on
        # the driver, broadcast the label map back. Same induced-
        # subgraph semantics as the loop: only edges with both
        # endpoints in `ids` propagate labels.
        return _cc_small_graph(edges, all_ids, id_col)
    # floor 2, not 1: HashPartitioning(key, 1) normalizes away and
    # the pinned placement would be re-exchanged every hop (see
    # graphs._pinned_edge_table)
    p = max(2, min(int(n_edges // 1_000_000) + 1, 2048))
    # pinned_checkpoint, NOT plain: a plain localCheckpoint reports
    # UnknownPartitioning downstream, so every hop of every round
    # re-exchanged the edge table this repartition was supposed to
    # place once (probe-verified r15 — the r10 comment above claiming
    # the checkpoint pins HashPartitioning(dst, p) was wrong). The
    # pinned compile region is one exchange over an already-
    # checkpointed frame: skew-free, AQE loss immaterial.
    edges = pinned_checkpoint(edges.repartition(p, "dst"), eager=True)
    # localCheckpoint after every round: truncates the logical plan so
    # round N doesn't re-analyze rounds 1..N-1 (lineage otherwise grows
    # superlinearly and stalls the driver after ~6 iterations)
    # propagation can only ever change nodes that touch an edge (and,
    # matching the output contract, only nodes present in `ids`)
    # label init pinned like edges: round 1's first hop then starts
    # with BOTH sides placed at (key, p) and zero exchanges
    labels = pinned_checkpoint(
        edges.select("src")
        .distinct()
        .join(all_ids, F.col("src") == F.col("nid"), "left_semi")
        .select(F.col("src").alias("nid"), F.col("src").alias("lbl"))
        .repartition(p, "nid"),
        eager=True,
    )
    prev_sum = labels.agg(F.sum("lbl")).first()[0]
    for _ in range(max_iter):
        cur = labels
        for _hop in range(hops_per_round):
            nbr = (
                edges.join(cur, edges.dst == cur.nid)
                .groupBy(F.col("src").alias("nid"))
                .agg(F.min("lbl").alias("nbr_lbl"))
            )
            cur = cur.join(nbr, "nid", "left_outer").select(
                "nid",
                F.least(
                    F.col("lbl"), F.coalesce("nbr_lbl", F.col("lbl"))
                ).alias("lbl"),
            )
        labels = cur.localCheckpoint()
        new_sum = labels.agg(F.sum("lbl")).first()[0]
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    # singletons (no incident edge) keep their own id as cluster_id
    return all_ids.join(labels, "nid", "left_outer").select(
        F.col("nid").alias(id_col),
        F.coalesce("lbl", F.col("nid")).alias("cluster_id"),
    )


def _cc_small_graph(
    edges: DataFrame, all_ids: DataFrame, id_col: str
) -> DataFrame:
    """Driver union-find over a bounded edge list; returns the same
    (id, cluster_id) frame the iterative loop produces. Union-by-min
    keeps every root the minimum id of its component, matching the
    loop's min-label fixpoint exactly."""
    import pandas as pd

    spark = edges.sparkSession
    half = (
        edges.filter(F.col("src") < F.col("dst"))
        .join(all_ids.select(F.col("nid").alias("src")), "src", "left_semi")
        .join(all_ids.select(F.col("nid").alias("dst")), "dst", "left_semi")
        .toPandas()
    )
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    # .tolist() converts numpy scalars to plain Python values, so the
    # union-find is type-generic (long or string ids)
    for s, d in zip(half["src"].tolist(), half["dst"].tolist()):
        if s not in parent:
            parent[s] = s
        if d not in parent:
            parent[d] = d
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[max(rs, rd)] = min(rs, rd)

    id_type = dict(all_ids.dtypes)["nid"]
    if parent:
        lbl = pd.DataFrame(
            {
                "nid": list(parent.keys()),
                "lbl": [find(v) for v in parent.keys()],
            }
        )
        labels = spark.createDataFrame(lbl, f"nid {id_type}, lbl {id_type}")
    else:
        labels = spark.createDataFrame([], f"nid {id_type}, lbl {id_type}")
    return all_ids.join(F.broadcast(labels), "nid", "left_outer").select(
        F.col("nid").alias(id_col),
        F.coalesce("lbl", F.col("nid")).alias("cluster_id"),
    )


def edit1_pairs(
    df: DataFrame,
    id_col: str = "id",
    text_col: str = "name",
    max_variant_freq: int | None = 1_000,
    log_dropped: bool = False,
) -> DataFrame:
    """All pairs within Levenshtein distance 1, by deletion-
    neighborhood blocking (FastSS): every string explodes to itself
    plus its |s| single-character deletions; two strings at edit
    distance <= 1 ALWAYS share a variant (delete the edited position
    — or nothing — on each side), so an equi-join on the variant
    finds every true pair plus a distance-2 tail (one deletion from
    each side), which the exact levenshtein verify removes.

    Scale shape: data volume |corpus| x (len+1) — linear, one hash
    shuffle on the variant key, never a quadratic block. This is the
    classic approximate-string-join that an edit-predicate theta
    join (a.name ~ b.name) cannot express scalably. Output:
    id1 < id2, dist <= 1 exact.

    ``max_variant_freq`` caps posting-list length, the same df-cut
    jaccard_pairs applies to its shingle index: a variant shared by
    more than that many rows (thousands of records with one hot name,
    or one-character names whose deletion neighborhood collapses to
    "") would make the variant self-join quadratic in that key's
    frequency. Such variants are dropped from BOTH join sides before
    the join; output completeness is lost only for pairs whose every
    shared variant is that hot — i.e. the cut trades the enumeration
    of O(freq^2) hot-name pairs (an output-size problem no algorithm
    avoids) for a linear bound. ``log_dropped=True`` eagerly counts
    and logs the dropped variants."""
    n = df.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("name")
    )
    # The variant table feeds THREE consumers — the hot-variant
    # count and both self-join sides. Shuffle it onto the join key
    # ONCE before the pin: the pinned checkpoint keeps the
    # var-partitioning visible (operators/skew.pinned_checkpoint), so
    # the self-join runs co-partitioned with zero further exchange
    # and the hot count map-side-combines on already-clustered keys —
    # one full-variant-table exchange instead of two plus the agg's.
    v = pinned_checkpoint(
        n.select(
            "id",
            "name",
            F.explode(F.sequence(F.lit(0), F.length("name"))).alias("i"),
        )
        .select(
            "id",
            "name",
            "i",
            F.when(F.col("i") == 0, F.col("name"))
            .otherwise(
                F.expr("concat(substr(name, 1, i - 1), substr(name, i + 1))")
            )
            .alias("var"),
        )
        # width from spark.sql.shuffle.partitions, the engine-wide
        # convention (every other pinned repartition sizes off it):
        # defaultParallelism happens to match on local[N] but diverges
        # on a real cluster, and a mismatched pin would force the
        # self-join to re-exchange at session width anyway
        .repartition(shuffle_width(df.sparkSession), "var")
    )
    if max_variant_freq is not None:
        hot = (
            v.groupBy("var")
            .agg(F.count(F.lit(1)).alias("vf"))
            .filter(F.col("vf") > max_variant_freq)
            .select("var")
        )
        if log_dropped:
            import logging

            logging.getLogger(__name__).info(
                "edit1_pairs: dropping %d variants with freq > %d",
                hot.count(),
                max_variant_freq,
            )
        # hot set is tiny by construction -> broadcast anti-join, no
        # extra shuffle of the variant table
        v = v.join(F.broadcast(hot), "var", "left_anti")
    a = v.select(
        F.col("id").alias("id1"),
        F.col("name").alias("n1"),
        F.col("i").alias("i1"),
        "var",
    )
    b = v.select(
        F.col("id").alias("id2"),
        F.col("name").alias("n2"),
        F.col("i").alias("i2"),
        "var",
    )
    # position-aware refinement (PassJoin-style): a true dist<=1 pair
    # always shares a variant with ALIGNED deletions — identical names
    # share the identity (0,0); a substitution at p shares the
    # (p, p) deletions; an insert/delete shares (0, p). Conversely any
    # aligned-share IS a true pair, so the i-condition (streamed
    # through the hash join, nothing materialized) deletes the entire
    # distance-2 candidate tail before the pair shuffle — the verify
    # below is then a guarantee, not a workload.
    pairs = (
        a.join(b, "var")
        .filter(
            (F.col("id1") < F.col("id2"))
            & (
                (F.col("i1") == F.col("i2"))
                | (F.col("i1") == 0)
                | (F.col("i2") == 0)
            )
        )
        .select("id1", "n1", "id2", "n2")
        .distinct()
    )
    return pairs.select(
        "id1",
        "id2",
        F.levenshtein("n1", "n2").alias("dist"),
    ).filter(F.col("dist") <= 1)


def embedding_neardup_lsh(
    emb: DataFrame,
    planes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
) -> DataFrame:
    """Scale path: hyperplane-LSH bucket the vectors, compare only
    within buckets (plus exact cosine verification). Linear shuffle
    in |vectors|; recall governed by the plane count (P(collide) =
    (1 - theta/pi)^k for angle theta).

    Sign bits are invariant under positive scaling, so bucketing runs
    on the RAW vectors — no per-row normalization pass — and the
    within-bucket pair scoring is one Arrow-batched matmul per bucket
    (cosine_pairs_in_groups): the interpreted higher-order
    normalize-then-dot formulation evaluated the 64-element lambda per
    candidate pair and was ~20x slower."""
    from .similarity import cosine_pairs_in_groups, lsh_bucket_assignments

    b = lsh_bucket_assignments(emb, planes, id_col=id_col, vec_col=vec_col)
    return cosine_pairs_in_groups(
        b, ["bucket"], id_col=id_col, vec_col=vec_col, threshold=threshold
    )


def embedding_incremental_neardup(
    new_emb: DataFrame,
    history_emb: DataFrame,
    planes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    broadcast_new: bool = True,
) -> DataFrame:
    """Embedding-space incremental near-dup dedup: from a NEW batch
    of vectors, the ids with no history vector above ``threshold``
    cosine — the third member of the incremental-dedup family (exact
    fingerprints: corpus.incremental_dedup; text MinHash:
    incremental_minhash_dedup). Candidates come from a hyperplane-LSH
    bucket equi-join of the small new side against the history's
    bucket assignment (the artifact a deployment maintains alongside
    the vectors), verified by exact cosine — only cross-side
    candidate pairs are ever scored, never all-pairs, and the history
    is never shuffled when ``broadcast_new`` holds (the incremental
    contract: an arriving batch is ingestion-cadence-bounded).

    Zero vectors can never match (cosine undefined); they are
    excluded from candidate generation on both sides and therefore
    always kept. Within-batch near-dups are retained by design (see
    incremental_minhash_dedup). Returns the keeper ids."""
    from .similarity import (
        _dim_of,
        _dotq_cols,
        _vq,
        lsh_bucket_assignments,
    )

    def _live(df):
        self_dot = F.aggregate(
            F.col(vec_col),
            F.lit(0.0),
            lambda a, x: a + x.cast("double") * x,
        )
        return df.filter(self_dot > 0)

    # quantize + norm ONCE per row per side; the per-candidate work
    # is then a single codegen'd folded dot (exact integer-micro
    # values — bit-stable vs any SQL oracle; a float-dot threshold
    # can flip cross-engine at ulp distance from the boundary)
    dim = _dim_of(new_emb, vec_col)
    # norm folded over the RAW vector (codegen'd, CSE-deduped ROUNDs)
    # — referencing the interpreted __q transform would inline it
    # into all `dim` element_at terms
    _t = [
        f"ROUND(element_at({vec_col}, {i}) * 1000000.0D, 0)"
        for i in range(1, dim + 1)
    ]
    nq_expr = F.sqrt(F.expr(" + ".join(["0.0D"] + [f"{t} * {t}" for t in _t])))
    nb = (
        lsh_bucket_assignments(
            _live(new_emb), planes, id_col=id_col, vec_col=vec_col
        )
        .withColumn("__q", _vq(vec_col))
        .select(
            F.col(id_col).alias("__nid"),
            F.col("__q").alias("__nq_v"),
            nq_expr.alias("__nq_n"),
            "bucket",
        )
        # materialize: without a boundary Catalyst inlines the __q
        # transform into all `dim` element_at terms of the pair dot
        # (64x re-evaluation per row — the projection-collapse trap)
        .localCheckpoint(eager=False)
    )
    # single-partition trap (one-file parquet => one task): the
    # corpus-side per-row quantize/bucket expressions must run wide
    n_part = shuffle_width(history_emb.sparkSession)
    hb = (
        lsh_bucket_assignments(
            _live(history_emb).repartition(n_part),
            planes, id_col=id_col, vec_col=vec_col,
        )
        .withColumn("__q", _vq(vec_col))
        .select(
            F.col("__q").alias("__hq_v"),
            nq_expr.alias("__hq_n"),
            "bucket",
        )
        .localCheckpoint(eager=False)  # see nb's projection-collapse note
    )
    if broadcast_new:
        nb = F.broadcast(nb)
    matched = (
        nb.join(hb, "bucket")
        .filter(
            _dotq_cols("__nq_v", "__hq_v", dim)
            / (F.col("__nq_n") * F.col("__hq_n"))
            >= threshold
        )
        .select(F.col("__nid").alias(id_col))
        .distinct()
    )
    if broadcast_new:
        matched = F.broadcast(matched)
    return new_emb.select(id_col).distinct().join(
        matched, id_col, "left_anti"
    )


def blocked_hamming_pairs(
    sig: DataFrame,
    id_col: str = "id",
    hash_col: str = "h64",
    max_hamming: int = 8,
    n_blocks: int = 4,
) -> DataFrame:
    """Generic near-dup pairing for ANY 64-bit similarity hash
    (simhash, image pHash, audio fingerprint): the same pigeonhole
    block-LSH as simhash_pairs — split the hash into ``n_blocks``
    equal bit blocks, candidates share at least one block (guaranteed
    complete for hamming < n_blocks; wider radii still verified after
    the join, only recall of the candidate step degrades), exact
    bit_count verify after. Shuffles on (block, key) only — never a
    cross product; hub-sized buckets mean near-identical payload
    floods, the caller's dedup problem itself."""
    width = 64 // n_blocks
    mask = (1 << width) - 1
    blocks = sig.select(
        F.col(id_col).alias("id"),
        F.col(hash_col).alias("h"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("blk"),
                    F.shiftrightunsigned(F.col(hash_col), i * width)
                    .bitwiseAND(F.lit(mask))
                    .alias("key"),
                )
                for i in range(n_blocks)
            ])
        ).alias("b"),
    ).select("id", "h", "b.blk", "b.key")
    cands = (
        blocks.alias("x")
        .join(blocks.alias("y"), on=["blk", "key"])
        .filter(F.col("x.id") < F.col("y.id"))
        .select(
            F.col("x.id").alias("id1"),
            F.col("y.id").alias("id2"),
            F.col("x.h").alias("h1"),
            F.col("y.h").alias("h2"),
        )
        .distinct()
    )
    return (
        cands.withColumn("hamming", hamming64(F.col("h1"), F.col("h2")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id1", "id2", "hamming")
    )


def allpairs_jaccard_prefix(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold_num: int = 1,
    threshold_den: int = 2,
) -> DataFrame:
    """EXACT all-pairs Jaccard >= t join with PREFIX FILTERING
    (Bayardo, Ma & Srikant 2007, "Scaling Up All Pairs Similarity
    Search") — the sharper pruning alternative to jaccard_pairs'
    df-cut: instead of indexing every shingle (or dropping only
    stop-phrases), each document indexes ONLY its prefix of
    p = n - ceil(t*n) + 1 shingles under a global canonical order.
    Soundness: Jaccard(x, y) >= t implies |x ∩ y| >= ceil(t*|x|)
    (because |x ∪ y| >= |x|), so if x shared NO prefix shingle with
    y, all overlap would sit in x's suffix of ceil(t*|x|) - 1 <
    ceil(t*|x|) shingles — contradiction; symmetrically for y, so
    every qualifying pair collides prefix-to-prefix. Candidates then
    VERIFY against the full sets, making the result exactly the
    brute-force join (the gate oracle IS brute force).

    The canonical order is (document frequency asc, shingle) —
    rarest-first puts the least-colliding shingles in the prefix,
    the standard AP-SS choice; at t = 1/2 the index halves and the
    candidate join touches only rare-token collisions. The order
    affects only WHICH candidates form, never the verified result.

    t is the exact rational threshold_num/threshold_den; the
    qualifying test is cross-multiplied integers
    (c * den >= num * (n1 + n2 - c)) — no float boundary.

    Scale shape: shingle explode (one pass, checkpointed once for
    its three consumers), one df aggregate, one per-doc window rank
    (partitioned by doc — no global sort), prefix-prefix equi-join
    on the shingle key, and a candidates-bounded verify join.
    Returns (id1, id2, jaccard)."""
    from pyspark.sql import Window

    num, den = threshold_num, threshold_den
    sh = _shingle_sets(df, id_col, text_col, k).localCheckpoint(eager=False)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    dfreq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("dfr"))
    w = Window.partitionBy("id").orderBy("dfr", "sh")
    ranked = (
        sh.join(dfreq, "sh")
        .join(sizes, "id")
        .withColumn("rnk", F.row_number().over(w))
    )
    prefix = ranked.filter(
        F.col("rnk")
        <= F.col("n") - F.expr(f"(n * {num} + {den} - 1) DIV {den}") + 1
    ).select("id", "sh", "dfr", "rnk", "n")

    # candidate pairs with the PPJoin-style POSITIONAL filter (Xiao
    # et al. 2008): per pair, take the collision FIRST in the
    # canonical (dfr, sh) order — no shared shingle can precede it in
    # EITHER doc (an earlier shared one would sit inside both
    # prefixes and be an earlier collision), so
    # overlap <= 1 + min(n1 - r1, n2 - r2). Jaccard >= num/den needs
    # overlap >= alpha = ceil(num * (n1 + n2) / (num + den)); pairs
    # whose bound can't reach alpha never enter the verify join —
    # this is what keeps a single random rare-shingle collision from
    # costing a verification.
    coll = (
        prefix.alias("a")
        .join(prefix.alias("b"), on="sh")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id1"),
            F.col("b.id").alias("id2"),
            F.struct(
                F.col("a.dfr").alias("dfr"),
                F.col("sh").alias("sh"),
                F.col("a.rnk").alias("r1"),
                F.col("b.rnk").alias("r2"),
            ).alias("o"),
            F.col("a.n").alias("n1"),
            F.col("b.n").alias("n2"),
        )
    )
    cand = (
        coll.groupBy("id1", "id2")
        .agg(
            F.min("o").alias("first"),
            F.first("n1").alias("n1"),
            F.first("n2").alias("n2"),
        )
        .filter(
            F.lit(1)
            + F.least(
                F.col("n1") - F.col("first.r1"),
                F.col("n2") - F.col("first.r2"),
            )
            >= F.expr(
                f"(({num}) * (n1 + n2) + {num + den} - 1) DIV {num + den}"
            )
        )
        .select("id1", "id2", "n1", "n2")
    )

    # verify against FULL sets as one row per candidate via
    # array_intersect (JVM set semantics) — the earlier row-fan
    # verify (candidates x set size exploded rows) was the
    # superlinear term tools/scale_smoke caught at 50k docs
    arrs = sh.groupBy("id").agg(F.collect_list("sh").alias("arr"))
    a1 = arrs.select(F.col("id").alias("id1"), F.col("arr").alias("arr1"))
    a2 = arrs.select(F.col("id").alias("id2"), F.col("arr").alias("arr2"))
    return (
        cand.join(a1, "id1")
        .join(a2, "id2")
        .withColumn(
            "c", F.size(F.array_intersect("arr1", "arr2")).cast("long")
        )
        .filter(F.expr(f"c * {den} >= {num} * (n1 + n2 - c)"))
        .select(
            "id1",
            "id2",
            F.round(F.col("c") / (F.col("n1") + F.col("n2") - F.col("c")), 6)
            .alias("jaccard"),
        )
    )


def snm_pairs(
    df: DataFrame,
    id_col: str = "id",
    text_col: str = "name",
    window: int = 4,
    max_dist: int = 1,
) -> DataFrame:
    """Sorted-neighborhood blocking for entity resolution (Hernández
    & Stolfo 1995, the merge/purge method): sort records by a
    normalized key, compare each record only to the ``window - 1``
    records after it in sort order, keep pairs within edit distance
    ``max_dist``. The sort-based complement of edit1_pairs'
    deletion-neighborhood hash blocking — catches prefix-preserving
    typos and near-sorted-key duplicates with one sort instead of a
    variant explode. Candidate recall is BY CONTRACT bounded to the
    window (records whose keys sort far apart are never compared) —
    the standard SNM trade; the output semantics ("window-adjacent
    pairs within distance d") are deterministic and exactly
    oracle-replayable.

    Scale shape: one global numbering in sort order via
    windows.global_row_number (range-partitioned rank + offsets —
    NEVER the single-task empty-PARTITION-BY window), then the
    neighborhood join as a pure EQUI-join: each left row explodes to
    its window - 1 target rids and joins b.rid — no range join, no
    BNLJ, linear in rows x window. Verify is exact levenshtein on
    the candidate pair.

    Returns (id1, id2, dist) with id1 < id2."""
    from .windows import global_row_number

    base = df.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("name")
    ).withColumn("key", F.lower(F.col("name")))
    r = global_row_number(base, ["key", "id"], out_col="rid")
    left = r.select(
        F.col("id").alias("la"),
        F.col("name").alias("na"),
        F.explode(
            F.array(*[F.col("rid") + k for k in range(1, window)])
        ).alias("rid"),
    )
    cand = left.join(
        r.select("rid", F.col("id").alias("lb"), F.col("name").alias("nb")),
        "rid",
    )
    return (
        cand.withColumn("dist", F.levenshtein("na", "nb"))
        .filter(F.col("dist") <= max_dist)
        .select(
            F.least("la", "lb").alias("id1"),
            F.greatest("la", "lb").alias("id2"),
            F.col("dist").cast("int").alias("dist"),
        )
    )


def suffix_lcp_longest_dup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_span: int = 30,
    min_len: int = 4,
) -> DataFrame:
    """Longest token span of each document that also appears in a
    DIFFERENT document — the suffix-array / LCP formulation of
    longest-match dedup (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better"), as DataFrame ops:

      1. every token position becomes a suffix, truncated to
         ``max_span`` tokens (the span cap: longer shared spans
         report as max_span — the published recipes threshold at a
         fixed length anyway, and the cap bounds the blow-up to
         O(max_span x corpus) instead of quadratic);
      2. suffixes get a GLOBAL rank in lexicographic order via
         windows.global_row_number (range exchange + per-partition
         rank + broadcast offsets — suffix-ARRAY construction is a
         distributed sort, never a single-partition window). The
         space-joined sort key equals token-sequence order because
         ' ' sorts below every normalized token character;
      3. adjacent-suffix LCPs in token counts via one rid = rid+1
         equi-join (zip_with null-safe compare + array_position:
         exact, engine-portable);
      4. per suffix, the LCP to the nearest OTHER-document suffix
         above/below = the running min of adjacent LCPs through the
         end of its same-doc run (suffix-array property: LCP of any
         two suffixes is the min of adjacent LCPs between them).
         Same-doc runs are gaps-and-islands (rid - per-doc rank, no
         global scan), and both directed running mins are windows
         PARTITIONED by the island — islands are at most one
         document long, so no window sees unbounded data;
      5. the per-doc max is the answer; among maximal suffixes the
         lexicographically smallest span string is reported.

    All arithmetic is token counts (integers); the only strings
    compared are the deterministic normalized tokens — the whole
    pipeline is strict-oracle replayable and partition-count
    deterministic (ties in the sort key carry (id, pos) tie-breaks).

    Returns (id_col, dup_len, span) for docs with dup_len >=
    ``min_len``, ordered by id."""
    from .skew import widen_narrow_source

    # widen BEFORE the suffix explosion: a compact source (one parquet
    # row group at bench scale) scans as one task, and the explosion
    # multiplies rows ~tokens-per-doc-fold — the dearest place in the
    # whole pipeline to be single-threaded. The range exchange right
    # after pays no extra for this (it reshuffles regardless); the
    # widen shuffles pre-explosion doc rows, the guide's "project
    # before the exchange" shape. Probe-free: the downstream range
    # exchange is unconditional, so a no-op widen at real scale costs
    # one narrow doc-level shuffle, not a planning probe per call.
    # bounded-span pre-filter: a suffix shorter than ``min_len``
    # can never be reported (its best LCP <= its length < min_len)
    # and cannot change any surviving value >= min_len either — the
    # LCP through it is capped by its length, and removing entries
    # from a sorted suffix array leaves every other pairwise LCP
    # exact (the adjacent-min chain property step 4 relies on). So
    # docs under min_len tokens drop BEFORE the explosion and each
    # surviving doc explodes min_len-1 fewer suffixes; the oracle
    # pairing is unchanged (verified). sequence() stays ascending
    # because the size filter guarantees stop >= 1.
    toks = widen_narrow_source(
        df.select(
            F.col(id_col).alias("__id"), T.tokens(text_col).alias("__toks")
        ).filter(F.size("__toks") >= max(int(min_len), 1)),
        "__id",
        probe=False,
    )
    # suffixes as SPACE-JOINED STRINGS ONLY: the token-array form
    # (`slice(__toks, pos, W)`) is exactly recoverable as
    # split(__sk, ' ') — tokens are split(normalized, ' ') so they
    # never contain a space — and carrying both the array and the
    # string through the range exchange + checkpoint + three rid
    # joins triples the shuffled bytes of the heaviest exchanges
    # (measured 11 s -> see OPTIMIZATION_r14.md). The array is
    # re-derived AFTER the joins, just for the LCP arithmetic.
    suf = toks.select(
        "__id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, size(__toks) - {max(int(min_len), 1) - 1}),"
                f" i -> array_join(slice(__toks, i, {max_span}), ' '))"
            )
        ).alias("__pos0", "__sk"),
    ).select("__id", (F.col("__pos0") + 1).alias("__pos"), "__sk")
    from .windows import global_row_number

    ranked = global_row_number(
        suf, ["__sk", "__id", "__pos"], out_col="__rid"
    ).select("__id", "__pos", "__sk", "__rid")
    # adjacent LCPs both ways in ONE 3-way co-partitioned join:
    # a(rid) = lcp(s[rid], s[rid-1]) and — because LCP is symmetric
    # — b(rid) = a(rid+1) = lcp(s[rid], s[rid+1]) computed directly
    # against the shifted-down copy (shifting the DERIVED a-frame
    # instead would re-run the whole adjacent pipeline: one extra
    # SMJ + rid exchange in the physical plan). Both joins key on
    # __rid, so the second SMJ reuses the first's partitioning.
    prev = ranked.select(
        (F.col("__rid") + 1).alias("__rid"),
        F.col("__sk").alias("__psk"),
    )
    nxt = ranked.select(
        (F.col("__rid") - 1).alias("__rid"),
        F.col("__sk").alias("__nsk"),
    )

    def _lcp(other: str) -> Column:
        mism = F.expr(
            f"array_position(zip_with(__s, {other}, (x, y) -> x <=> y),"
            " false)"
        )
        # -1 = "no neighbor on this side" (global first/last row):
        # the sentinel survives running MIN, unlike a NULL that
        # F.min would skip
        return F.when(F.col(other).isNull(), F.lit(-1)).otherwise(
            F.when(
                mism == 0,
                F.least(F.size("__s"), F.size(other)).cast("long"),
            ).otherwise((mism - 1).cast("long"))
        )

    both = (
        ranked.join(prev, "__rid", "left")
        .join(nxt, "__rid", "left")
        # token arrays re-derived from the joined strings ONLY here,
        # post-shuffle, computed once per row: split is the exact
        # inverse of the ' ' join (tokens never contain a space)
        .withColumn("__s", F.split("__sk", " "))
        .withColumn("__ps", F.split("__psk", " "))
        .withColumn("__ns", F.split("__nsk", " "))
        .select(
            "__id",
            "__pos",
            "__sk",
            "__rid",
            _lcp("__ps").alias("__a"),
            _lcp("__ns").alias("__b"),
        )
    )
    # same-doc islands over the global order (consecutive-run key)
    wdoc = Window.partitionBy("__id").orderBy("__rid")
    isl = both.withColumn(
        "__isl", F.col("__rid") - F.row_number().over(wdoc)
    )
    wb = (
        Window.partitionBy("__id", "__isl")
        .orderBy("__rid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("__id", "__isl")
        .orderBy(F.col("__rid").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    best = isl.select(
        "__id",
        "__sk",
        F.greatest(F.min("__a").over(wb), F.min("__b").over(wf)).alias(
            "__best"
        ),
    )
    wmax = Window.partitionBy("__id")
    out = (
        best.withColumn("__dup", F.max("__best").over(wmax))
        .filter(
            (F.col("__best") == F.col("__dup"))
            & (F.col("__dup") >= min_len)
        )
        .groupBy("__id", "__dup")
        .agg(
            F.min(
                F.expr(
                    "array_join(slice(split(__sk, ' '), 1, __dup), ' ')"
                )
            ).alias("span")
        )
        .select(
            F.col("__id").alias(id_col),
            F.col("__dup").cast("int").alias("dup_len"),
            "span",
        )
        .orderBy(id_col)
    )
    return out


# --- True sliding-window winnowing (Schleimer, Wilkerson & Aiken
#     2003, the MOSS fingerprinter) -------------------------------

_WINNOW_POS_CAP = 32767  # pos packs into 15 bits next to the 48-bit hash


def winnow_fingerprints(
    df: DataFrame,
    k: int = 8,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """TRUE sliding-window winnowing (Schleimer, Wilkerson & Aiken
    2003 §4): hash every k-char gram of the normalized text, then in
    EVERY window of w consecutive gram hashes select the minimum,
    ties to the RIGHTMOST position — the guarantee the banded
    simplification (functions/text.winnow) lacks: any shared
    substring of length >= k + w - 1 yields at least one shared
    fingerprint, and fingerprint density is bounded by 2/(w+1).

    The rightmost-min rule is ONE plain ``min()`` window aggregate in
    any engine via key packing: the gram hash is the first 48 bits of
    md5 (portable hex-parse idiom) and

        key = h * 32768 + (32767 - pos)

    fits BIGINT exactly (48 + 15 = 63 bits); minimizing the key
    minimizes h with ties to the LARGEST pos. Texts are capped at
    ``_WINNOW_POS_CAP`` grams by a fail-fast raise_error guard (the
    pack would alias beyond it — loud, not silent).

    Shape: one explode to gram rows (sequence+transform, no UDF), one
    ROWS-frame window min per doc ordered by pos (full windows only),
    one distinct. At 100 TB the gram explosion is the cost — k-gram
    rows ~ chars — and partitioning is by document, so the window
    never shuffles beyond the doc key.

    Returns (id, fp BIGINT, pos INT) — the selected fingerprints."""
    # normalize ONCE into a real column before the gram transform:
    # embedding the normalize() expression inside the lambda makes
    # codegen re-evaluate the regexp per array element (~n_grams x
    # per doc) — measured 22 s -> ~4 s at sf0.1 for this stage when
    # the column is materialized first (the cdc_chunks shape)
    n_part = shuffle_width(df.sparkSession)
    # repartition by doc BEFORE the gram explosion: a compact input
    # (one parquet file at small sf) would otherwise run the whole
    # explode+hash stage on one task, and the selection window needs
    # id-hash partitioning anyway — this shuffle moves the SHORT
    # normalized texts once and parallelizes everything downstream
    # while satisfying the window's distribution (no second shuffle)
    nd = (
        df.select(
            F.col(id_col).alias("id"),
            T.normalize(text_col).alias("t"),
        )
        .repartition(n_part, "id")
        .select("id", "t", F.length("t").alias("n"))
    )
    grams = nd.select(
        "id",
        "n",
        F.posexplode(
            F.when(
                F.col("n") < F.lit(k), F.array().cast("array<string>")
            ).otherwise(
                F.transform(
                    F.sequence(F.lit(1), F.col("n") - F.lit(k) + 1),
                    lambda i: F.substr(F.col("t"), i, F.lit(k)),
                )
            )
        ).alias("pos0", "g"),
    ).select(
        "id",
        "n",
        (F.col("pos0") + 1).alias("pos"),
        F.expr(
            "cast(conv(substr(md5(g), 1, 12), 16, 10) as bigint)"
        ).alias("h"),
    )
    guard = F.expr(
        f"CASE WHEN pos <= {_WINNOW_POS_CAP} THEN CAST(0 AS LONG) "
        f"ELSE CAST(raise_error('winnow_fingerprints: text exceeds "
        f"{_WINNOW_POS_CAP} grams (pos pack would alias)') AS LONG) "
        "END"
    )
    keyed = grams.select(
        "id",
        "n",
        "pos",
        (
            F.col("h") * F.lit(32768)
            + (F.lit(_WINNOW_POS_CAP) - F.col("pos"))
            + guard
        ).alias("key"),
    )
    win = (
        Window.partitionBy("id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, w - 1)
    )
    sel = (
        keyed.withColumn("wmin", F.min("key").over(win))
        # full windows only (the paper's definition): the gram count
        # is n - k + 1 from the carried length column, so the filter
        # needs NO second (unbounded max-pos) window pass — measured
        # ~2x on the extraction stage at sf0.1
        .filter(F.col("pos") <= F.col("n") - F.lit(k + w) + 2)
        .select("id", F.col("wmin").alias("key"))
        .distinct()
    )
    return sel.select(
        "id",
        F.expr("key DIV 32768").alias("fp"),
        (F.lit(_WINNOW_POS_CAP) - F.pmod(F.col("key"), F.lit(32768)))
        .cast("int")
        .alias("pos"),
    )


def winnow_match_pairs(
    df: DataFrame,
    k: int = 8,
    w: int = 4,
    min_shared: int = 2,
    max_df: int = 50,
    topk: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document containment candidates by shared winnowing
    fingerprints — the MOSS match step: docs sharing >= ``min_shared``
    selected fingerprint HASHES (positions dropped for matching, as
    the paper prescribes) ranked by shared count, ties (a, b).

    ``max_df`` drops fingerprints appearing in more than that many
    docs before the pair join — the posting-list df-cut every dedup
    family member applies (a ubiquitous boilerplate gram pairs
    everyone with everyone; its evidentiary value is nil and its
    join fan-out quadratic). Deterministic, so the strict oracle
    applies the same cut.

    Returns (doc_a, doc_b, n_shared, rn) — the topk best pairs."""
    fps = winnow_fingerprints(
        df, k=k, w=w, id_col=id_col, text_col=text_col
    )
    return winnow_pairs_from_fps(
        fps, min_shared=min_shared, max_df=max_df, topk=topk
    )


def winnow_pairs_from_fps(
    fps: DataFrame,
    min_shared: int = 2,
    max_df: int = 50,
    topk: int = 20,
) -> DataFrame:
    """The match step of winnow_match_pairs over an (id, fp) frame —
    factored out because fingerprint extraction is PER-DOCUMENT and
    therefore union-mergeable: the streaming ingestion twin
    (streaming/foreach_batch.stream_winnow_fingerprints) extracts per
    micro-batch and unions stores, then runs this identical tail, so
    both twins share one oracle verbatim."""
    # materialize the distinct fingerprint set ONCE: it feeds the
    # df-cut aggregate and BOTH self-join sides, and the static plan
    # otherwise carries the full upstream extraction (gram explode +
    # selection window) four times — exchange reuse dedupes the
    # shuffle but the post-exchange explode/window compute re-ran
    # per branch (plans/r14/winnow_match_pairs_docs_before.txt: four
    # Scan parquet -> Generate -> Window chains)
    fps = fps.select("id", "fp").distinct().localCheckpoint(eager=False)
    df_cut = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= F.lit(int(max_df)))
        .select("fp")
    )
    kept = fps.join(df_cut, "fp")
    pairs = (
        kept.alias("x")
        .join(
            kept.alias("y"),
            (F.col("x.fp") == F.col("y.fp"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .groupBy(
            F.col("x.id").alias("doc_a"), F.col("y.id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= F.lit(int(min_shared)))
    )
    rank = Window.orderBy(
        F.col("n_shared").desc(), F.col("doc_a"), F.col("doc_b")
    )
    return (
        pairs.withColumn("rn", F.row_number().over(rank))
        .filter(F.col("rn") <= F.lit(int(topk)))
        .select("doc_a", "doc_b", "n_shared", "rn")
    )
