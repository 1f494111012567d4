"""foreachBatch incremental-upsert sink (SURVEY §7 step 8).

The reference's sink is an ``INSERT ... ON DUPLICATE KEY UPDATE``
batch plus a status flip inside one transaction per flight
(FlightAnalysis.py:22-30, 428-433). The streaming analog: an
update-mode windowed aggregation whose changed rows are MERGEd into
the bucketed parquet table (sinks.upsert) once per micro-batch —
each trigger rewrites only the buckets its keys touch, and replaying
a micro-batch is idempotent (same keys -> same replacement), which is
exactly the restart contract the reference's work-queue flag gives it.

Update mode (not append) is what makes the sink incremental: a window
is re-emitted every time a late event revises it, and the upsert
replaces the stale row — the final table converges to the batch
answer without waiting for watermark closure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import sinks


def stream_upsert(
    agg: DataFrame,
    path: str,
    keys: list[str],
    checkpoint_dir: str,
    query_name: str = "stream_upsert",
    n_buckets: int = 8,
):
    """Run an update-mode aggregation to completion (availableNow),
    MERGE-ing each micro-batch into the bucketed table at ``path``.

    At cluster scale the same shape runs continuously: checkpointed
    state + idempotent per-batch MERGE = exactly-once table contents
    even across driver restarts (a replayed epoch upserts identical
    rows). batchdf.sparkSession is the micro-batch-local session, as
    required inside foreachBatch."""

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        sinks.upsert(
            batch_df.sparkSession, batch_df, path, keys=keys, n_buckets=n_buckets
        )

    q = (
        agg.writeStream.outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .foreachBatch(_apply)
        .start()
    )
    q.awaitTermination()
    return q


def stream_ivfpq_ingest(
    vectors: DataFrame,
    meta: dict,
    codes_path: str,
    checkpoint_dir: str,
    query_name: str = "ivfpq_ingest",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Continuous ANN-index ingestion: every micro-batch of new
    vectors is encoded against FIXED, already-trained quantizers
    (operators/similarity.ivfpq_encode — a pure map-side projection,
    no training, no shuffle) and lands in the codes store under a
    batch-keyed subdirectory partitioned by coarse cell:

        codes_path/batch=<epoch>/centroid_id=<cell>/part-*.parquet

    This closes the loop between the streaming sink family and the
    persisted ANN index (write_ivfpq_index): the index is trained
    once offline, then kept current by the stream. Idempotence =
    exactly-once contents: a replayed epoch OVERWRITES its own batch
    directory with byte-identical rows (the encode is deterministic
    given the batch), the same restart contract as stream_upsert.
    Readers scan ``codes_path`` with partition discovery — `batch`
    and `centroid_id` both become partition columns, and probe-time
    pruning on centroid_id holds across every batch directory. At
    cluster scale a compaction job periodically folds old batch dirs
    into the base index; probes never stop working while it runs."""
    from ..operators import similarity as S

    coarse, books = meta["coarse"], meta["books"]

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        S.ivfpq_encode(
            batch_df, coarse, books, id_col=id_col, vec_col=vec_col
        ).write.mode("overwrite").partitionBy("centroid_id").parquet(
            f"{codes_path}/batch={epoch_id}"
        )

    q = (
        vectors.writeStream.outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .foreachBatch(_apply)
        .start()
    )
    q.awaitTermination()
    return q


def stream_incremental_dedup(
    docs: DataFrame,
    history_fp_path: str,
    keepers_path: str,
    checkpoint_dir: str,
    query_name: str = "incremental_dedup",
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Incremental exact dedup over a GROWING corpus, as a stream:
    each micro-batch of arriving documents is deduped against the
    union of (a) the pre-existing corpus's fingerprint table at
    ``history_fp_path`` and (b) every PRIOR batch's keepers — then
    its keepers (doc_id, fp) land under a batch-keyed subdirectory:

        keepers_path/batch=<epoch>/part-*.parquet

    This is the piece batch incremental_dedup (operators/corpus.py)
    leaves to the caller at 100 TB: the fingerprint history GROWS as
    batches commit, so a duplicate arriving two micro-batches after
    its original is still dropped, while the corpus body is never
    rescanned — history participates only as 16-byte fingerprints
    (broadcast- or shuffle-joined, bloom-prefilterable).

    Idempotence: a replayed epoch recomputes against history WITHOUT
    its own previous output (the ``batch != epoch_id`` filter) and
    overwrites its own batch directory — byte-identical contents, the
    stream_upsert restart contract. Convergence: after availableNow
    drains an id-monotonic source (earlier files hold smaller ids),
    the union of batch keepers equals the one-shot batch dedup of ALL
    arrivals against the same history — the oracle equality
    tests/test_streaming.py pins."""
    from ..operators import corpus as C
    from ..operators.similarity import _fs_glob

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        hist = spark.read.parquet(history_fp_path).select("fp")
        # Hadoop-FS listing, not os.listdir: on an hdfs://s3a://
        # keepers store a local-FS probe would be silently False and
        # the grown-history dedup would quietly stop deduplicating
        has_prior = bool(_fs_glob(keepers_path, "batch=*", spark))
        if has_prior:
            prior = (
                spark.read.parquet(keepers_path)
                .filter(F.col("batch") != epoch_id)
                .select("fp")
            )
            hist = hist.unionByName(prior)
        C.incremental_dedup(
            batch_df, history_fp=hist, id_col=id_col, text_col=text_col
        ).write.mode("overwrite").parquet(f"{keepers_path}/batch={epoch_id}")

    q = (
        docs.writeStream.outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .foreachBatch(_apply)
        .start()
    )
    q.awaitTermination()
    return q


def stream_incremental_minhash_dedup(
    docs: DataFrame,
    history_sig_path: str,
    keepers_path: str,
    checkpoint_dir: str,
    query_name: str = "incremental_minhash_dedup",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 16,
    verify_threshold: float = 0.05,
    hash_family: str = "xxhash64",
):
    """NEAR-dup incremental dedup over a GROWING corpus, as a stream —
    the MinHash companion of stream_incremental_dedup (exact
    fingerprints). Each micro-batch of arriving documents is
    LSH-deduped (operators/dedup.incremental_minhash_dedup) against
    the union of (a) the corpus's PERSISTED signature table at
    ``history_sig_path`` (minhash_sig_table's layout: id, h0..h{n-1},
    s) and (b) every PRIOR batch's keeper signatures; its keepers
    land WITH their signature columns under:

        keepers_path/batch=<epoch>/part-*.parquet

    so the signature history grows exactly by what survived — a
    near-duplicate arriving two micro-batches after its original is
    dropped, and the corpus text is never rescanned (history
    participates only as the few-hundred-byte-per-doc signature
    rows). Sub-shingle-length keepers carry NULL signatures and are
    excluded from the history side (they can never match anything).

    Idempotence: a replayed epoch recomputes against history WITHOUT
    its own previous output (``batch != epoch_id``) and overwrites
    its own batch directory. Sequential-greedy convergence semantics
    (batch N dedups vs history + keepers of batches < N) are pinned
    against a SQL oracle by the registered catalog query."""
    from ..operators import dedup as D
    from ..operators.similarity import _fs_glob

    sig_cols = [f"h{i}" for i in range(num_hashes)]

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        hist = spark.read.parquet(history_sig_path)
        # Hadoop-FS listing (see stream_incremental_dedup): a remote
        # keepers store must still grow the dedup history
        has_prior = bool(_fs_glob(keepers_path, "batch=*", spark))
        if has_prior:
            prior = (
                spark.read.parquet(keepers_path)
                .filter(F.col("batch") != epoch_id)
                .filter(F.col("s").isNotNull())
                .select(
                    F.col(id_col).alias("id"), *sig_cols, "s"
                )
            )
            hist = hist.unionByName(prior)
        D.incremental_minhash_dedup(
            batch_df,
            history_sig=hist,
            id_col=id_col,
            text_col=text_col,
            k=k,
            num_hashes=num_hashes,
            bands=bands,
            verify_threshold=verify_threshold,
            hash_family=hash_family,
            return_signatures=True,
        ).write.mode("overwrite").parquet(f"{keepers_path}/batch={epoch_id}")

    q = (
        docs.writeStream.outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .foreachBatch(_apply)
        .start()
    )
    q.awaitTermination()
    return q


def stream_incremental_cc(
    edges: DataFrame,
    labels_root: str,
    checkpoint_dir: str,
    query_name: str = "incremental_cc",
    id_col: str = "user_id",
    src_col: str = "u",
    dst_col: str = "v",
):
    """Incremental connected components over a GROWING edge log, as a
    stream: each micro-batch of arriving undirected edges folds into
    a persisted (node, cluster) label store via
    operators/graphs.incremental_connected_components — the graph
    analog of stream_incremental_dedup (fingerprint history) and
    stream_ivfpq_ingest (codes store). Self-loop rows register
    edge-less node arrivals.

    Generation protocol: the store lives at
    ``labels_root/gen-<n>`` where n = epoch_id + 1 and gen-0 is the
    caller-seeded initial labeling (the CC of the pre-stream graph,
    or an empty frame). Each batch reads the HIGHEST generation
    strictly below its own target and overwrites its target dir —
    so a replayed epoch re-reads exactly the pre-epoch state and
    rewrites byte-identical labels (the incremental merge is
    idempotent: already-merged endpoints contract to self-loops).
    Listing is Hadoop-FS (_fs_glob), never os.listdir — the store
    may be s3a/hdfs.

    Convergence contract (pinned in tests/test_streaming.py): after
    availableNow drains the source, the highest generation equals
    the one-shot batch incremental_connected_components over ALL
    arrivals — min-label merging is confluent, so any micro-batch
    split of the edge log lands on the same fixpoint."""
    from ..operators.graphs import incremental_connected_components
    from ..operators.similarity import _fs_glob

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        target = int(epoch_id) + 1
        gens = sorted(
            int(name.split("-", 1)[1])
            for name in _fs_glob(labels_root, "gen-*", spark)
            if name.split("-", 1)[1].isdigit()
        )
        prior_gens = [g for g in gens if g < target]
        if not prior_gens:
            raise ValueError(
                f"stream_incremental_cc: no generation below {target} "
                f"under {labels_root} (found {gens}) — the seed gen-0 "
                "is missing. The label store was wiped while the "
                "checkpoint survived; reseed gen-0 AND clear the "
                "checkpoint so arrivals re-fold."
            )
        prior = max(prior_gens)
        hist = spark.read.parquet(f"{labels_root}/gen-{prior}")
        out = incremental_connected_components(
            hist,
            batch_df,
            id_col=id_col,
            src_col=src_col,
            dst_col=dst_col,
        )
        out.write.mode("overwrite").parquet(f"{labels_root}/gen-{target}")

    q = (
        edges.writeStream.outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .foreachBatch(_apply)
        .start()
    )
    q.awaitTermination()
    return q


def stream_incremental_dsir(
    docs: DataFrame,
    counts_root: str,
    scores_root: str,
    checkpoint_dir: str,
    query_name: str = "incremental_dsir",
    id_col: str = "doc_id",
    text_col: str = "text",
    target_col: str = "_t",
    n_buckets: int = 1024,
):
    """DSIR-style importance weighting over a GROWING corpus, as a
    stream — the INCREMENTAL-STATISTICS member of the foreachBatch
    family (dedup keeps fingerprints, CC keeps labels, IVFPQ keeps
    codes; DSIR keeps the hashed-n-gram COUNT table). Each arriving
    micro-batch of documents:

      1. folds its (bucket, raw count, target count) gram counts into
         the persisted count store — a full-outer sum against the
         prior generation, n_buckets-bounded rows;
      2. scores the ARRIVING docs against the UPDATED counts
         (Laplace-smoothed integer ratio weights, per-gram-average —
         operators/corpus.dsir_importance_select's arithmetic), and
         writes (doc_id, w_avg) to ``scores_root/epoch-<n>``.

    The weighting a doc receives is pinned to the corpus state AT ITS
    ARRIVAL EPOCH (counts through and including its own batch) — the
    contract an unrolled per-batch oracle replays exactly. Same
    generation protocol as stream_incremental_cc: gen-0 is the
    caller-seeded store (empty for a fresh corpus), each epoch reads
    the highest generation strictly below its target and overwrites
    its own target + its own epoch scores, so checkpoint replays are
    byte-identical no-ops. Listing is Hadoop-FS (_fs_glob)."""
    from ..operators.corpus import dsir_gram_buckets
    from ..operators.similarity import _fs_glob

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        target = int(epoch_id) + 1
        gens = sorted(
            int(name.split("-", 1)[1])
            for name in _fs_glob(counts_root, "gen-*", spark)
            if name.split("-", 1)[1].isdigit()
        )
        prior_gens = [g for g in gens if g < target]
        if not prior_gens:
            raise ValueError(
                f"stream_incremental_dsir: no generation below {target} "
                f"under {counts_root} (found {gens}) — the seed gen-0 is "
                "missing. Reseed it AND clear the checkpoint so "
                "arrivals re-fold."
            )
        prior = spark.read.parquet(f"{counts_root}/gen-{max(prior_gens)}")

        feats = dsir_gram_buckets(
            batch_df.select(id_col, text_col, target_col),
            text_col=text_col,
            id_col=id_col,
            n_buckets=n_buckets,
            extra_cols=(target_col,),
        ).localCheckpoint(eager=False)
        batch_counts = feats.groupBy("b").agg(
            F.count(F.lit(1)).alias("r"),
            F.sum(F.when(F.col(target_col), 1).otherwise(0)).alias("t"),
        )
        merged = (
            prior.unionByName(batch_counts)
            .groupBy("b")
            .agg(F.sum("r").alias("r"), F.sum("t").alias("t"))
        ).localCheckpoint(eager=False)
        merged.write.mode("overwrite").parquet(
            f"{counts_root}/gen-{target}"
        )
        weights = merged.select(
            "b",
            F.expr(
                f"((t + 1) * 1000000) DIV (r + {n_buckets})"
            ).alias("w"),
        )
        scores = (
            feats.join(F.broadcast(weights), "b")
            .groupBy(id_col)
            .agg(F.expr("sum(w) DIV count(1)").alias("w_avg"))
        )
        scores.write.mode("overwrite").parquet(
            f"{scores_root}/epoch-{target}"
        )

    q = (
        docs.writeStream.outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .foreachBatch(_apply)
        .start()
    )
    q.awaitTermination()
    return q


def stream_cms(
    docs: DataFrame,
    sketch_root: str,
    checkpoint_dir: str,
    query_name: str = "cms_ingest",
    text_col: str = "text",
    depth: int = 4,
    width: int = 256,
):
    """Count-min sketch maintenance over a streaming corpus: each
    micro-batch's token sketch MERGES into the persisted counter
    matrix by cell-wise sum — the textbook mergeability property
    (CMS(A ∪ B) = CMS(A) + CMS(B), counter by counter), which is why
    the drained store is BIT-IDENTICAL to the sketch built over the
    whole corpus at once, and why the streaming twin can share the
    batch query's strict oracle verbatim. Same generation protocol
    as the other incremental stores (counts/labels/codes): gen-0 is
    the caller-seeded (empty) matrix, each epoch reads the highest
    generation strictly below its target and overwrites its own —
    replays are byte-identical no-ops."""
    from ..functions import text as _T
    from ..operators.mining import cms_build
    from ..operators.similarity import _fs_glob

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        target = int(epoch_id) + 1
        gens = sorted(
            int(name.split("-", 1)[1])
            for name in _fs_glob(sketch_root, "gen-*", spark)
            if name.split("-", 1)[1].isdigit()
        )
        prior_gens = [g for g in gens if g < target]
        if not prior_gens:
            raise ValueError(
                f"stream_cms: no generation below {target} under "
                f"{sketch_root} (found {gens}) — reseed gen-0 AND "
                "clear the checkpoint."
            )
        prior = spark.read.parquet(f"{sketch_root}/gen-{max(prior_gens)}")
        toks = batch_df.select(
            F.explode(_T.tokens(text_col)).alias("token")
        )
        batch_sketch = cms_build(toks, "token", depth, width)
        merged = (
            prior.unionByName(batch_sketch)
            .groupBy("j", "c")
            .agg(F.sum("cnt").alias("cnt"))
        )
        merged.write.mode("overwrite").parquet(
            f"{sketch_root}/gen-{target}"
        )

    q = (
        docs.writeStream.outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .foreachBatch(_apply)
        .start()
    )
    q.awaitTermination()
    return q


def stream_hll(
    rows: DataFrame,
    store_root: str,
    checkpoint_dir: str,
    group_cols: list[str],
    item_col: str,
    query_name: str = "hll_ingest",
):
    """Portable-HLL register maintenance over a stream: each
    micro-batch's per-group register frame MERGES into the persisted
    store by elementwise register MAX — HLL's mergeability property
    (HLL(A ∪ B) = max(HLL(A), HLL(B)) register by register), so the
    drained store is BIT-IDENTICAL to the registers built over the
    whole input at once and the streaming twin shares the batch
    query's strict oracle verbatim (the stream_cms contract applied
    to distinct counting). Same generation protocol as the other
    incremental stores: gen-0 is the caller-seeded (empty) frame,
    each epoch reads the highest generation strictly below its
    target and overwrites its own — replays are byte-identical
    no-ops."""
    from ..operators.mining import hll_registers
    from ..operators.similarity import _fs_glob

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        target = int(epoch_id) + 1
        gens = sorted(
            int(name.split("-", 1)[1])
            for name in _fs_glob(store_root, "gen-*", spark)
            if name.split("-", 1)[1].isdigit()
        )
        prior_gens = [g for g in gens if g < target]
        if not prior_gens:
            raise ValueError(
                f"stream_hll: no generation below {target} under "
                f"{store_root} (found {gens}) — reseed gen-0 AND "
                "clear the checkpoint."
            )
        prior = spark.read.parquet(f"{store_root}/gen-{max(prior_gens)}")
        batch_regs = hll_registers(batch_df, group_cols, item_col)
        merged = (
            prior.unionByName(batch_regs)
            .groupBy(*group_cols, "j")
            .agg(F.max("rho").alias("rho"))
        )
        merged.write.mode("overwrite").parquet(f"{store_root}/gen-{target}")

    q = (
        rows.writeStream.outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .foreachBatch(_apply)
        .start()
    )
    q.awaitTermination()
    return q


def stream_bm25(
    docs: DataFrame,
    store_root: str,
    checkpoint_dir: str,
    query_terms: list[str],
    query_name: str = "bm25_ingest",
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """BM25 index maintenance over a streaming corpus: each
    micro-batch tokenizes its documents once and APPENDS its
    query-term postings (id, term, tf) and document lengths (id, dl)
    to a generation-keyed store — document batches are disjoint, so
    both statistics merge by plain union and the drained store is
    ROW-IDENTICAL to the one-pass build: the third member of the
    CMS-counter / HLL-register mergeable-ingestion family, sharing
    the batch BM25 query's strict oracle verbatim (df, avgdl and
    every score derive from the drained store with the same integer
    arithmetic). Generation protocol as the other stores: gen-0 is
    the caller-seeded empty pair, each epoch reads the highest
    generation strictly below its target and overwrites its own —
    replays are byte-identical no-ops."""
    from ..functions import text as _T
    from ..operators.similarity import _fs_glob

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        target = int(epoch_id) + 1
        gens = sorted(
            int(name.split("-", 1)[1])
            for name in _fs_glob(store_root, "gen-*", spark)
            if name.split("-", 1)[1].isdigit()
        )
        prior_gens = [g for g in gens if g < target]
        if not prior_gens:
            raise ValueError(
                f"stream_bm25: no generation below {target} under "
                f"{store_root} (found {gens}) — reseed gen-0 AND "
                "clear the checkpoint."
            )
        prior = f"{store_root}/gen-{max(prior_gens)}"
        toks = batch_df.select(
            F.col(id_col), F.explode(_T.tokens(text_col)).alias("term")
        ).filter(F.col("term") != "")
        tf = (
            toks.filter(F.col("term").isin(list(query_terms)))
            .groupBy(id_col, "term")
            .agg(F.count(F.lit(1)).alias("tf"))
        )
        dl = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
        out = f"{store_root}/gen-{target}"
        spark.read.parquet(f"{prior}/postings").unionByName(tf).write.mode(
            "overwrite"
        ).parquet(f"{out}/postings")
        spark.read.parquet(f"{prior}/doclen").unionByName(dl).write.mode(
            "overwrite"
        ).parquet(f"{out}/doclen")

    q = (
        docs.writeStream.outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .foreachBatch(_apply)
        .start()
    )
    q.awaitTermination()
    return q


def stream_weighted_sample(
    rows: DataFrame,
    store_root: str,
    checkpoint_dir: str,
    k: int,
    weight_col: str = "w",
    id_col: str = "doc_id",
    salt: str = "es",
    max_weight: int = 64,
    query_name: str = "es_sample_ingest",
):
    """Efraimidis-Spirakis weighted reservoir over a STREAMING
    corpus: each micro-batch computes its rows' integer E-S keys
    (operators/corpus.es_key_sql — the max-of-w md5 coins) and folds
    them into a generation-keyed RUNNING TOP-K candidate store of at
    most k (id, w, es_key) rows. Why the drained store equals the
    one-pass batch sample EXACTLY: for disjoint batches the global
    top-k of the union is the top-k of the per-batch top-ks (any row
    outside its own batch's top-k is beaten by k rows that also ride
    the store), and the keys themselves are pure functions of
    (salt, id, w) — no per-batch randomness to reconcile. So this is
    the A-Res reservoir as a mergeable store, fifth member of the
    CMS / HLL / BM25 / DSIR mergeable-ingestion family, sharing the
    batch query's strict oracle verbatim. Generation protocol as the
    other stores: gen-0 is the caller-seeded empty frame, each epoch
    reads the highest generation strictly below its target and
    overwrites its own — replays are byte-identical no-ops."""
    from ..operators.corpus import es_key_sql
    from ..operators.similarity import _fs_glob

    key = es_key_sql(id_col, weight_col, salt, duck=False)
    guarded = (
        f"CASE WHEN {weight_col} IS NULL OR {weight_col} < 1 "
        f"OR {weight_col} > {max_weight} THEN "
        f"raise_error(concat('stream_weighted_sample: weight out of "
        f"[1, {max_weight}]: ', CAST({weight_col} AS STRING))) "
        f"ELSE {key} END"
    )

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        target = int(epoch_id) + 1
        gens = sorted(
            int(name.split("-", 1)[1])
            for name in _fs_glob(store_root, "gen-*", spark)
            if name.split("-", 1)[1].isdigit()
        )
        prior_gens = [g for g in gens if g < target]
        if not prior_gens:
            raise ValueError(
                f"stream_weighted_sample: no generation below {target} "
                f"under {store_root} (found {gens}) — reseed gen-0 AND "
                "clear the checkpoint."
            )
        prior = spark.read.parquet(f"{store_root}/gen-{max(prior_gens)}")
        keyed = batch_df.select(
            F.col(id_col).cast("long").alias(id_col),
            F.col(weight_col).cast("long").alias(weight_col),
            F.expr(guarded).alias("es_key"),
        )
        # The merge law assumes DISJOINT batches; enforce it rather
        # than assume it (r13 ADVICE): a doc_id replayed across two
        # micro-batches would otherwise occupy two of the k store
        # slots. Keys are pure functions of (salt, id, w), so true
        # replays collapse to identical rows; if the same id ever
        # arrives with a different weight, keep the largest key
        # deterministically (max-struct, weight tiebreak).
        merged = (
            prior.unionByName(keyed)
            .groupBy(id_col)
            .agg(
                F.max(F.struct("es_key", weight_col)).alias("_best")
            )
            .select(
                F.col(id_col),
                F.col(f"_best.{weight_col}").alias(weight_col),
                F.col("_best.es_key").alias("es_key"),
            )
            .orderBy(F.col("es_key").desc(), F.col(id_col))
            .limit(k)
        )
        merged.write.mode("overwrite").parquet(
            f"{store_root}/gen-{target}"
        )

    q = (
        rows.writeStream.outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .foreachBatch(_apply)
        .start()
    )
    q.awaitTermination()
    return q


def stream_incremental_bfs(
    edge_rows: DataFrame,
    edges_root: str,
    store_root: str,
    checkpoint_dir: str,
    seed_sql: str = "node % 11 = 0",
    u: str = "u",
    v: str = "v",
    max_rounds: int = 64,
    query_name: str = "incremental_bfs",
):
    """Incremental multi-source BFS over a GROWING edge log — the
    batch/streaming twin for the graph-traversal tier (the
    incremental-CC pattern applied to min-plus distances): each
    micro-batch of undirected (u, v) edges lands in a batch-keyed
    edge store, and a generation-keyed DISTANCE STORE of (node, hop)
    rows is advanced by FRONTIER-BASED relaxation until fixpoint.

    Why the drained store equals from-scratch BFS over the union of
    all edges EXACTLY (the insert-only shortest-path lemma): edges
    only ever ARRIVE, so prior distances remain valid UPPER bounds
    on the new graph; min-plus relaxation from any valid upper bound
    converges to the true fixpoint; and relaxing only the FRONTIER
    (nodes whose distance just improved) is complete because any
    further improvement must propagate through an improved node.
    Per-batch work is frontier-bounded — a quiet batch that shortens
    nothing does one seed-fold and stops — where re-running batch
    BFS would pay diameter x |E| every time. Unlike the capped
    bfs_hops query, distances here run UNTIL FIXPOINT (exact hops at
    any diameter); the DuckDB oracle replays that as an uncapped
    recursive CTE, so the twin is strict-oracle-paired.

    Protocol notes: round loop state cuts EAGERLY per round (dist
    feeds each round twice — the bfs_hops plan-doubling lesson);
    generation-keyed stores make replays byte-identical no-ops (a
    replayed epoch overwrites its own batch-edge dir and its own
    distance generation with identical content); ``seed_sql`` is a
    predicate over the accumulated node set, evaluated fresh each
    batch so seeds arriving in later batches join the seed set."""
    import re as _re

    from ..operators.similarity import _fs_glob

    if not _re.fullmatch(r"[A-Za-z0-9_ %=<>.()-]+", seed_sql):
        raise ValueError(
            f"stream_incremental_bfs: suspicious seed_sql {seed_sql!r}"
        )

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        target = int(epoch_id) + 1
        gens = sorted(
            int(name.split("-", 1)[1])
            for name in _fs_glob(store_root, "gen-*", spark)
            if name.split("-", 1)[1].isdigit()
        )
        prior_gens = [g for g in gens if g < target]
        if not prior_gens:
            raise ValueError(
                f"stream_incremental_bfs: no generation below {target} "
                f"under {store_root} (found {gens}) — reseed gen-0 AND "
                "clear the checkpoint."
            )
        batch_df.select(
            F.col(u).cast("long").alias("u"),
            F.col(v).cast("long").alias("v"),
        ).distinct().write.mode("overwrite").parquet(
            f"{edges_root}/batch-{target}"
        )
        edges = spark.read.parquet(f"{edges_root}/batch-*")
        batch_edges = spark.read.parquet(f"{edges_root}/batch-{target}")
        prior = spark.read.parquet(f"{store_root}/gen-{max(prior_gens)}")
        from ..operators.graphs import incremental_bfs_relax

        dist = incremental_bfs_relax(
            prior, edges, batch_edges,
            seed_sql=seed_sql, u="u", v="v", max_rounds=max_rounds,
        )
        dist.write.mode("overwrite").parquet(f"{store_root}/gen-{target}")

    q = (
        edge_rows.writeStream.outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .foreachBatch(_apply)
        .start()
    )
    q.awaitTermination()
    return q


def stream_kn_bigrams(
    docs: DataFrame,
    store_root: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_name: str = "kn_bigram_ingest",
):
    """Kneser-Ney model ingestion over a streaming corpus — the
    SIXTH mergeable-ingestion family member (CMS / HLL / BM25 /
    DSIR / E-S reservoir / KN bigrams): each micro-batch tokenizes
    its documents once and folds their per-document bigram counts
    (doc_id, prev, cur, n) into a generation-keyed store. Per-doc
    counts are pure functions of the document text, so the merge is
    a union + dropDuplicates on the full key — idempotent under
    BOTH epoch replays and a document arriving in two different
    batches (the r13 E-S ADVICE lesson built in from birth, one step
    stronger than the BM25 store's disjointness assumption). The
    drained store carries the complete evidence the KN scorer needs:
    the bigram model is groupBy(prev, cur).sum(n) over it, and each
    document's score re-weights the model rows by its own n — so the
    probe derives EVERYTHING from the store and equals the batch
    kneser_ney_docs query exactly, sharing its strict oracle
    verbatim."""
    from ..functions import text as _T
    from ..operators.similarity import _fs_glob
    from pyspark.sql import Window as _W

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        target = int(epoch_id) + 1
        gens = sorted(
            int(name.split("-", 1)[1])
            for name in _fs_glob(store_root, "gen-*", spark)
            if name.split("-", 1)[1].isdigit()
        )
        prior_gens = [g for g in gens if g < target]
        if not prior_gens:
            raise ValueError(
                f"stream_kn_bigrams: no generation below {target} under "
                f"{store_root} (found {gens}) — reseed gen-0 AND "
                "clear the checkpoint."
            )
        prior = spark.read.parquet(
            f"{store_root}/gen-{max(prior_gens)}"
        )
        toks = batch_df.select(
            F.col(id_col),
            F.posexplode(_T.tokens(text_col)).alias("pos", "token"),
        )
        w = _W.partitionBy(id_col).orderBy("pos")
        bg = (
            toks.withColumn("cur", F.lead("token").over(w))
            .filter(F.col("cur").isNotNull())
            .groupBy(id_col, F.col("token").alias("prev"), "cur")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )
        prior.unionByName(bg).dropDuplicates(
            [id_col, "prev", "cur"]
        ).write.mode("overwrite").parquet(f"{store_root}/gen-{target}")

    q = (
        docs.writeStream.outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .foreachBatch(_apply)
        .start()
    )
    q.awaitTermination()
    return q


def stream_winnow_fingerprints(
    docs: DataFrame,
    store_root: str,
    checkpoint_dir: str,
    k: int = 8,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_name: str = "winnow_ingest",
):
    """Winnowing fingerprint extraction over a STREAMING corpus —
    seventh member of the CMS / HLL / BM25 / DSIR / E-S / Kneser-Ney
    mergeable-ingestion family, and the simplest possible merge law:
    fingerprint selection (operators/dedup.winnow_fingerprints) is a
    pure PER-DOCUMENT function, so the union of per-batch fingerprint
    tables over disjoint batches IS the whole-corpus fingerprint
    table — no reconciliation step at all. Each micro-batch writes
    its (id, fp, pos) rows under store_root/batch=<epoch>; the
    drained store feeds the identical match tail
    (winnow_pairs_from_fps) and shares the batch query's strict
    oracle verbatim.

    Idempotence: a replayed epoch overwrites its own batch directory
    (dynamic partition pruning is unnecessary — the directory name IS
    the epoch)."""
    from ..operators.dedup import winnow_fingerprints

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        winnow_fingerprints(
            batch_df, k=k, w=w, id_col=id_col, text_col=text_col
        ).write.mode("overwrite").parquet(
            f"{store_root}/batch={epoch_id}"
        )

    q = (
        docs.writeStream.outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .foreachBatch(_apply)
        .start()
    )
    q.awaitTermination()
    return q
