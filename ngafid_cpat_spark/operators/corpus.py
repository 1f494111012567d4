"""Corpus-preparation operators for training-data pipelines.

Beyond the dedup/similarity family (operators/dedup.py,
operators/similarity.py), a large-scale pretraining pipeline needs:

  * stratified_sample   deterministic per-stratum downsampling
                        (domain mixing weights) — pure map-side
                        arithmetic, no RNG state, reproducible and
                        engine-portable.
  * pack_sequences      concatenate-then-chunk sequence packing:
                        documents laid head-to-tail on a per-group
                        token tape, chunk boundaries every `budget`
                        tokens — one window per group, the standard
                        LLM pretraining packing shape.
  * contamination       benchmark-contamination check: per train doc,
                        the count/ratio of its k-shingles that appear
                        anywhere in a (small) eval set — inverted-
                        index join against a broadcast eval shingle
                        set, never a cross product.

All three are expression-only (no Python in the hot path) and shuffle
at most once per group key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as T
from ..session import shuffle_width
from .dedup import _shingle_sets

# Multiplicative-hash constants for stratified_sample. The id is
# reduced mod a prime < 1e6 BEFORE multiplying so the product stays
# < 2.7e15 — inside exact BIGINT range on every engine (DuckDB
# errors on 64-bit overflow; Spark silently wraps — neither is
# acceptable for a portable sampler at 1e12-row scale).
_SAMPLE_PRIME = 999_983
_SAMPLE_MULT = 2_654_435_761
_SAMPLE_OFFSET = 12_345


def sample_hash(id_col) -> Column:
    """Deterministic permille bucket 0-999 of an integer id."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return F.pmod(
        F.pmod(c, _SAMPLE_PRIME) * _SAMPLE_MULT + _SAMPLE_OFFSET, 1000
    )


def _pm(x: str, m: int) -> str:
    """SQL non-negative modulus (pmod twin): SQL % follows the sign
    of the dividend, so negative ids would pick different buckets
    than Spark's pmod without this."""
    return f"((({x}) % {m} + {m}) % {m})"


def SAMPLE_HASH_SQL(id_expr: str) -> str:
    return _pm(f"{_pm(id_expr, _SAMPLE_PRIME)} * {_SAMPLE_MULT} + {_SAMPLE_OFFSET}", 1000)


def stratified_sample(
    df: DataFrame,
    rates_permille: dict[str, int],
    default_permille: int = 0,
    stratum_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep a row iff its deterministic permille bucket falls under
    its stratum's rate — the domain-mixing sampler. Map-side only
    (no shuffle, no RNG, no seed plumbing); rerunning yields the
    identical subset, and upstream/downstream engines agree on it."""
    rate = F.lit(default_permille)
    for stratum, permille in sorted(rates_permille.items()):
        rate = F.when(F.col(stratum_col) == stratum, permille).otherwise(rate)
    return df.filter(sample_hash(id_col) < rate)


def sample_k_per_group(
    df: DataFrame,
    k: int,
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exactly-K deterministic sample per group — the fixed-budget
    dual of stratified_sample's rate-based filter ("give me 10k docs
    per domain for the eval split", reproducibly). Rows rank by the
    same multiplicative hash (uniform, engine-portable, no RNG
    state), ties broken by id; rank <= k survives. One window
    shuffle on the group key; Spark's rank-limit pushdown
    (WindowGroupLimit) keeps only k rows per group per partition
    before the final sort, so the shuffle never materializes whole
    groups at the reducer."""
    w = Window.partitionBy(group_col).orderBy(
        sample_hash(id_col), F.col(id_col)
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def exact_isqrt(n) -> "F.Column":
    """True integer sqrt of a non-negative BIGINT column: float-sqrt
    seed, then one correction step down and one up in pure BIGINT
    arithmetic. floor(sqrt(n)) alone is within +-1 of the truth for
    any BIGINT n (absolute sqrt error ~ sqrt(n) * 2^-53 << 1 even
    past 2^53), so the two steps are exhaustive — exact for every
    count below ~2^63 - 2^32 (above that (dn+1)^2 would overflow),
    including the n ~ 2^52 perfect-square boundaries where the bare
    float floor can land one off."""
    fq = F.floor(F.sqrt(n)).cast("long")
    dn = fq - F.when(fq * fq > n, F.lit(1)).otherwise(F.lit(0))
    return dn + F.when((dn + 1) * (dn + 1) <= n, F.lit(1)).otherwise(F.lit(0))


def temperature_mix(
    df: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature-weighted corpus resampling at alpha = 0.5: each
    source's budget is proportional to sqrt(its size), the standard
    down-weighting of dominant domains (multilingual/multi-corpus
    mixing), resampled to the original corpus size T:

        k_s = floor(T * isqrt(n_s) / sum_t isqrt(n_t))

    INTEGER-ONLY weight math: isqrt is floor(sqrt(n)) CORRECTED by
    one Newton step in integer arithmetic (+-1 either way), which
    makes it the true integer sqrt for any BIGINT n — the float sqrt
    alone can land one off near 2^52, and pow(n, alpha) in two float
    libraries can disagree in the last ulp and flip a floor() at
    budget boundaries. With exact isqrt and an integer floor-division
    the budgets are bit-identical across engines; the products stay
    inside exact BIGINT range up to T ~ 1e12 x isqrt ~ 1e6.

    Within each source, rows rank by the engine-portable
    multiplicative hash (ties by id) and rank <= k_s survives — the
    derived-budget generalization of sample_k_per_group, same
    WindowGroupLimit-friendly single shuffle; budgets come from a
    group-count aggregate cross-joined as a one-row scalar, so there
    is no driver collect."""
    g = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("__n"))
    w = g.select(
        group_col,
        "__n",
        exact_isqrt(F.col("__n")).alias("__iq"),
    )
    tot = w.agg(
        F.sum("__n").alias("__tt"), F.sum("__iq").alias("__sw")
    )
    budgets = w.crossJoin(F.broadcast(tot)).select(
        group_col,
        F.expr("(__tt * __iq) DIV __sw").alias("__k"),
    )
    rn = Window.partitionBy(group_col).orderBy(
        sample_hash(id_col), F.col(id_col)
    )
    return (
        df.withColumn("__rn", F.row_number().over(rn))
        .join(F.broadcast(budgets), group_col)
        .filter(F.col("__rn") <= F.col("__k"))
        .drop("__rn", "__k")
    )


BPE_JOIN = "\x1f"  # unit-separator joiner for merged symbols


# Training-round partition sizing: ~8k docs/task is the measured
# knee at sf0.1 (width 8 vs the 32-wide shuffle default ran the 16
# iterative rounds 2-4x faster — per-round task-scheduling overhead
# dominates below that, map-side pair-count state above it). The
# shuffle default stays the CAP, so a real cluster's thousands-wide
# config still applies at 100 TB; results are width-invariant (the
# determinism sweep covers the trainer).
BPE_TARGET_DOCS_PER_TASK = 8192


def bpe_train_merges(
    df: DataFrame,
    n_merges: int,
    text_col: str = "text",
    n_partitions: int | None = None,
) -> list[tuple[int, str, str, int]]:
    """Distributed BPE-style merge training over token symbols (the
    corpus-phrase variant of byte-pair encoding: symbols start as
    whitespace tokens, each round fuses the most frequent ADJACENT
    pair corpus-wide into one symbol). Returns
    [(round, left, right, pair_count)].

    Round = one distributed job: adjacent pairs via two array slices
    zipped (map-side explode, no self-join), a count groupBy, and an
    argmax collect of exactly ONE row (ties broken (count desc, left,
    right)) — the same bounded driver-state shape as the Lloyd
    trainers. The merge rewrite is a single string replace() per doc:
    sequences carry ' ' sentinels so ' L R ' matches exactly at
    symbol boundaries; replace() consumes its match (no rescan of
    replaced text), which makes the leftmost-greedy overlap behavior
    ('a a a a' -> one merge, not two) IDENTICAL in Spark and DuckDB —
    the property the unrolled-CTE oracle depends on.

    Scale: each round is one linear pass + one shuffle on pair keys
    (map-side combine first), driver state is one row per round;
    n_merges rounds = n_merges jobs, the standard iterative-trainer
    envelope. The sequence column is localCheckpoint'd once so later
    rounds re-read materialized rows, not a growing replace() tower."""
    spark = df.sparkSession
    cap = shuffle_width(spark)
    if n_partitions is None:
        # one metadata-cheap count sizes the rounds to the corpus
        # (BPE_TARGET_DOCS_PER_TASK), capped at the shuffle config
        n_docs = df.count()
        n_partitions = max(
            1, min(cap, -(-n_docs // BPE_TARGET_DOCS_PER_TASK))
        )
    seqs = (
        df.select(
            F.concat(F.lit(" "), T.normalize(text_col), F.lit(" ")).alias("seq")
        )
        # a single-file corpus arrives as ONE partition and would run
        # every training round single-task; spread once up front (the
        # checkpointed rewrites keep the layout for later rounds)
        .repartition(n_partitions)
        .localCheckpoint(eager=False)
    )
    merges: list[tuple[int, str, str, int]] = []
    arr = "split(trim(seq), ' ')"
    # Adjacent pairs as zip_with over two slices (arr[0:n-1], arr[1:n-1]):
    # empty-safe by construction — a doc that normalizes to fewer than 2
    # tokens yields two empty slices and therefore NO pairs, exactly like
    # the oracle's range(1, len(tk)). The transform(sequence(0, size-2))
    # form crashed here: size=1 makes sequence(0,-1) = [0,-1] and the
    # arr[-1] lookup throws INVALID_ARRAY_INDEX under Spark 4 ANSI mode.
    pairs = F.expr(
        f"zip_with(slice({arr}, 1, greatest(size({arr}) - 1, 0)), "
        f"slice({arr}, 2, greatest(size({arr}) - 1, 0)), "
        f"(l, r) -> struct(l, r))"
    )
    for r in range(n_merges):
        top = (
            seqs.select(F.explode(pairs).alias("p"))
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("n").desc(), "l", "r")
            .limit(1)
            .collect()
        )
        if not top:
            break
        l, rr, n = top[0]["l"], top[0]["r"], top[0]["n"]
        merges.append((r, l, rr, int(n)))
        seqs = seqs.select(
            F.expr(
                "replace(seq, ' ' || {l} || ' ' || {r} || ' ', "
                "' ' || {l} || '{j}' || {r} || ' ')".format(
                    l=_sql_str(l), r=_sql_str(rr), j=BPE_JOIN
                )
            ).alias("seq")
        ).localCheckpoint(eager=False)
    return merges


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def bpe_apply(
    df: DataFrame,
    merges: list[tuple[int, str, str, int]],
    text_col: str = "text",
    out_col: str = "symbols",
) -> DataFrame:
    """Apply trained merges to tokenize text: the same ordered
    replace() chain the trainer used, folded into ONE map-side column
    expression (no shuffle, no iteration at apply time — training is
    iterative, application is a pure projection, which is what makes
    the tokenizer free to run inline in any ingest scan at 100 TB).
    Appends ``out_col`` = array of merged symbols."""
    seq = F.concat(F.lit(" "), T.normalize(text_col), F.lit(" "))
    for _r, l, rr, _n in merges:
        seq = F.call_function(
            "replace",
            seq,
            F.lit(f" {l} {rr} "),
            F.lit(f" {l}{BPE_JOIN}{rr} "),
        )
    return df.withColumn(out_col, F.split(F.trim(seq), " "))


def pack_sequences(
    df: DataFrame,
    budget: int,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Concatenate-then-chunk packing: within each group, documents
    ordered by id are laid head-to-tail on a token tape; training
    chunks are the tape sliced every ``budget`` tokens. Emits each
    document's tape offset and first/last chunk ids.

    One window (one shuffle on the group key); groups pack
    independently, so at 100 TB each group's tape is built by its own
    executor chain. Chunk ids use exact integer division — tape
    offsets exceed 2^53 long before a global corpus stops fitting,
    so floor-of-double is not an option (see plans/relational.py
    _ratio_round notes)."""
    w = (
        Window.partitionBy(group_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    n_tok = T.token_count(text_col)
    with_cum = (
        df.select(
            F.col(id_col),
            F.col(group_col),
            n_tok.cast("long").alias("n_tok"),
        )
        .filter(F.col("n_tok") > 0)
        .withColumn("tape_end", F.sum("n_tok").over(w))
    )
    start = F.col("tape_end") - F.col("n_tok")
    b = F.lit(budget).cast("long")
    return with_cum.select(
        id_col,
        group_col,
        "n_tok",
        start.alias("start_off"),
        F.call_function("div", start, b).alias("chunk_first"),
        F.call_function("div", F.col("tape_end") - 1, b).alias("chunk_last"),
    )


def tfidf_topk(
    df: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k characteristic terms per document by TF-IDF.

    IDF is computed in INTEGER permille — ``n_docs * 1000 DIV df
    - 1000`` — instead of ``ln(N/df)``: libm's log is not guaranteed
    bit-equal across engines; exact BIGINT arithmetic is. The -1000
    keeps ln's zero-at-df=N property, so a term present in EVERY
    document scores 0 and can never outrank a genuinely
    characteristic term (without it, stopwords with high tf dominate
    the top-k).

    Shape at scale: one explode + (doc, term) partial-aggregated
    count; the document-frequency table is vocabulary-sized (small
    relative to the corpus) and broadcast back onto the term counts;
    top-k is a per-doc window over doc-partitioned data. Shuffles:
    one on (doc, term), one on term (vocab-sized), one on doc."""
    toks = df.select(
        F.col(id_col), F.explode(T.tokens(text_col)).alias("term")
    ).filter(F.col("term") != "")
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # n_docs as a lazy 1-row broadcast, NOT an eager .count() action
    # (which would tokenize the whole corpus once at plan-build time
    # and again at execution). Derived from tf, not toks: a doc
    # counts iff it has >= 1 token either way, and hanging the
    # distinct off the aggregated frame keeps the corpus tokenize to
    # ONE lineage branch instead of re-exploding per consumer.
    nd = tf.select(id_col).distinct().agg(
        F.count(F.lit(1)).cast("long").alias("__n_docs")
    )
    idf_milli = F.call_function(
        "div", F.col("__n_docs") * 1000, F.col("df")
    ) - 1000
    scored = tf.join(F.broadcast(dfreq), "term").crossJoin(F.broadcast(nd)).select(
        id_col,
        "term",
        "tf",
        "df",
        (F.col("tf") * idf_milli).cast("long").alias("score_milli"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score_milli").desc(), F.col("term")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(id_col, "term", "tf", "df", "score_milli", "rn")
    )


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Within-document repetition signals (Gopher-style quality
    filters): duplicate-token fraction, top-token dominance, and
    duplicate-bigram fraction. One explode + two-level aggregation;
    ratios are quotients of small integers rounded at 4 decimals
    (exact-rational distance from decimal ties >= 1/(2*n_tokens) —
    far beyond double error, so the rounding is engine-portable)."""
    # unigram and bigram branches both consume the exploded stream;
    # one checkpoint tokenizes once (jaccard_pairs pattern). Widened
    # BY THE DOC KEY before the explode and pinned: every downstream
    # clustering (the per-term and per-doc aggregates, the bigram
    # lead window) is id-keyed, so the one moved exchange carries doc
    # rows and nothing downstream exchanges again (the dsir shape)
    from .skew import pinned_checkpoint, widen_narrow_source

    toks = pinned_checkpoint(
        widen_narrow_source(
            df.select(F.col(id_col), F.col(text_col)), id_col, probe=False
        )
        .select(
            F.col(id_col),
            F.posexplode(T.tokens(text_col)).alias("pos", "term"),
        )
        .filter(F.col("term") != "")
    )
    per_term = toks.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    uni = per_term.groupBy(id_col).agg(
        F.sum("tf").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("tf").alias("max_tf"),
    )
    # bigrams from the same exploded stream: join-free via lead()
    w = Window.partitionBy(id_col).orderBy("pos")
    big = (
        toks.withColumn("nxt", F.lead("term").over(w))
        .filter(F.col("nxt").isNotNull())
        .select(id_col, F.concat_ws(" ", "term", "nxt").alias("bigram"))
    )
    bi = (
        big.groupBy(id_col, "bigram")
        .agg(F.count(F.lit(1)).alias("bf"))
        .groupBy(id_col)
        .agg(
            F.sum("bf").alias("n_bigrams"),
            F.count(F.lit(1)).alias("n_distinct_bigrams"),
        )
    )
    out = uni.join(bi, id_col, "left_outer")
    return out.select(
        id_col,
        "n_tokens",
        "n_distinct",
        F.round(
            1.0 - F.col("n_distinct") / F.col("n_tokens"), 4
        ).alias("dup_token_ratio"),
        F.round(F.col("max_tf") / F.col("n_tokens"), 4).alias(
            "top_token_ratio"
        ),
        F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
        F.when(
            F.col("n_bigrams").isNull(), F.lit(None).cast("double")
        )
        .otherwise(
            F.round(
                1.0 - F.col("n_distinct_bigrams") / F.col("n_bigrams"), 4
            )
        )
        .alias("dup_bigram_ratio"),
    )


def keep_best_per_duplicate_group(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    quality_col: str = "n_chars",
) -> DataFrame:
    """Dedup survivorship: among exact duplicates (same normalized-
    text fingerprint), keep the row with the highest quality metric
    (ties to the lowest id). The realistic dedup step — you keep the
    best copy, not an arbitrary one. Integer quality column keeps
    the argmax engine-portable; one shuffle on the 16-byte
    fingerprint, never on the text body."""
    fp = df.withColumn("fp", T.fingerprint_md5(text_col))
    w = Window.partitionBy("fp").orderBy(
        F.col(quality_col).desc(), F.col(id_col)
    )
    return (
        fp.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "n_copies", F.count(F.lit(1)).over(Window.partitionBy("fp"))
        )
        .filter(F.col("rn") == 1)
        .select(
            "fp",
            F.col(id_col).alias("keeper_id"),
            F.col(quality_col).alias("keeper_quality"),
            "n_copies",
        )
    )


def contamination(
    train_df: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Per train document: how many of its distinct k-shingles occur
    anywhere in ``eval_df`` (the held-out benchmark), and the
    contaminated fraction. The eval shingle set is broadcast
    (benchmark sets are small by nature); the train side streams
    through one inverted-index join + one groupBy — linear shuffle,
    no pairwise comparison, no flag column threaded through the
    corpus."""
    # sizes and hits both consume the train shingles; one lazy
    # localCheckpoint avoids re-running the shingle pipeline per
    # consumer (same pattern as dedup.jaccard_pairs)
    train = _shingle_sets(train_df, id_col, text_col, k).localCheckpoint(
        eager=False
    )
    eval_sh = (
        _shingle_sets(eval_df, id_col, text_col, k).select("sh").distinct()
    )
    sizes = train.groupBy("id").agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = (
        train.join(F.broadcast(eval_sh), "sh")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        sizes.join(hits, "id", "left_outer")
        .select(
            F.col("id").alias(id_col),
            "n_shingles",
            F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
            (
                F.coalesce("n_overlap", F.lit(0))
                / F.col("n_shingles")
            ).alias("contamination"),
        )
        .filter(F.col("n_overlap") > 0)
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split every document into fixed-size token chunks with
    overlap — the context-window prep step between cleaning and
    packing (pack_sequences concatenates SHORT docs; this splits
    LONG ones). Chunk starts advance by ``chunk_tokens - overlap``;
    the final chunk is the (possibly short) tail.

    Map-side only: tokenize once, compute the chunk count with exact
    integer arithmetic (no float ceil — bit-portable), explode a
    0..n_chunks-1 sequence, slice the token array per chunk. No
    shuffle at all; the explode's fan-out is bounded by
    n_tok / stride per row, so partition sizes stay proportional to
    input bytes at any scale."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    stride = chunk_tokens - overlap
    toks = T.tokens(text_col)
    d = df.select(
        F.col(id_col),
        toks.alias("__toks"),
        F.size(toks).alias("n_tok"),
    )
    n_chunks = F.when(F.col("n_tok") <= chunk_tokens, F.lit(1)).otherwise(
        F.lit(1)
        + F.call_function(
            "div",
            F.col("n_tok") - chunk_tokens + stride - 1,
            F.lit(stride),
        )
    ).cast("long")
    d = d.withColumn(
        "chunk_id", F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1))
    )
    start = F.col("chunk_id") * stride
    piece = F.slice(F.col("__toks"), start + 1, F.lit(chunk_tokens))
    return d.select(
        F.col(id_col),
        "n_tok",
        "chunk_id",
        start.alias("start_tok"),
        F.size(piece).alias("chunk_len"),
        F.concat_ws(" ", piece).alias("chunk_text"),
    )


def contamination_bloom(
    train_df: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """`contamination` with a bloom-filter pre-filter on the train
    shingle stream — the shape that survives an eval side too big to
    broadcast. Plain `contamination` relies on a broadcast hash join
    (map-side, no train shuffle); once the eval shingle set outgrows
    the broadcast threshold the join degrades to sort-merge and the
    FULL train shingle stream (the 100 TB side) shuffles. Here the
    eval set is compressed to a bloom bit-literal (operators/bloom),
    non-members drop inside the train scan's codegen stage, and only
    probable hits — true overlaps plus a ~0.1% false-positive tail —
    reach the exact join, which removes the false positives. Results
    are bit-identical to `contamination` by construction; only the
    shuffle volume changes, so the two share one oracle.

    The exact join deliberately carries no broadcast hint: at test
    scale AQE will broadcast it anyway, at 100 TB it becomes a
    sort-merge over the ~0.1%-selectivity survivor stream instead of
    the full corpus.
    """
    from .bloom import bloom_prefilter

    # sizes and hits both consume the train shingles; one lazy
    # localCheckpoint avoids re-running the shingle pipeline per
    # consumer (same pattern as dedup.jaccard_pairs)
    train = _shingle_sets(train_df, id_col, text_col, k).localCheckpoint(
        eager=False
    )
    # THREE consumers — the bloom build's distinct count, its bit-pack
    # collect, and the exact verify join — so the eval shingle
    # derivation materializes once too
    eval_sh = (
        _shingle_sets(eval_df, id_col, text_col, k)
        .select("sh")
        .distinct()
        .localCheckpoint(eager=False)
    )
    sizes = train.groupBy("id").agg(F.count(F.lit(1)).alias("n_shingles"))
    probable = bloom_prefilter(train, "sh", eval_sh, "sh")
    hits = (
        probable.join(eval_sh, "sh")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        sizes.join(hits, "id", "left_outer")
        .select(
            F.col("id").alias(id_col),
            "n_shingles",
            F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
            (
                F.coalesce("n_overlap", F.lit(0))
                / F.col("n_shingles")
            ).alias("contamination"),
        )
        .filter(F.col("n_overlap") > 0)
    )


_SHARD_MULT = 1_103_515_245
_SHARD_OFFSET = 54_321
# shard_id uses its OWN mixing constants: sharing sample_hash's mix
# makes shard_id a function of the sample bucket (gcd(n_shards, 1000)
# classes), so sampling then sharding would leave most shards empty
_SHARD_ID_MULT = 2_246_822_519
_SHARD_ID_OFFSET = 98_765


def shard_assign(
    df: DataFrame,
    n_shards: int = 16,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic global shuffle for training-shard layout: every
    row gets a shard id from a multiplicative hash of its integer id
    (NOT round-robin or monotonically_increasing_id — both depend on
    partition layout and change across runs/engines). Map-side only;
    the subsequent write is `partitionBy(shard_id)` and each shard's
    reader sees a pseudo-random, reproducible slice of the corpus.

    Within a shard, `shard_ord` gives a reproducible read order
    (second multiplicative mix, different constants) — the "global
    shuffle" a training loader needs, without ever sorting the whole
    corpus globally: ordering is only ever materialized per shard.
    """
    c = F.col(id_col)
    shard = F.pmod(
        F.pmod(c, _SAMPLE_PRIME) * _SHARD_ID_MULT + _SHARD_ID_OFFSET, n_shards
    )
    ordk = F.pmod(F.pmod(c, _SAMPLE_PRIME) * _SHARD_MULT + _SHARD_OFFSET, 1_000_003)
    return df.withColumn("shard_id", shard).withColumn("shard_ord", ordk)


def SHARD_ASSIGN_SQL(id_expr: str, n_shards: int = 16) -> str:
    return _pm(
        f"{_pm(id_expr, _SAMPLE_PRIME)} * {_SHARD_ID_MULT} + {_SHARD_ID_OFFSET}",
        n_shards,
    )


def SHARD_ORD_SQL(id_expr: str) -> str:
    return _pm(
        f"{_pm(id_expr, _SAMPLE_PRIME)} * {_SHARD_MULT} + {_SHARD_OFFSET}", 1000003
    )


def corpus_mix(
    df: DataFrame,
    factors_by_stratum: dict[str, int],
    default_factor: int = 1,
    stratum_col: str = "source",
) -> DataFrame:
    """Integer-factor domain upsampling (the other half of corpus
    mixing — stratified_sample handles factors < 1). Each row is
    replicated `factor` times via sequence+explode with a `copy`
    ordinal, so downstream shuffling/sharding spreads the copies.
    Expression-only and map-side: no shuffle, and the explode output
    is streamed — a 3x upsample never materializes 3x rows on one
    executor beyond the scan batch. A factor <= 0 DROPS the stratum
    (explode of an empty array emits nothing) — without the guard,
    Spark's sequence(1, 0) would count DOWN and duplicate rows."""
    factor = F.lit(default_factor)
    for stratum, k in sorted(factors_by_stratum.items()):
        factor = F.when(F.col(stratum_col) == stratum, k).otherwise(factor)
    f = factor.cast("int")
    copies = F.when(f >= 1, F.sequence(F.lit(1), f)).otherwise(
        F.array().cast("array<int>")
    )
    return df.withColumn("copy", F.explode(copies))


def incremental_dedup(
    new_docs: DataFrame,
    history: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    history_fp: DataFrame | None = None,
) -> DataFrame:
    """Incremental (streaming-batch) exact dedup: from a NEW batch,
    the surviving documents — not an exact duplicate of anything in
    the already-ingested corpus and the min-id keeper within the
    batch itself. The standard continuous-ingest shape: history
    participates only as its 16-byte fingerprint set, so at 100 TB
    you MAINTAIN the fingerprint table and pass it as ``history_fp``
    (a DataFrame with an `fp` column — e.g. this function's own
    output from prior batches) — the corpus body is never rescanned.
    Passing raw ``history`` docs instead derives the fingerprints
    from their ``text_col`` on the fly (convenient for small/one-off
    backfills, but it re-reads the history text every call). A
    bloom_prefilter over the fingerprints slots in front of the
    anti-join when the history set outgrows a shuffle-friendly size —
    operators/bloom.py. Output: (doc_id, fp) of the batch's
    keepers."""
    fp_new = new_docs.select(
        F.col(id_col), T.fingerprint_md5(text_col).alias("fp")
    )
    if history_fp is not None:
        fp_hist = history_fp.select("fp")
    elif history is not None:
        fp_hist = history.select(T.fingerprint_md5(text_col).alias("fp"))
    else:
        raise ValueError("pass history_fp (preferred at scale) or history")
    fresh = fp_new.join(fp_hist, "fp", "left_anti")
    return (
        fresh.groupBy("fp")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col, "fp")
    )


def classifier_features(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Deterministic, engine-portable document features for the
    quality-classifier trainer: every feature is an exact rational of
    INTEGER counts over the normalized text (token count capped at
    512 and scaled, mean token length via chars-minus-spaces, unique-
    token ratio), so Spark and any SQL oracle compute bit-identical
    doubles — no regexes beyond the shared whitespace normalize, no
    transcendentals. Returns (id, x1, x2, x3)."""
    norm = T.normalize(text_col)
    toks = F.split(norm, " ")
    n_tok = F.size(toks).cast("double")
    return docs.select(
        F.col(id_col).alias("id"),
        (F.least(F.size(toks), F.lit(512)).cast("double") / 512.0).alias(
            "x1"
        ),
        (
            ((F.length(norm).cast("double") - (n_tok - 1.0)) / n_tok) / 10.0
        ).alias("x2"),
        (F.size(F.array_distinct(toks)).cast("double") / n_tok).alias("x3"),
    )


def linear_score(
    weights_micro: list[int], x_cols: tuple[str, ...] = ("x1", "x2", "x3")
) -> Column:
    """Hard-sigmoid score of a TRAINED linear model (integer-micro
    weights from train_linear_classifier) as a column expression:
    p = clamp(0.25*z + 0.5, 0, 1) with z accumulated in the same
    left-assoc order the trainer and the unrolled-CTE oracle use
    (b/1e6 + w1/1e6*x1 + ...), so every engine computing it over the
    same feature doubles returns bit-identical scores — which makes
    ORDER BY score a portable survivorship rank."""
    z = F.lit(weights_micro[0] / 1e6)
    for j, c in enumerate(x_cols):
        z = z + F.lit(weights_micro[j + 1] / 1e6) * F.col(c)
    return F.least(F.greatest(0.25 * z + 0.5, F.lit(0.0)), F.lit(1.0))


def quality_weighted_sample(
    scored: DataFrame, id_col: str = "doc_id", score_col: str = "p"
) -> DataFrame:
    """Keep each row with probability equal to its MODEL score — the
    classifier-weighted corpus-curation sampler (quality-weighted
    retention, the score-thresholding generalization modern corpus
    pipelines run after quality-classifier scoring). Deterministic
    and engine-portable, like every sampler here: the 'coin' is the
    id's permille bucket (sample_hash — no RNG, no seed plumbing),
    kept iff bucket < ROUND(score * 1000). Rerunning, re-sharding or
    re-engine-ing yields the identical subset; expected retention is
    the mean score. Map-side only, no shuffle."""
    keep = sample_hash(id_col) < F.round(
        F.col(score_col) * 1000.0, 0
    )
    return scored.filter(keep)


def train_linear_classifier(
    feats: DataFrame,
    label_col: str = "y",
    eta: float = 0.5,
    n_iter: int = 4,
) -> dict:
    """Distributed BATCH-GRADIENT-DESCENT training of a linear
    classifier with a HARD-sigmoid link — iterative model training as
    a first-class, ORACLE-PAIRABLE engine operation (the Lloyd-k-means
    doctrine applied to supervised learning):

      * link: p = clamp(0.25*z + 0.5, 0, 1) — the standard
        hard-sigmoid approximation, chosen over exp() DELIBERATELY:
        libm exp differs by ulps across engines and a 1-ulp flip at a
        rounding boundary would break cross-engine bit-equality; the
        hard sigmoid is pure +/x/clamp on doubles, exact everywhere.
      * weights live as INTEGER MICROS; each iteration computes, per
        row, micro-quantized gradient components
        CAST(ROUND((y - p) * x_j * 1e6) AS BIGINT), sums them as
        BIGINT (summation order can never move a bit — the cents-sum
        doctrine), and steps
        W_j += ROUND(eta * G_j / N) (micros). Every iteration is ONE
        map-side-combining aggregate + a 1-row collect, exactly the
        BPE/Lloyd driver-sync shape — 100 TB-safe (no per-row state
        on the driver, n_iter passes over a frame the caller should
        checkpoint).

    ``feats``: (id, x1..x3, y in {0.0, 1.0}) — classifier_features +
    a label. Returns {"weights_micro": [bias, w1, w2, w3], "n": N,
    "train_correct": C} where C counts rows the FINAL weights
    classify correctly (p >= 0.5 vs y)."""
    from .similarity import round_half_away

    xs = ["x1", "x2", "x3"]
    w = [0, 0, 0, 0]  # integer micros: bias, w1..w3
    n = None

    def _p():
        # the ONE scoring expression (linear_score) — the trainer and
        # every downstream scorer (dedup_keep_best_scored) must build
        # the identical Column tree or the bit-exactness contract
        # silently forks
        return linear_score(w, tuple(xs))

    for _ in range(n_iter):
        resid = F.col(label_col) - _p()
        aggs = [
            F.sum(
                F.round(resid * 1000000.0, 0).cast("long")
            ).alias("g0"),
            *[
                F.sum(
                    F.round(resid * F.col(c) * 1000000.0, 0).cast("long")
                ).alias(f"g{j + 1}")
                for j, c in enumerate(xs)
            ],
            F.count(F.lit(1)).alias("n"),
        ]
        row = feats.agg(*aggs).first()  # 1-row driver sync per pass
        n = int(row["n"])
        for j in range(4):
            # SQL ROUND semantics (half away from zero), via the
            # exact helper — Python's built-in round is half-EVEN,
            # and floor(abs(step)+0.5) double-rounds UP for steps one
            # ulp below a half-integer; both would diverge from the
            # oracle's ROUND(0.5 * g / n, 0) on unlucky gradients
            step = eta * int(row[f"g{j}"]) / n
            w[j] += round_half_away(step)
    correct = feats.agg(
        F.sum(
            F.when(
                (_p() >= 0.5) == (F.col(label_col) == 1.0), 1
            ).otherwise(0)
        ).alias("c")
    ).first()["c"]
    return {"weights_micro": w, "n": n, "train_correct": int(correct)}


# DSIR-style importance selection. Public technique: Xie et al.,
# "Data Selection for Language Models via Importance Resampling"
# (NeurIPS 2023) — score raw documents by how target-like their
# hashed n-gram distribution is, then resample proportionally to the
# importance weight. This implementation is the INTEGER-EXACT variant
# of that recipe (the repo's Lloyd/GD doctrine applied to data
# selection): per-bucket weights are Laplace-smoothed integer ratios
# rather than log-probability differences (rank-monotone in the
# bucket's target affinity; log would drag libm portability into the
# gate), a document's score is its per-gram AVERAGE weight (length-
# normalized, integer division), and the resampling coin is the
# deterministic permille hash quality_weighted_sample uses — so the
# whole selection is reproducible bit-for-bit on any engine and
# strictly oracle-pairable.
DSIR_BUCKETS = 1024
DSIR_WEIGHT_SCALE = 1_000_000


def dsir_gram_buckets(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DSIR_BUCKETS,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Explode a corpus into (id, bucket) hashed-n-gram feature rows
    WITH multiplicity: unigrams plus bigrams of the normalized
    whitespace tokens, each hashed to ``n_buckets`` via its first 8
    md5 hex digits as a BIGINT (nonnegative, < 2^32) — the
    engine-portable string hash the minhash md5km family uses (Spark
    conv / DuckDB concat('0x', ...) twin). One narrow explode — the
    shared feature extraction for dsir_importance_select's count and
    score passes."""
    base = docs.select(
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        T.tokens(text_col).alias("_toks"),
    )
    bigrams = F.when(
        F.size("_toks") >= 2,
        F.expr(
            "transform(slice(_toks, 1, size(_toks) - 1), "
            "(x, i) -> concat(x, ' ', _toks[i + 1]))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = base.select(
        id_col,
        *extra_cols,
        F.explode(F.concat(F.col("_toks"), bigrams)).alias("g"),
    )
    return grams.select(
        id_col,
        *extra_cols,
        F.expr(
            f"cast(conv(substr(md5(g), 1, 8), 16, 10) as bigint) % {n_buckets}"
        ).alias("b"),
    )


def dsir_importance_select(
    docs: DataFrame,
    target: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """DSIR-style data selection: keep documents with probability
    proportional to how target-like their hashed-n-gram profile is.

    ``target`` is a boolean Column marking the target-domain rows
    INSIDE ``docs`` (the DSIR setup scores the raw pool against a
    target sample; here the target sample is a labeled subset of the
    same frame, so both distributions fall out of ONE conditional
    aggregate — no second scan).

    Stages, all integer-exact:
      1. features: (doc, bucket) gram rows (dsir_gram_buckets),
         checkpointed once — both passes below read it.
      2. bucket weights: one groupBy(bucket) computing raw count r_b
         and target count t_b together (conditional agg), then
         w_b = ((t_b + 1) * 1e6) DIV (r_b + n_buckets) — the
         Laplace-smoothed target/raw ratio in millionths. n_buckets
         rows; broadcast.
      3. doc scores: re-join the gram rows to the broadcast weight
         dim, one groupBy(doc) summing w and counting grams;
         score = SUM(w) DIV n_grams (per-gram average — length-
         normalized so long docs aren't favored).
      4. resample: min-max scale the score to a keep-permille
         ((score - lo) * 1000) DIV (hi - lo + 1) against the one-row
         broadcast (lo, hi) aggregate, and keep iff the id's
         deterministic permille hash < keep_permille (the
         quality_weighted_sample coin).

    Min-max scaling (not DSIR-paper softmax-temperature) keeps the
    whole chain in BIGINTs and makes the retention rate track the
    RELATIVE spread of importance in the pool — on a pool whose
    vocabulary barely separates from the target (this repo's
    synthetic docs) raw ratio weights would all sit within ~1% of the
    max and a raw-scaled coin would keep everything.

    Scale shape (100 TB): explode -> two map-side-combining
    aggregates (one keyed by the n_buckets-bounded bucket id, one by
    doc), an n_buckets-row broadcast dim, a 1-row broadcast min/max,
    and a map-side filter. No global sort, no driver-resident state
    beyond the codebook-sized weight table, no skew hazard (bucket
    key cardinality is fixed; partial aggregation collapses each
    partition to <= n_buckets rows before the shuffle).

    Returns kept rows: (id_col, w_avg, keep_permille).
    """
    # Widen the compact source BY THE DOC KEY before the gram
    # explode (guide §2.3/§2.5): the md5-per-gram compute runs at
    # session width instead of single-task, and — because explode
    # preserves partitioning and the pinned checkpoint keeps it
    # visible — the doc-keyed score aggregate below reads the gram
    # table with NO further exchange. The doc_id exchange is the one
    # the score groupBy needed anyway, moved before the explosion
    # (pre-explosion rows, ~2 grams per token narrower).
    from .skew import pinned_checkpoint, widen_narrow_source

    feats = dsir_gram_buckets(
        widen_narrow_source(
            docs.select(id_col, text_col, target.alias("_t")),
            id_col,
            probe=False,
        ),
        text_col=text_col,
        id_col=id_col,
        n_buckets=n_buckets,
        extra_cols=("_t",),
    )
    feats = pinned_checkpoint(feats)
    weights = (
        feats.groupBy("b")
        .agg(
            F.count(F.lit(1)).alias("r"),
            F.sum(F.when(F.col("_t"), 1).otherwise(0)).alias("t"),
        )
        .select(
            "b",
            F.expr(
                f"((t + 1) * {DSIR_WEIGHT_SCALE}) DIV (r + {n_buckets})"
            ).alias("w"),
        )
    )
    scores = (
        feats.join(F.broadcast(weights), "b")
        .groupBy(id_col)
        .agg(
            F.expr("sum(w) DIV count(1)").alias("w_avg"),
        )
    )
    mm = scores.agg(
        F.min("w_avg").alias("lo"), F.max("w_avg").alias("hi")
    )
    scaled = scores.crossJoin(F.broadcast(mm)).select(
        id_col,
        "w_avg",
        F.expr("((w_avg - lo) * 1000) DIV (hi - lo + 1)").alias(
            "keep_permille"
        ),
    )
    return scaled.filter(
        sample_hash(id_col) < F.col("keep_permille")
    )


# Gopher quality rules (Rae et al. 2021, "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", Appendix A1.1)
# — the named rule-based document filter most corpus pipelines run
# before any trained classifier. Every rule here is exact integer /
# rational arithmetic (cross-multiplied bounds instead of float
# ratios), so the composite is strict-oracle-pairable. The paper's
# line-shape rules (ellipsis-ending / bullet-starting line fractions)
# need newline structure the single-line gate corpus lacks; they are
# omitted rather than stubbed — the repo's rule is no silent fakes.
GOPHER_STOPWORDS = ("the", "a", "of", "to", "and", "in", "is", "it")


def gopher_quality_flags(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_len: int = 3,
    max_mean_len: int = 10,
    min_stopwords: int = 2,
    alpha_frac_num: int = 8,
    alpha_frac_den: int = 10,
    max_symbol_permille: int = 100,
) -> DataFrame:
    """Per-document Gopher rule evaluation: one row per doc with the
    word count and an 0/1 flag per rule plus the composite. Defaults
    are the paper's; callers tune them to their corpus (the gate
    query pins corpus-appropriate bounds so both pass and fail
    populations are non-empty at test SF).

    Rules (all map-side column expressions over one tokenization —
    zero shuffles, zero UDFs):
      * r_count:  min_words <= n <= max_words
      * r_wordlen: min_mean_len <= mean token length <= max_mean_len,
        tested as min*n <= sum_len <= max*n (exact integers)
      * r_stop:   >= min_stopwords stop-word OCCURRENCES (the paper
        requires 2 of a fixed list; occurrences make the rule
        monotone in doc length, same spirit)
      * r_alpha:  alphabetic-token fraction >= num/den,
        den*n_alpha >= num*n
      * r_symbol: symbol-ish tokens ('#', '...') per word <=
        max_symbol_permille/1000, 1000*n_sym <= permille*n
    """
    toks = T.tokens(text_col)
    base = docs.select(
        F.col(id_col),
        toks.alias("_toks"),
        F.size(toks).alias("n_words"),
    )
    sl = F.aggregate(
        "_toks", F.lit(0).cast("long"), lambda a, x: a + F.length(x)
    )
    sw = F.size(
        F.filter("_toks", lambda x: x.isin(*GOPHER_STOPWORDS))
    )
    na = F.size(F.filter("_toks", lambda x: x.rlike("^[a-z]+$")))
    sym = F.size(F.filter("_toks", lambda x: x.isin("#", "...")))
    n = F.col("n_words")
    flags = base.select(
        id_col,
        "n_words",
        ((n >= min_words) & (n <= max_words)).cast("int").alias("r_count"),
        ((sl >= min_mean_len * n.cast("long"))
         & (sl <= max_mean_len * n.cast("long")))
        .cast("int")
        .alias("r_wordlen"),
        (sw >= min_stopwords).cast("int").alias("r_stop"),
        (alpha_frac_den * na >= alpha_frac_num * n)
        .cast("int")
        .alias("r_alpha"),
        (1000 * sym <= max_symbol_permille * n)
        .cast("int")
        .alias("r_symbol"),
    )
    return flags.withColumn(
        "passed",
        (
            F.col("r_count")
            * F.col("r_wordlen")
            * F.col("r_stop")
            * F.col("r_alpha")
            * F.col("r_symbol")
        ).cast("int"),
    )


# ---------------------------------------------------------------------------
# BM25 ranked retrieval (Robertson & Sparck Jones probabilistic model)
# ---------------------------------------------------------------------------

# k1 = 1.2 and b = 0.75 (the standard Okapi defaults) enter the
# integer score as exact rationals — see bm25_topk's derivation.
BM25_K1_NUM, BM25_K1_DEN = 12, 10
BM25_B_NUM, BM25_B_DEN = 3, 4


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k documents for a term query by Okapi BM25 (Robertson et
    al., TREC-3) in EXACT integer arithmetic, engine-portable like
    the tfidf_topk permille idf:

      idf_milli = (1000 * (2N - 2df + 1)) DIV (2df + 1)
        — the Robertson idf (N - df + 0.5)/(df + 0.5) as the exact
          rational (2N - 2df + 1)/(2df + 1), permille-floored;
          always > 0 (ln-BM25's negative-idf pathology for
          df > N/2 floors at 0 instead, which is the usual "+1
          inside the log" practical fix).
      score_milli(term) with k1 = 1.2, b = 0.75 and A = avgdl_milli
        = (1000 * total_tokens) DIV N:
          tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
        = 22*tf*A / (10*tf*A + 3*A + 9000*dl)   (exact rational)
      so the per-term contribution is ONE integer floor-division
      (idf_milli * 22 * tf * A) DIV (10*tf*A + 3*A + 9000*dl) and
      the doc score is their BIGINT sum.

    Shape at scale: one tokenize; doc-length layer is a map-side-
    combining groupBy on the id; the tf layer filters to the query's
    terms BEFORE its groupBy (the shuffle carries only matching
    postings, not the corpus); df and the N/avgdl scalars ride
    broadcast joins; top-k is TakeOrdered over per-doc sums.
    Headroom: the contribution numerator idf_milli*22*tf*A (up to
    ~666*N * 22 * tf * 1000*avgdl) blows int64 already at modest
    corpora (N ~ 1e4 suffices at tf = dl = 1e4), so it is computed
    in DECIMAL(38,0) — mirroring the DuckDB oracle, where SUM(dl)
    makes `a` HUGEINT and the whole product chain 128-bit. Safe
    envelope is now numerator < 1e38: at tf, dl <= 1e6 and
    avgdl <= 1e6 that is N <= ~6e18 — unbounded in practice. The
    quotient itself (~2.2 * idf_milli <= ~1.5e3 * N) and the per-doc
    sum stay comfortably BIGINT through N ~ 1e14.

    Returns (id_col, score_milli, rn) with rn = 1..k, ties broken
    by id."""
    from .skew import widen_narrow_source

    # widen BY THE DOC ID before tokenize+explode: the token stream
    # feeds two doc-keyed aggregates (dl, tf) that each re-run the
    # tokenizer — on a one-file corpus both passes were single-task,
    # and hash(id) clustering satisfies both groupBys' distributions
    # (id, and (id, term) via the subset rule), so the moved exchange
    # carries doc rows once and neither aggregate exchanges again
    toks = widen_narrow_source(
        df.select(F.col(id_col), F.col(text_col)), id_col, probe=False
    ).select(
        F.col(id_col), F.explode(T.tokens(text_col)).alias("term")
    ).filter(F.col("term") != "")
    dl = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    tf = (
        toks.filter(F.col("term").isin(list(query_terms)))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return bm25_from_stats(tf, dl, k=k, id_col=id_col)


def bm25_from_stats(
    tf: DataFrame,
    dl: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """bm25_topk's scoring stage over precomputed statistics: ``tf``
    = (id, term, tf) postings restricted to the query's terms, ``dl``
    = (id, dl) document lengths. Split out so the STREAMING ingestion
    twin can score the drained postings/doclen store with the exact
    arithmetic the batch query runs — both stats are mergeable across
    disjoint document batches (postings and lengths just union), the
    third member of the CMS-counter / HLL-register
    shared-batch-oracle family."""
    scal = dl.agg(
        F.count(F.lit(1)).cast("long").alias("__n_docs"),
        F.sum("dl").cast("long").alias("__total"),
    ).select(
        "__n_docs",
        F.expr(
            "div(CAST(1000 AS DECIMAL(38,0)) * __total, __n_docs)"
        ).alias("__avgdl_milli"),
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf_milli = F.expr(
        "div(1000 * (2 * CAST(__n_docs AS DECIMAL(38,0)) - 2 * df + 1), "
        "2 * df + 1)"
    )
    # numerator/denominator in DECIMAL(38,0): int64 wraps silently on
    # non-ANSI Spark at modest corpus sizes while the DuckDB oracle's
    # HUGEINT keeps going — decimal keeps both engines exact (and
    # loudly-overflowing) to ~1e38. div on decimals returns BIGINT.
    contrib = F.expr(
        "div(CAST(__idf_milli AS DECIMAL(38,0)) * 22 * tf * __avgdl_milli, "
        "CAST(10 AS DECIMAL(38,0)) * tf * __avgdl_milli "
        "+ CAST(3 AS DECIMAL(38,0)) * __avgdl_milli "
        "+ CAST(9000 AS DECIMAL(38,0)) * dl)"
    )
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(scal))
        .withColumn("__idf_milli", idf_milli)
        .withColumn("__contrib", contrib)
    )
    per_doc = scored.groupBy(id_col).agg(
        F.sum("__contrib").cast("long").alias("score_milli")
    )
    topk = per_doc.orderBy(
        F.col("score_milli").desc(), F.col(id_col)
    ).limit(k)
    # rank over the k surviving rows only (a k-row window, not a
    # global sort)
    w = Window.orderBy(F.col("score_milli").desc(), F.col(id_col))
    return topk.withColumn("rn", F.row_number().over(w)).select(
        id_col, "score_milli", "rn"
    )


def pmi_collocations(
    df: DataFrame,
    k: int = 20,
    min_count: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k collocations by pointwise mutual information (Church &
    Hanks 1990) over the corpus's adjacent-bigram model, with NO
    engine log in the data path: PMI = log N*c(xy)/(c(x.)*c(.y)) is
    monotone in the rational, so candidates rank by the EXACT integer

        pmi_micro = (1e6 * N * c(xy)) DIV (c(x.) * c(.y))

    computed in DECIMAL(38,0) on Spark / HUGEINT in DuckDB (the BM25
    headroom doctrine: N * c(xy) * 1e6 < 1e38 holds through ~6e15
    tokens even with c(xy) = N) — the fs_linkage no-transcendentals
    trick applied to collocation mining. Margins c(x.) / c(.y) and
    the total N come from the FULL bigram model; the ``min_count``
    support floor (standard: PMI over-rewards hapax pairs) applies
    only to candidates. Micro-floor quantization decides near-ties,
    like every *_micro score in this repo; exact ties break on
    (prev, cur).

    Shape at scale: one tokenize+lead pass builds the bigram model
    (map-side-combining groupBy); margins are two vocab-sized
    re-aggregations of the MODEL (never the token stream); N rides a
    broadcast scalar; the support filter cuts candidates BEFORE the
    margin joins; top-k is a TakeOrdered. Returns (prev, cur,
    n_pairs, pmi_micro, rn)."""
    toks = df.select(
        id_col, F.posexplode(T.tokens(text_col)).alias("pos", "token")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    bg = (
        toks.withColumn("cur", F.lead("token").over(w))
        .filter(F.col("cur").isNotNull())
        .select(F.col("token").alias("prev"), "cur")
    )
    bmodel = bg.groupBy("prev", "cur").agg(
        F.count(F.lit(1)).alias("bc")
    ).localCheckpoint(eager=False)  # feeds margins, total AND candidates
    lm = bmodel.groupBy("prev").agg(F.sum("bc").alias("cx"))
    rm = bmodel.groupBy("cur").agg(F.sum("bc").alias("cy"))
    tot = bmodel.agg(F.sum("bc").alias("n"))
    cand = bmodel.filter(F.col("bc") >= min_count)
    scored = (
        cand.join(lm, "prev")
        .join(rm, "cur")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "pmi_micro",
            F.expr(
                "div(CAST(1000000 AS DECIMAL(38,0)) * n * bc, "
                "CAST(cx AS DECIMAL(38,0)) * cy)"
            ),
        )
    )
    topk = scored.orderBy(
        F.col("pmi_micro").desc(), "prev", "cur"
    ).limit(k)
    rw = Window.orderBy(F.col("pmi_micro").desc(), "prev", "cur")
    return topk.withColumn("rn", F.row_number().over(rw)).select(
        "prev",
        "cur",
        F.col("bc").cast("long").alias("n_pairs"),
        "pmi_micro",
        "rn",
    )


def kneser_ney_score(
    df: DataFrame,
    discount_num: int = 3,
    discount_den: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document Kneser-Ney smoothed bigram LM scoring (Kneser &
    Ney 1995; Chen & Goodman 1999 interpolated form) — the
    perplexity-filtering primitive of LLM data pipelines, scored with
    ZERO engine transcendentals: the discount D = 3/4 enters as an
    exact rational, every bigram's interpolated probability

        P_KN(cur|prev) = (c(prev,cur) - D) / c(prev)
                       + D * N1+(prev,.) / c(prev) * N1+(.,cur) / B

    is the exact integer rational

        num = (4*c(prev,cur) - 3) * B + 3 * N1+(prev,.) * N1+(.,cur)
        den = 4 * c(prev) * B

    (B = distinct bigram types = sum over cur of N1+(.,cur), the
    continuation-model denominator; every scored bigram exists in the
    self-trained model so c - D > 0 and the max(., 0) clamp is
    vacuous), and the per-bigram score quantizes by pure integer
    round-half-up, micro = (2e6*num + den) DIV (2*den) — no log, no
    float, so the whole query is strict-oracle material (the PMI
    rank-by-the-rational doctrine pushed one step further: here even
    the VALUE is the rational). Products run in DECIMAL(38,0) on
    Spark / HUGEINT in DuckDB (the BM25 headroom doctrine): with
    2e6 * num <= 8e6 * c_max * B, int64 dies near c_max * B ~ 1e12
    while 1e38 holds through ~1e31 — corpus scales far beyond 100 TB.

    Per document: n_bigrams, avg_prob (mean of the micro
    probabilities / 1e6 — the mean-conditional-token-probability
    quality signal; an exact integer sum / count, so bit-stable), and
    min_p_micro (the document's single worst bigram — the
    tail-quality signal a mean hides). Documents with < 2 tokens have
    no bigrams and are absent, like bigram_logprob's contract.

    Why Kneser-Ney and not add-k or Katz: the continuation count
    N1+(.,cur) models how PROMISCUOUSLY a word follows new contexts —
    the standard fix for bigrams like 'Francisco' (frequent, but only
    ever after 'San'). The interpolation weight lambda(prev) =
    D * N1+(prev,.) / c(prev) is exactly the mass the discount freed,
    so sum_cur P_KN(cur|prev) = 1 per context (asserted with exact
    Fractions in tests).

    Shape at scale: one tokenize+lead pass builds the bigram model;
    the context/continuation margins are vocab-bounded
    re-aggregations of the MODEL (the pmi_collocations discipline);
    B rides a broadcast scalar; scoring joins the token stream
    against model-sized dims; the per-doc rollup is one
    map-side-combining groupBy."""
    toks = df.select(
        id_col, F.posexplode(T.tokens(text_col)).alias("pos", "token")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    bg = (
        toks.withColumn("cur", F.lead("token").over(w))
        .filter(F.col("cur").isNotNull())
        .select(id_col, F.col("token").alias("prev"), "cur")
        .localCheckpoint(eager=False)  # feeds the model AND the scorer
    )
    bmodel = bg.groupBy("prev", "cur").agg(
        F.count(F.lit(1)).alias("bc")
    ).localCheckpoint(eager=False)  # 3 consumers: ctx, cont, scorer join
    ctx = bmodel.groupBy("prev").agg(
        F.sum("bc").alias("c_prev"),
        F.count(F.lit(1)).alias("n1p"),
    )
    cont = bmodel.groupBy("cur").agg(F.count(F.lit(1)).alias("n1c"))
    btot = bmodel.agg(F.count(F.lit(1)).alias("btypes"))
    dn, dd = int(discount_num), int(discount_den)
    if not (0 < dn < dd):
        raise ValueError(
            f"kneser_ney_score: discount must be in (0,1), got {dn}/{dd}"
        )
    micro = F.expr(
        f"CAST(((CAST({dd} AS DECIMAL(38,0)) * bc - {dn}) * btypes"
        f" + {dn} * n1p * n1c) * 2000000"
        f" + ({dd} * CAST(c_prev AS DECIMAL(38,0)) * btypes) AS DECIMAL(38,0))"
        f" div (2 * {dd} * CAST(c_prev AS DECIMAL(38,0)) * btypes)"
    )
    scored = (
        bg.join(bmodel, ["prev", "cur"])
        .join(ctx, "prev")
        .join(cont, "cur")
        .crossJoin(F.broadcast(btot))
        .withColumn("__p_micro", micro)
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        (F.sum("__p_micro") / F.count(F.lit(1)) / 1000000.0).alias(
            "avg_prob"
        ),
        F.min("__p_micro").alias("min_p_micro"),
    )


def es_key_sql(id_expr: str, w_expr: str, salt: str, duck: bool) -> str:
    """The Efraimidis-Spirakis integer key ladder for one row: the
    MAX of ``w`` iid 60-bit md5 coins salted by (salt, j, id),
    j = 1..w. Why this is EXACTLY the E-S distribution for integer
    weights: the E-S key u^(1/w) (u uniform) has CDF x^w on [0,1] —
    the law of the MAXIMUM of w iid uniforms — so 'largest k of
    max-of-w coins' and 'largest k of u^(1/w)' are the same sampler,
    WITHOUT the transcendental pow/ln that a float E-S key needs
    (the no-engine-log doctrine: a 1-ulp libm disagreement at a key
    boundary would flip the sample cross-engine). Same md5km coin as
    the minhash/CMS/HLL families; 60-bit space makes key ties
    across rows ~2^-60-rare, and the id tie-break keeps even those
    deterministic."""
    import re as _re

    # salt is interpolated into a SQL string literal on BOTH engines;
    # restrict it to a quote-free token set so a crafted salt can
    # neither break the expression nor inject SQL (r13 ADVICE).
    if not _re.fullmatch(r"[A-Za-z0-9_.-]+", salt):
        raise ValueError(
            f"es_key_sql: salt must match [A-Za-z0-9_.-]+, got {salt!r}"
        )
    if duck:
        coin = (
            f"CAST(concat('0x', substr(md5(concat('{salt}:', "
            f"CAST(j AS VARCHAR), ':', CAST({id_expr} AS VARCHAR))), "
            f"1, 15)) AS BIGINT)"
        )
        return (
            f"list_max(list_transform(range(1, {w_expr} + 1), "
            f"j -> {coin}))"
        )
    coin = (
        f"cast(conv(substr(md5(concat('{salt}:', cast(j as string), "
        f"':', cast({id_expr} as string))), 1, 15), 16, 10) as bigint)"
    )
    return f"array_max(transform(sequence(1, {w_expr}), j -> {coin}))"


def weighted_sample_wor(
    df: DataFrame,
    k: int,
    weight_col: str = "w",
    id_col: str = "doc_id",
    max_weight: int = 64,
    salt: str = "es",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement
    (Efraimidis & Spirakis 2006, A-Res): take the k rows with the
    largest es_key_sql keys — each row's inclusion competes with
    probability proportional to its integer weight, successive
    draws without replacement, exactly the E-S scheme (see
    es_key_sql for the max-of-w-uniforms identity that makes the
    key ladder integer-exact). No RNG state: rerunning, re-sharding
    or re-engine-ing yields the identical sample; vary ``salt`` for
    fresh draws.

    Weights must be integers in [1, max_weight] — the key costs
    O(w) md5 coins per row (map-side, no shuffle), so the cap
    bounds total work at rows x max_weight; out-of-range weights
    fail fast (the pagerank zero-seed convention) rather than
    silently skewing the sample. Top-k is a TakeOrdered; the only
    k-row window ranks the survivors.

    Returns the input columns plus (es_key, rn)."""
    key = es_key_sql(id_col, weight_col, salt, duck=False)
    guarded = (
        f"CASE WHEN {weight_col} IS NULL OR {weight_col} < 1 "
        f"OR {weight_col} > {max_weight} THEN "
        f"raise_error(concat('weighted_sample_wor: weight out of "
        f"[1, {max_weight}]: ', CAST({weight_col} AS STRING))) "
        f"ELSE {key} END"
    )
    keyed = df.withColumn("es_key", F.expr(guarded))
    topk = keyed.orderBy(
        F.col("es_key").desc(), F.col(id_col)
    ).limit(k)
    w = Window.orderBy(F.col("es_key").desc(), F.col(id_col))
    return topk.withColumn("rn", F.row_number().over(w))


def kneser_ney_score_from_counts(
    counts: DataFrame,
    discount_num: int = 3,
    discount_den: int = 4,
    id_col: str = "doc_id",
) -> DataFrame:
    """kneser_ney_score's scorer over PRE-AGGREGATED per-document
    bigram counts (id, prev, cur, n) — the drained
    stream_kn_bigrams store's shape. The model is
    groupBy(prev, cur).sum(n) over the counts; each document's
    score re-weights the model rows by its own n (sum over
    occurrences of p_micro = sum(n * p_micro)), so the result is
    row-identical to kneser_ney_score over the original documents —
    the streaming twin shares the batch oracle verbatim. Same exact
    integer rational + DECIMAL(38,0)/HUGEINT arithmetic, zero
    transcendentals."""
    counts = counts.localCheckpoint(eager=False)  # model + scorer
    bmodel = counts.groupBy("prev", "cur").agg(
        F.sum("n").alias("bc")
    ).localCheckpoint(eager=False)  # ctx, cont, btot, scorer join
    ctx = bmodel.groupBy("prev").agg(
        F.sum("bc").alias("c_prev"),
        F.count(F.lit(1)).alias("n1p"),
    )
    cont = bmodel.groupBy("cur").agg(F.count(F.lit(1)).alias("n1c"))
    btot = bmodel.agg(F.count(F.lit(1)).alias("btypes"))
    dn, dd = int(discount_num), int(discount_den)
    if not (0 < dn < dd):
        raise ValueError(
            f"kneser_ney_score_from_counts: discount must be in (0,1), "
            f"got {dn}/{dd}"
        )
    micro = F.expr(
        f"CAST(((CAST({dd} AS DECIMAL(38,0)) * bc - {dn}) * btypes"
        f" + {dn} * n1p * n1c) * 2000000"
        f" + ({dd} * CAST(c_prev AS DECIMAL(38,0)) * btypes) AS DECIMAL(38,0))"
        f" div (2 * {dd} * CAST(c_prev AS DECIMAL(38,0)) * btypes)"
    )
    scored = (
        counts.join(bmodel, ["prev", "cur"])
        .join(ctx, "prev")
        .join(cont, "cur")
        .crossJoin(F.broadcast(btot))
        .withColumn("__p_micro", micro)
    )
    return scored.groupBy(id_col).agg(
        F.sum("n").alias("n_bigrams"),
        (
            F.sum(F.col("n") * F.col("__p_micro"))
            / F.sum("n")
            / 1000000.0
        ).alias("avg_prob"),
        F.min("__p_micro").alias("min_p_micro"),
    )

def cdc_chunks(
    df: DataFrame,
    k: int = 8,
    divisor: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CONTENT-DEFINED chunking (the LBFS / backup-dedup boundary
    scheme, Muthitacharoen et al. 2001): cut after every position
    whose k-char gram hash satisfies ``h % divisor == 0``, so chunk
    boundaries move WITH the content — an insertion reflows only the
    chunk it lands in, where chunk_documents' fixed stride reflows
    everything downstream (the two are complementary: fixed-size for
    context-window prep, content-defined for storage/transfer dedup).

    This is BASIC CDC — no min/max clamp. The min-size clamp of
    FastCDC-style variants makes each boundary depend on the previous
    one (a per-doc sequential chain, hostile to declarative
    evaluation); basic CDC's boundary set is a stateless per-position
    predicate, so the whole operator is gram hash -> filter ->
    per-doc window, all column expressions. Expected chunk length is
    ``divisor`` chars (geometric); the long tail is bounded in
    practice and documented rather than clamped.

    Gram hashes and chunk fingerprints reuse the portable 48-bit md5
    idiom, so everything replays bit-for-bit in any engine. Shape:
    one gram explode (~chars rows), a boundary filter keeping
    ~1/divisor of them, a union with the one-sentinel-per-doc frame,
    one doc-partitioned window (lag) pairing consecutive cuts — no
    cross-doc shuffle anywhere.

    Returns (id, chunk_idx INT, start INT, chunk_len INT,
    chunk_fp BIGINT) — fp is the 48-bit md5 of the chunk text, the
    key a storage layer dedups on."""
    from pyspark.sql import Window as _Win

    n_part = shuffle_width(df.sparkSession)
    norm = T.normalize(text_col)
    # repartition by doc BEFORE the gram explosion (the winnowing
    # lesson): a compact input runs the explode+hash on one task
    # otherwise, and the cut-pairing window wants id-hash
    # distribution anyway — one shuffle of the short texts buys
    # full-width parallelism downstream
    d = (
        df.select(
            F.col(id_col).alias("id"),
            norm.alias("t"),
        )
        .repartition(n_part, "id")
        .select("id", "t", F.length("t").alias("n"))
        .filter(F.col("n") > 0)
    )
    grams = d.select(
        "id",
        "t",
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
    )
    boundary_cuts = grams.filter(
        F.expr(
            "pmod(cast(conv(substr(md5(g), 1, 12), 16, 10) as bigint), "
            f"{int(divisor)}) = 0"
        )
    ).select(
        "id", "t", "n", (F.col("pos0") + F.lit(k)).alias("cut")
    )
    # sentinel cut at n closes the final chunk; a boundary gram may
    # also end exactly at n — the distinct collapses the two
    cuts = (
        boundary_cuts.unionByName(
            d.select("id", "t", "n", F.col("n").alias("cut"))
        )
        .distinct()
        .filter(F.col("cut") <= F.col("n"))
    )
    w = _Win.partitionBy("id").orderBy("cut")
    chunks = cuts.select(
        "id",
        "t",
        F.row_number().over(w).alias("chunk_idx"),
        (F.coalesce(F.lag("cut").over(w), F.lit(0)) + 1).alias("start"),
        F.col("cut"),
    ).select(
        "id",
        "chunk_idx",
        F.col("start").cast("int").alias("start"),
        (F.col("cut") - F.col("start") + 1).cast("int").alias("chunk_len"),
        F.expr(
            "cast(conv(substr(md5(substr(t, start, cut - start + 1)), "
            "1, 12), 16, 10) as bigint)"
        ).alias("chunk_fp"),
    )
    return chunks
