"""Similarity search over embedding columns.

ANN building blocks (SURVEY.md §2.11): brute-force cosine top-k as
the exact baseline, plus two scale paths — random-hyperplane LSH
bucketing and an IVF-style coarse quantizer — that turn the scan into
a bucket-pruned search. Both scale paths keep the same argmin/top-k
tail so results are directly comparable to the exact baseline.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import vector as V
from .skew import widen_narrow_source


def cosine_topk(
    emb: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_id: int | None = None,
) -> DataFrame:
    """Exact top-k by cosine vs a constant query vector. The dot
    product folds to a codegen'd expression (no UDF, no broadcast
    needed for a single vector); global top-k via orderBy+limit is a
    TakeOrdered — no full sort at scale."""
    # zero-norm guard: cosine of a zero vector is 0/0 = NaN, and Spark
    # ORDERS NaN above every real double — an all-zero embedding would
    # otherwise rank #1 and displace a true neighbor out of the k
    # (the pandas pair path masks zero norms the same way)
    self_dot = F.aggregate(
        F.col(vec_col), F.lit(0.0), lambda a, x: a + x.cast("double") * x
    )
    scored = emb.filter(self_dot > 0).select(
        F.col(id_col),
        # quantized-exact cosine + zero-sign normalization: the
        # round-6 rank/display key is bit-identical on every engine
        # (see cosine_q / SCALE.md's r09 harness catches)
        (F.round(cosine_literal_q(vec_col, query), 6) + F.lit(0.0)).alias(
            "cosine"
        ),
    )
    if exclude_id is not None:
        scored = scored.filter(F.col(id_col) != exclude_id)
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col).asc()).limit(k)


VEC_QUANT = 1_000_000.0  # 1e-6 component quantum for exact cross-engine dots
PLANE_QUANT = 1_000.0  # LSH plane components are k/1000 rationals


def round_half_away(x: float) -> int:
    """Integer rounding with EXACT half-away-from-zero semantics on
    the binary value of ``x`` — verified identical to both Spark's
    ``F.round(_, 0)`` and DuckDB's ``ROUND(_, 0)`` on doubles
    (including 0.49999999999999994 -> 0 and +-23436.5 -> +-23437).

    Every driver/numpy-side quantizer MUST use this (not Python's
    ``round``, which banker's-rounds halves to even, and not
    ``floor(abs(x) + 0.5)``, which double-rounds UP for doubles one
    ulp below a half-integer because the ``+ 0.5`` is itself a
    rounded float add). ``a - floor(a)`` below is exact: ``a`` and
    ``floor(a)`` share a common ulp grid for ``a < 2**53``, so the
    subtraction's true result is representable and IEEE returns it
    bit-exactly — the ``>= 0.5`` test therefore decides on the TRUE
    fractional part."""
    a = abs(x)
    f = math.floor(a)
    if a - f >= 0.5:
        f += 1
    return -f if x < 0 else f


def np_round_half_away(arr):
    """Vectorized :func:`round_half_away` for float64 ndarrays (same
    exact-subtraction argument; returns integer-valued float64)."""
    import numpy as np

    a = np.abs(arr)
    f = np.floor(a)
    r = np.where(a - f >= 0.5, f + 1.0, f)
    return np.where(arr < 0, -r, r)


def _vq(vec_col) -> "F.Column":
    """Vector components quantized to integer micros (as integer-
    valued DOUBLES): round(x * 1e6). Dots over these are sums of
    integers far below 2^53, so they are EXACT in any summation
    order on any engine — the fix for the cross-engine float
    near-miss class (two libms' multi-term float dots differ by
    ulps; at sf0.1 one flipped an LSH sign bit and a round-4 rank
    boundary in knn_graph_embeddings)."""
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return F.transform(c, lambda x: F.round(x.cast("double") * VEC_QUANT, 0))


def _dotq(a, b) -> "F.Column":
    """Exact dot of two integer-valued-double arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x
    )


def cosine_q(vec_a, vec_b) -> "F.Column":
    """Cross-engine bit-stable cosine: exact integer-micro dots, then
    one division and two correctly-rounded sqrts — every step is an
    IEEE correctly-rounded scalar op on identical inputs, so Spark,
    numpy and DuckDB agree to the last bit (the 1e6 scale factors
    cancel). Quantization shifts the value by O(1e-6) relative to
    the unquantized cosine — far inside every threshold/round the
    catalog uses."""
    qa, qb = _vq(vec_a), _vq(vec_b)
    return _dotq(qa, qb) / (F.sqrt(_dotq(qa, qa)) * F.sqrt(_dotq(qb, qb)))


def _vq_terms(vec_col: str, dim: int) -> list[str]:
    """SQL strings for the integer-micro components of ``vec_col`` —
    building blocks for FOLDED (whole-stage-codegen'd) quantized
    dots: the zip_with/aggregate HOF form is interpreted and measured
    2-4x slower on the pair-scoring hot paths."""
    return [
        f"ROUND(element_at({vec_col}, {i}) * 1000000.0D, 0)"
        for i in range(1, dim + 1)
    ]


def _dotq_cols(a: str, b: str, dim: int) -> "F.Column":
    """Codegen'd exact dot of two ALREADY-QUANTIZED (integer-valued
    double) array columns of known ``dim``."""
    terms = " + ".join(
        ["0.0D"]
        + [f"element_at({a}, {i}) * element_at({b}, {i})" for i in range(1, dim + 1)]
    )
    return F.expr(terms)


def _dim_of(df: DataFrame, vec_col: str) -> int:
    """Array dimensionality probe (one bounded 1-row collect). 0 for
    an empty frame — folded expressions degrade to the 0.0D seed."""
    row = df.select(F.size(F.col(vec_col)).alias("d")).first()
    return int(row["d"]) if row and row["d"] is not None else 0


# Training frames are widened (skew.widen_narrow_source) before their
# lazy localCheckpoint: a one-file parquet table scans as ONE
# partition and a checkpoint preserves that, so every Lloyd pass
# would run as a single task (the r07 catch; ann_ivfpq_topk 10.8 s
# -> ~6 s at sf0.1). Row placement does not affect results anywhere
# this is done: seeds select by id, aggregates sum integers, and
# assignments are per-row.


def cosine_literal_q(vec_col: str, query: list[float]) -> "F.Column":
    """cosine_q against a driver-side constant query vector, FOLDED
    into one codegen'd expression (the dot_literal doctrine — HOFs
    are interpreted): the query's integer-micro components become
    inline literals, its norm is computed EXACTLY in Python integers
    (then one correctly-rounded math.sqrt — bit-equal to SQL SQRT on
    the same integer). Every engine computing this formula over the
    same rows returns the same double bits."""
    q_ints = [round_half_away(x * VEC_QUANT) for x in query]
    qn = math.sqrt(sum(v * v for v in q_ints))
    vt = _vq_terms(vec_col, len(q_ints))
    dot_s = " + ".join(
        ["0.0D"] + [f"{t} * {float(v)!r}D" for t, v in zip(vt, q_ints)]
    )
    n_s = " + ".join(["0.0D"] + [f"{t} * {t}" for t in vt])
    return F.expr(f"(({dot_s}) / (SQRT({n_s}) * {qn!r}D))")


def lsh_bucket_assignments(
    emb: DataFrame,
    planes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane LSH: sign bits of dot(v, plane_i) packed into
    a bucket id. Vectors in the same bucket are near in angle with
    high probability; near-dup search joins within buckets only.

    The sign test runs on EXACT integer dots (components at the 1e-6
    quantum x plane components at the 1e-3 quantum — LSH_PLANES'
    construction grid), not float dots: a float dot within an ulp of
    zero evaluates to opposite signs on different engines, silently
    moving the vector to a different bucket and changing every
    candidate set downstream (observed at sf0.1). Plane components
    are contractually 1e-3 rationals; arbitrary float planes would be
    quantized to that grid here."""
    bucket = F.lit(0).cast("long")
    vt = _vq_terms(vec_col, len(planes[0]) if planes else 0)
    for i, p in enumerate(planes):
        # folded codegen'd plane dot (HOFs are interpreted)
        dot_s = " + ".join(
            ["0.0D"]
            + [
                f"{t} * {float(round_half_away(x * PLANE_QUANT))!r}D"
                for t, x in zip(vt, p)
            ]
        )
        bit = (F.expr(dot_s) > 0).cast("long")
        bucket = bucket.bitwiseOR(F.shiftleft(bit, i))
    return emb.select(F.col(id_col), F.col(vec_col), bucket.alias("bucket"))


def knn_graph_lsh(
    emb: DataFrame,
    planes: list[list[float]],
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate k-NN graph: for EVERY vector, its top-k cosine
    neighbors among vectors sharing its hyperplane-LSH bucket — the
    all-queries generalization of ann_topk_batch (whose broadcast
    query block stops working when the query set IS the corpus).

    Scale shape: one bucket self-join (shuffle linear in |vectors|,
    bucket width controlled by |planes|) + one per-vector top-k
    window. No cross join, no broadcast of the corpus. Deterministic
    and oracle-pairable because the planes are literals: both engines
    compute identical sign-bit buckets, and ties break on
    (round-4 cosine desc, neighbor id asc).

    Vectors alone in their bucket yield no rows (standard LSH recall
    trade-off; more bands/planes is the recall knob).

    Two scale contracts, both measured by tools/scale_smoke.py:
    (1) plane count must grow with log2(|corpus|) to hold bucket
    OCCUPANCY constant — fixed planes make the self-join quadratic
    in occupancy; (2) near-identical vectors always share a bucket
    no matter how many planes, so a duplicate-heavy corpus must be
    deduplicated (operators/dedup) BEFORE graph construction — the
    standard pipeline order, since duplicate neighbors are
    worthless in a k-NN graph anyway."""
    self_dot = F.aggregate(
        F.col(vec_col), F.lit(0.0), lambda a, x: a + x.cast("double") * x
    )
    # lazy localCheckpoint: the bucket table feeds BOTH sides of the
    # self-join; without it the |planes| x dim sign-bit expression
    # (and the scan under it) evaluates once per side and re-inlines
    # into every downstream operator — measured 16 s -> ~1 s at 2000
    # vectors. Same materialize-the-signature-table shape as
    # minhash_lsh_pairs, and what a 100 TB run would persist anyway.
    dim = _dim_of(emb, vec_col)
    # quantize ONCE per row (vq + exact norm) so the per-PAIR work in
    # the bucket self-join is a single codegen'd folded dot
    b = (
        lsh_bucket_assignments(
            emb.filter(self_dot > 0), planes,
            id_col=id_col, vec_col=vec_col,
        )
        .withColumn("__vq", _vq(vec_col))
        .withColumn(
            "__nq", F.sqrt(F.expr(
                " + ".join(
                    ["0.0D"]
                    + [f"element_at(__vq, {i}) * element_at(__vq, {i})"
                       for i in range(1, dim + 1)]
                )
            ))
        )
        .localCheckpoint(eager=False)
    )
    a = b.select(
        F.col("bucket"),
        F.col(id_col).alias("qid"),
        F.col("__vq").alias("qvq"),
        F.col("__nq").alias("qnq"),
    )
    c = b.select(
        F.col("bucket"),
        F.col(id_col).alias("nid"),
        F.col("__vq").alias("nvq"),
        F.col("__nq").alias("nnq"),
    )
    scored = (
        a.join(c, "bucket")
        .filter(F.col("qid") != F.col("nid"))
        .select(
            "qid",
            "nid",
            # quantized-exact cosine, not a float dot: the round-4
            # rank key must be bit-identical across engines or the
            # k-th neighbor flips at a rounding boundary. The + 0.0
            # normalizes NEGATIVE ZERO: Spark's round(-3.7e-5, 4)
            # yields +0.0 but DuckDB's yields -0.0, and the driver
            # hashes float BITS — the actual sf0.1 failure
            (
                F.round(
                    _dotq_cols("qvq", "nvq", dim)
                    / (F.col("qnq") * F.col("nnq")),
                    4,
                )
                + F.lit(0.0)
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("cosine").desc(), F.col("nid").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("qid", "nid", "cosine")
    )


def cosine_pairs_in_groups(
    grouped: DataFrame,
    group_cols: list[str],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    symmetric: bool = True,
    split_col: str | None = None,
) -> DataFrame:
    """All-pairs cosine WITHIN each group via Arrow + BLAS.

    One `applyInPandas` per group: stack the group's vectors into a
    matrix, one normalized matmul gives every pairwise cosine — the
    per-pair cost is a fused multiply-add in BLAS instead of an
    interpreted higher-order expression (~50x) or a codegen'd unroll
    (which Janino refuses to compile at dim 64). The shuffle is linear
    in |vectors|; per-group memory is O(group^2), so group size is the
    caller's skew knob (LSH bucket width / block size).

    With ``split_col`` (two-sided blocks), rows where split_col ==
    group_cols[0] form side A, the rest side B; only A x B pairs are
    emitted — the blocked exact-all-pairs path. Output: id1 < id2,
    cosine >= threshold.
    """
    import numpy as np
    import pandas as pd

    out_schema = "id1 long, id2 long, cosine double"
    empty = pd.DataFrame({
        "id1": pd.Series(dtype="int64"),
        "id2": pd.Series(dtype="int64"),
        "cosine": pd.Series(dtype="float64"),
    })

    def fn(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return empty
        ids = pdf[id_col].to_numpy()
        # integer-micro quantization BEFORE the matmul (cosine_q's
        # contract): Q @ Q.T sums integer-valued float64 far below
        # 2^53, so BLAS accumulation order cannot move a bit and the
        # values match the SQL oracle's quantized dots exactly; the
        # normalize-then-matmul float form differed from another
        # engine's dot by ulps (the sf0.1 near-miss class)
        M = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        Q = np_round_half_away(M * 1e6)
        n = (Q * Q).sum(axis=1)
        sn = np.sqrt(n)
        sn[sn == 0.0] = np.nan
        if split_col is not None and key[0] != key[1]:
            a = pdf[split_col].to_numpy() == key[0]
            if not a.any() or a.all():
                return empty
            S = (Q[a] @ Q[~a].T) / (sn[a][:, None] * sn[~a][None, :])
            i1, i2 = np.nonzero(S >= threshold)
            x, y = ids[a][i1], ids[~a][i2]
            c = S[i1, i2]
        else:
            S = (Q @ Q.T) / (sn[:, None] * sn[None, :])
            i1, i2 = np.triu_indices(len(ids), k=1)
            c = S[i1, i2]
            keep = c >= threshold
            x, y, c = ids[i1[keep]], ids[i2[keep]], c[keep]
        lo, hi = np.minimum(x, y), np.maximum(x, y)
        return pd.DataFrame({"id1": lo, "id2": hi, "cosine": c})

    return grouped.groupBy(*group_cols).applyInPandas(fn, out_schema)


def cosine_pairs_blocked(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    num_blocks: int = 8,
) -> DataFrame:
    """Exact all-pairs cosine without a row-level cross join: hash
    ids into ``num_blocks`` blocks, replicate each row to its
    num_blocks block-pairs, and matmul inside each (b1, b2) group.
    Data volume is |vectors| * num_blocks (choose num_blocks ~
    sqrt(parallelism) at scale); every unordered row pair lands in
    exactly one group."""
    partners = F.array(*[F.lit(j) for j in range(num_blocks)])
    e = (
        emb.select(F.col(id_col), F.col(vec_col))
        .withColumn("__blk", F.pmod(F.hash(F.col(id_col)), F.lit(num_blocks)))
        .withColumn("__p", F.explode(partners))
        .withColumn("__b1", F.least("__blk", "__p"))
        .withColumn("__b2", F.greatest("__blk", "__p"))
        .select(id_col, vec_col, "__b1", "__b2", "__blk")
    )
    return cosine_pairs_in_groups(
        e,
        ["__b1", "__b2"],
        id_col=id_col,
        vec_col=vec_col,
        threshold=threshold,
        split_col="__blk",
    )


def assign_centroids(
    emb: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Map-side nearest-centroid assignment over a literal codebook:
    each per-centroid cosine evaluated once into a (sim, cid) struct,
    array_max = argmax (linear expression size in |centroids|)."""
    # cosine_literal_q, not a float cosine: the argmax must pick the
    # same cell on every engine (and on every re-encode of the same
    # vector) — see SCALE.md's r09 cross-engine bit-stability rule
    sim_structs = F.array(*[
        F.struct(
            cosine_literal_q(vec_col, cvec).alias("sim"),
            F.lit(cid).alias("cid"),
        )
        for cid, cvec in centroids
    ])
    return emb.withColumn("centroid_id", F.array_max(sim_structs)["cid"])


def write_ivf_index(
    emb: DataFrame,
    centroids: list[tuple[int, list[float]]],
    path: str,
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF index: vectors written partitioned by
    their nearest centroid, so a probe is a PARTITION-PRUNED scan
    (PartitionFilters, zero I/O outside probed cells) instead of a
    full scan + filter. This is the write-time half of ivf_topk's
    scale story."""
    assign_centroids(emb, centroids, vec_col).write.mode(
        "overwrite"
    ).partitionBy("centroid_id").parquet(path)


def ivf_topk_indexed(
    spark,
    path: str,
    query: list[float],
    centroids: list[tuple[int, list[float]]],
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe a write_ivf_index store: the centroid_id filter prunes
    whole directories at planning time."""
    probes = _nearest_probes(query, centroids, n_probe)
    pruned = spark.read.parquet(path).filter(F.col("centroid_id").isin(probes))
    return cosine_topk(pruned, query, k, id_col=id_col, vec_col=vec_col)


def _nearest_probes(
    query: list[float], centroids: list[tuple[int, list[float]]], n_probe: int
) -> list[int]:
    """The n_probe centroid ids closest (cosine) to the query —
    driver-side; the codebook is tiny by construction. Quantized
    integer-micro arithmetic so the probe set matches any SQL
    oracle's quantized ORDER BY exactly."""

    def cos(a, b):
        qa = [round_half_away(float(x) * VEC_QUANT) for x in a]
        qb = [round_half_away(float(x) * VEC_QUANT) for x in b]
        num = sum(x * y for x, y in zip(qa, qb))
        na = math.sqrt(sum(x * x for x in qa))
        nb = math.sqrt(sum(x * x for x in qb))
        return num / (na * nb) if na and nb else 0.0

    return [
        cid
        for cid, cvec in sorted(centroids, key=lambda c: -cos(query, c[1]))[:n_probe]
    ]


def ivf_topk(
    emb: DataFrame,
    query: list[float],
    centroids: list[tuple[int, list[float]]],
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style ANN: assign every vector to its nearest centroid
    (map-side argmin over a literal codebook), search only the
    ``n_probe`` centroids nearest the query. Approximate: recall
    depends on codebook quality; tests measure it against
    cosine_topk. The write-time twin (write_ivf_index /
    ivf_topk_indexed) turns the probe into a partition-pruned scan.

    Assignment shape: each per-centroid cosine is evaluated ONCE into
    a (sim, cid) struct; array_max picks the lexicographic max =
    argmax by sim. (A naive when-chain fold that nests best_sim
    inside itself doubles the expression tree per centroid —
    2^|centroids| copies of the 64-term dot product, a ~10 MB task
    binary, and ~25x slowdown.)"""
    assigned = assign_centroids(emb, centroids, vec_col)
    probes = _nearest_probes(query, centroids, n_probe)
    pruned = assigned.filter(F.col("centroid_id").isin(probes))
    return cosine_topk(pruned, query, k, id_col=id_col, vec_col=vec_col)


def _assign_quantized(
    emb: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str,
    quant: int,
) -> DataFrame:
    """Nearest-centroid assignment over a literal codebook with
    engine-portable determinism: each cosine is quantized to
    ``quant`` decimals BEFORE the argmax, and ties break to the
    LOWEST centroid id (struct max over (sim_q, -cid)) — so any
    engine that reproduces the quantized sims reproduces the exact
    assignment.

    Shape: ONE foldable array<struct(c, qn, ncid)> literal carrying
    the whole codebook, scanned by interpreted HOFs. The codebook
    values live in the codegen REFERENCES array, not the generated
    source, so re-invoking with NEW centroids (every Lloyd
    iteration) replans a tiny stable plan instead of recompiling a
    k*dim-literal whole-stage method — the r10 fix for per-iteration
    Janino cost dominating training at gate SF (and the HOF scan
    measured no slower per-row than the string-dot unroll at 100k
    rows). Arithmetic is term-for-term identical to the previous
    per-centroid cosine_literal form (left-assoc dot, norm*qn
    denominator), verified bit-equal on real data."""
    # ONE parsed SQL string (the _l2_keys_hof convention): composing
    # this literal through the Column API costs |k| * dim F.lit py4j
    # round-trips PER INVOCATION (~0.3-0.5 s at k=8 x dim=64), and
    # kmeans_fit invokes it every Lloyd iteration — measured as a
    # first-order term of ann_ivfpq_topk's fixed latency. repr()
    # double literals round-trip exactly (Java parseDouble is
    # correctly rounded), so the plan holds the same Literal values
    # as the previous F.lit form; expression shape and FP order are
    # term-for-term identical.
    entries = ", ".join(
        "named_struct('c', array({cs}), 'qn', {qn!r}D, 'ncid', {ncid})".format(
            cs=", ".join(f"{float(x)!r}D" for x in cvec),
            qn=float(_sum_sq(cvec) ** 0.5),
            ncid=-cid,
        )
        for cid, cvec in centroids
    )
    # the row norm SQRT(sum x^2) is loop-invariant across the k
    # codebook entries but was evaluated INSIDE the per-entry lambda —
    # k times per row (interpreted HOFs get no codegen subexpression
    # elimination). Binding it once as the element of a 1-entry outer
    # transform evaluates it once per row; a plain withColumn would
    # NOT survive (CollapseProject counts the single textual reference
    # and inlines it back into the lambda — the r09 element_at trap).
    # Same ops on the same values in the same order: bit-identical
    # sims, so assignments and every downstream centroid are
    # unchanged (oracle-checked).
    sims = F.expr(
        f"transform("
        f"array(SQRT(aggregate({vec_col}, 0.0D, (acc, x) -> acc + x * x))), "
        f"rn -> transform(array({entries}), b -> named_struct("
        f"'sim', ROUND(aggregate(zip_with({vec_col}, b.c, "
        f"(x, y) -> x * y), 0.0D, (a, v) -> a + v) / "
        f"(rn * b.qn), {quant}), "
        f"'ncid', b.ncid)))[0]"
    )
    best = F.array_max(sims)
    # alias the argmax ONCE and extract fields from the alias: the
    # previous two withColumns each inlined the WHOLE k-entry scan
    # into the collapsed Project, so consumers reading both columns
    # (cluster_profile, semantic_dedup's checkpointed assignment)
    # paid the assignment twice per row. CollapseProject keeps the
    # alias separate (non-cheap expression referenced twice —
    # probe-verified: the transform appears once in the optimized
    # plan). kmeans_fit's training loop prunes to centroid_id either
    # way; values are bit-identical.
    return (
        emb.withColumn("__best_aq", best)
        .withColumn("centroid_id", -F.col("__best_aq")["ncid"])
        .withColumn("centroid_sim", F.col("__best_aq")["sim"])
        .drop("__best_aq")
    )


def _assign_l2_quantized(
    emb: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str,
) -> DataFrame:
    """Nearest-centroid assignment by squared L2 with the EXACT
    compare key pq_encode uses: argmin over
    round((||c||^2 - 2<x,c>) * 1e6) as BIGINT, ties to the lowest
    centroid id (F.least over (d, cid) structs — lexicographic min).
    Training with this assignment makes kmeans_fit(metric="l2") the
    codebook trainer pq_encode actually quantizes against; the r06
    recall collapse (0.1-0.3 vs 0.8+) was cosine-trained books fed
    to this L2 encoder — direction-only centroids with the wrong
    subvector magnitudes."""
    cands = []
    for cid, c in centroids:
        cc = 0.0
        for x in c:
            cc += x * x
        key = F.round(
            (F.lit(cc) - 2.0 * _dot_literal_offset(vec_col, c, 0)) * 1e6, 0
        ).cast("long")
        cands.append(F.struct(key.alias("d"), F.lit(cid).alias("cid")))
    best = F.least(*cands)
    return emb.withColumn("centroid_id", best["cid"])


def kmeans_fit(
    emb: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant: int = 6,
    checkpoint_input: bool = True,
    metric: str = "cosine",
) -> list[tuple[int, list[float]]]:
    """Distributed spherical k-means (Lloyd) — the trained-codebook
    upgrade for the IVF path (write_ivf_index / ivf_topk take the
    returned codebook directly) and the core of semantic clustering /
    semantic-dedup pipelines.

    Fully deterministic and engine-portable, so the catalog query it
    backs is ORACLE-PAIRED — rare for an iterative algorithm:
      * init: the vectors of the k smallest ids (one bounded collect);
      * assignment: argmax of round(cosine, quant), ties to the
        lowest centroid id (_assign_quantized);
      * update: per-dimension integer-micro mean — sum of
        round(component * 1e6) as BIGINT / n / 1e6, re-rounded to
        ``quant`` — so float summation order can never move a
        centroid bit (the relational.cents_sum doctrine); an empty
        cluster keeps its previous centroid. Centroid means are NOT
        re-normalized: cosine divides by the norm, so the mean
        direction is the spherical-k-means centroid already.

    ``metric`` selects the assignment rule (the update — plain
    integer-micro mean — is the correct Lloyd update for BOTH):
      * "cosine" (default): argmax of round(cosine, quant), the
        spherical variant — right for IVF/cosine search codebooks;
      * "l2": argmin of the quantized ``||c||^2 - 2<x,c>`` BIGINT
        key via _assign_l2_quantized — the STANDARD PQ trainer,
        byte-identical to the compare key pq_encode assigns codes
        with, so trained codebooks and encoded codes agree.

    Scale shape: per iteration one NARROW posexplode aggregate —
    (cid, dim, micro) rows whose map-side combine collapses each
    partition to <= k*dim rows before the shuffle — and a k x dim
    driver collect (config-sized, same bounded-transfer class as the
    bloom words). The earlier k-row x dim-column WIDE aggregate
    carried the same integer sums but cost ~1 s of analyzer/optimizer
    time per iteration regardless of data volume (SCALE.md r10).
    n_iter+1 passes over the vectors — persist the input upstream for
    big n_iter. Pass ``vec_col`` pre-cast to array<double>: float
    components would square in float32 on the Spark side while any
    double-typed oracle squares in float64.
    """
    # n_iter+1 passes read the input (seeds + per-iteration sums): one
    # lazy localCheckpoint materializes the scan+cast once — the same
    # persist-the-base advice the docstring gives for big n_iter,
    # applied at the operator level (pass checkpoint_input=False when
    # the caller already checkpointed, e.g. kmeans_cluster_profile)
    if checkpoint_input:
        emb = widen_narrow_source(emb).localCheckpoint(eager=False)
    seed_rows = (
        emb.select(id_col, vec_col)
        .orderBy(F.col(id_col).asc())
        .limit(k)
        .collect()
    )
    if not seed_rows:
        return []
    dim = len(seed_rows[0][vec_col])

    def _seed_round(x: float) -> float:
        # half-away-from-zero at `quant` decimals — the same rounding
        # DuckDB's ROUND and Spark's F.round apply. Python's round()
        # banker's-rounds, so a seed component landing on a
        # representable decimal tie would diverge the whole Lloyd run
        # cross-engine (the mean_micro hazard, at the seed).
        f = 10.0 ** quant
        return round_half_away(float(x) * f) / f

    centroids = [
        (i, [_seed_round(x) for x in r[vec_col]])
        for i, r in enumerate(seed_rows)
    ]
    if metric not in ("cosine", "l2"):
        raise ValueError(f"unknown kmeans metric {metric!r}")
    for _ in range(n_iter):
        if metric == "l2":
            assigned = _assign_l2_quantized(emb, centroids, vec_col)
        else:
            assigned = _assign_quantized(emb, centroids, vec_col, quant)
        # narrow (cid, dim, micro) rows via posexplode, NOT dim sum
        # columns: a 64-aggregate plan costs ~1 s of analyzer/
        # optimizer time PER ITERATION regardless of data size (the
        # r10 planning-cost catch); the narrow form plans in ms and
        # the integer sums are identical in any shape. k*dim result
        # rows collected (codebook-sized).
        sums = (
            assigned.select(
                "centroid_id", F.posexplode(F.col(vec_col)).alias("d", "x")
            )
            .groupBy("centroid_id", "d")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.round(F.col("x") * 1_000_000, 0).cast("long")
                ).alias("s"),
            )
            .collect()
        )
        by_cid: dict = {}
        for r in sums:
            by_cid.setdefault(r["centroid_id"], {})[r["d"]] = r

        def mean_micro(s: int, n: int) -> float:
            # integer round-half-away-from-zero(s/n), then /1e6: a
            # micro-sum / count CAN land exactly on a .5 tie (s=3,
            # n=2), where float rounding diverges across engines and
            # Python's round() banker's-rounds — the same reason
            # relational._ratio_round exists. Pure ints, no tie.
            r = (2 * abs(s) + n) // (2 * n)
            return (r if s >= 0 else -r) / 1e6

        centroids = [
            (
                cid,
                [
                    mean_micro(
                        by_cid[cid][d]["s"], by_cid[cid][d]["n"]
                    )
                    for d in range(dim)
                ]
                if cid in by_cid
                else prev,
            )
            for cid, prev in centroids
        ]
    return centroids


def kmeans_cluster_profile(
    emb: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant: int = 6,
) -> DataFrame:
    """Cluster-level summary after kmeans_fit: one row per centroid
    with member count and the integer-micro mean of the quantized
    member-to-centroid cosines (deterministic; empty clusters are
    absent). Columns: centroid_id, n_vecs, avg_sim."""
    # fit passes + final assign share one materialization
    emb = widen_narrow_source(emb).localCheckpoint(eager=False)
    centroids = kmeans_fit(
        emb, k, n_iter, id_col, vec_col, quant, checkpoint_input=False
    )
    assigned = _assign_quantized(emb, centroids, vec_col, quant)
    # integer-micro sum, then plain double division (the _avg_milli
    # shape) — summation order can't move a bit, and long/long/1e6
    # division is bit-identical across engines
    return assigned.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        (
            F.sum(F.round(F.col("centroid_sim") * 1_000_000, 0).cast("long"))
            / F.count(F.lit(1))
            / 1e6
        ).alias("avg_sim"),
    )


def label_centroids(
    emb: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Per-label mean vectors (class prototypes) with the kmeans_fit
    update arithmetic: one NARROW posexplode aggregate — (label, dim,
    micro-sum, count) rows, map-side-combined to <= n_labels*dim rows
    per partition before the shuffle — then integer-micro
    round-half-away means on the driver (n_labels x dim rows
    collected; codebook-sized, the bounded-transfer class). Returns
    [(label, [mean components])] sorted by label, consumable anywhere
    a kmeans_fit codebook is (assign/IVF/classify)."""
    sums = (
        emb.select(
            F.col(label_col).alias("_lbl"),
            F.posexplode(F.col(vec_col)).alias("d", "x"),
        )
        .groupBy("_lbl", "d")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("x") * 1_000_000, 0).cast("long")).alias(
                "s"
            ),
        )
        .collect()
    )
    by_lbl: dict = {}
    for r in sums:
        by_lbl.setdefault(r["_lbl"], {})[r["d"]] = r

    def mean_micro(s: int, n: int) -> float:
        r = (2 * abs(s) + n) // (2 * n)
        return (r if s >= 0 else -r) / 1e6

    out = []
    for lbl in sorted(by_lbl):
        dims = by_lbl[lbl]
        out.append(
            (
                lbl,
                [
                    mean_micro(dims[d]["s"], dims[d]["n"])
                    for d in range(len(dims))
                ],
            )
        )
    return out


def centroid_classify(
    emb: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    quant: int = 6,
) -> DataFrame:
    """Nearest-centroid (Rocchio / prototype) classification
    self-evaluation: build one prototype per label (label_centroids),
    assign every vector to its nearest prototype by quantized cosine
    (ties to the lowest label — _assign_quantized's engine-portable
    argmax), and report the confusion matrix as (label,
    predicted_label, n_vecs) counts — the standard cheap linear probe
    for judging whether an embedding column separates its classes,
    run before spending on ANN indexes or trained classifiers over
    100 TB of vectors.

    Determinism chain: prototypes are integer-micro means (bit-stable
    under any partitioning/engine), sims are round(cosine, quant), so
    the confusion counts are exactly reproducible — STRICT-oracle
    material despite the two-stage train/score shape. Scale: one
    narrow posexplode aggregate + one broadcast-codebook map-side
    assignment + one two-key groupBy; driver state is the
    n_labels x dim prototype table."""
    # prototype pass + assign pass share one materialization
    emb = widen_narrow_source(emb).localCheckpoint(eager=False)
    cents = label_centroids(emb, label_col, vec_col)
    assigned = _assign_quantized(emb, cents, vec_col, quant)
    return assigned.groupBy(
        F.col(label_col).alias("label"),
        F.col("centroid_id").alias("predicted_label"),
    ).agg(F.count(F.lit(1)).alias("n_vecs"))


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the memory-bound ANN scale path
# ---------------------------------------------------------------------------

def _round_half_away_micro(x: float) -> int:
    """Integer micro-units with half-away-from-zero rounding — the
    Python twin of `CAST(ROUND(x * 1e6, 0) AS BIGINT)` on both
    engines (Python's round() banker's-rounds; see kmeans_fit)."""
    return round_half_away(x * 1e6)


def _dot_literal_offset(col: str, sub: list[float], offset: int):
    """Dot of ``col[offset : offset+len(sub)]`` with a constant
    subvector, as ONE parsed expression (left-assoc double sum —
    bit-identical to DuckDB's list_dot_product over the same slice;
    the string form avoids the per-term py4j cost, see
    functions.vector.dot_literal)."""
    terms = " + ".join(
        ["0.0D"]
        + [f"{col}[{offset + j}] * {float(q)!r}D" for j, q in enumerate(sub)]
    )
    return F.expr(f"({terms})")


def _l2_keys_hof(vec_col: str, book: list[tuple[int, list[float]]], offset: int):
    """array<struct<d:long, cid:int>> of the quantized L2 compare
    keys (round((||c||^2 - 2<x,c>) * 1e6) as BIGINT) for every
    centroid in ``book``, against vec_col[offset : offset+sub] —
    via higher-order functions over a nested-array codebook LITERAL.
    The generated code is O(1) in k*sub (the codebook lives in the
    references array, the lambdas evaluate interpreted), where the
    string-dot unroll emits k*sub multiply terms + k struct
    allocations and Janino heap-OOMs past ~64 structs per projection
    (m=16 x k=16 = 256). FP evaluation order is IDENTICAL to
    _dot_literal_offset's left-assoc sum — ((0 + x0*c0) + x1*c1)... —
    so both formulations produce bit-equal keys (tests assert it).
    argmin = F.array_min (lexicographic struct min: lowest d, ties
    to lowest cid — the pq_encode tie rule).

    Built as ONE parsed SQL string (the _dot_literal_offset
    convention): composing the same tree through the Column API costs
    ~2k py4j round trips per m=16 x k=16 call — measured ~3 s of
    driver time per training iteration — where one F.expr parse is
    JVM-side and O(ms)."""
    sub = len(book[0][1])
    entries = ", ".join(
        "named_struct('cid', {cid}, 'cc', {cc!r}D, 'c', array({cs}))".format(
            cid=cid,
            cc=float(_sum_sq(c)),
            cs=", ".join(f"{float(x)!r}D" for x in c),
        )
        for cid, c in book
    )
    return F.expr(
        f"transform(array({entries}), b -> named_struct("
        f"'d', CAST(ROUND((b.cc - 2.0D * aggregate(zip_with("
        f"slice({vec_col}, {offset + 1}, {sub}), b.c, "
        f"(x, y) -> CAST(x AS DOUBLE) * y), "
        f"0.0D, (a, v) -> a + v)) * 1000000.0D, 0) AS BIGINT), "
        f"'cid', b.cid))"
    )


def _sum_sq(c: list[float]) -> float:
    """||c||^2 with the same left-to-right accumulation order every
    other formulation uses (cc += x*x starting from 0.0)."""
    cc = 0.0
    for x in c:
        cc += float(x) * float(x)
    return cc


def pq_codebooks_seed(
    emb: DataFrame,
    m: int = 4,
    k: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[tuple[int, list[float]]]]:
    """Deterministic seed PQ codebooks: the k smallest-id vectors,
    sliced into m equal subspaces (the same deterministic-codebook
    precedent as ann_ivf_topk's coarse quantizer, which is what makes
    the whole PQ path ORACLE-pairable). Returns
    books[s] = [(cid, subvector), ...]. One bounded k-row collect."""
    rows = (
        emb.select(id_col, vec_col)
        .orderBy(F.col(id_col).asc())
        .limit(k)
        .collect()
    )
    if not rows:
        return [[] for _ in range(m)]
    dim = len(rows[0][vec_col])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    sub = dim // m
    return [
        [
            (i, [float(x) for x in r[vec_col][s * sub : (s + 1) * sub]])
            for i, r in enumerate(rows)
        ]
        for s in range(m)
    ]


def pq_codebooks_trained(
    emb: DataFrame,
    m: int = 4,
    k: int = 16,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant: int = 6,
    checkpoint_input: bool = True,
) -> list[list[tuple[int, list[float]]]]:
    """JOINT Lloyd-trained PQ codebooks: all m subspaces train in the
    SAME pass — per iteration ONE job computes every subspace's
    assignment (the quantized ``||c||^2 - 2<x,c>`` BIGINT argmin,
    byte-identical to pq_encode's compare key) and ONE global
    map-side-combining aggregate emits the m*k*(sub+1) count +
    integer-micro component sums the update needs. Training MUST be
    L2 Lloyd because pq_encode assigns codes by squared-L2 argmin:
    cosine/spherical training optimizes direction only and hands the
    encoder centroids with the wrong subvector magnitudes (the r06
    recall collapse, 0.1-0.3 vs what these books + re-rank score).

    Bit-identical to running kmeans_fit(metric="l2") over each
    sliced subspace (tests assert this) — but n_iter+1 corpus passes
    TOTAL instead of m*(n_iter+1): at 100 TB, m=16 sequential
    trainers re-scan the corpus 48 times; this scans 3. Driver state
    stays k*dim rows (config-sized). Determinism: seeds are the k
    smallest-id rows rounded half-away at ``quant`` decimals,
    updates are integer-micro means with half-away .5 ties, empty
    clusters keep their previous centroid (the kmeans_fit doctrine).
    Quality is pytest-measured (tests/test_similarity.py trains ->
    encodes -> searches and asserts recall vs cosine_topk) and
    oracle-floored (pq_topk_trained_embeddings' recall oracle)."""
    if checkpoint_input:
        emb = widen_narrow_source(emb).localCheckpoint(eager=False)
    seed_rows = (
        emb.select(id_col, vec_col)
        .orderBy(F.col(id_col).asc())
        .limit(k)
        .collect()
    )
    if not seed_rows:
        return [[] for _ in range(m)]
    dim = len(seed_rows[0][vec_col])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    sub = dim // m
    f = 10.0 ** quant

    def _seed_round(x: float) -> float:
        # half-away-from-zero at `quant` decimals (see kmeans_fit)
        return round_half_away(float(x) * f) / f

    books: list[list[tuple[int, list[float]]]] = [
        [
            (i, [_seed_round(x) for x in r[vec_col][s * sub : (s + 1) * sub]])
            for i, r in enumerate(seed_rows)
        ]
        for s in range(m)
    ]
    for _ in range(n_iter):
        # ONE job per iteration: per subspace a (s, assigned cid,
        # micro-unit subvector) struct, exploded to narrow (s, cid)
        # rows, then a groupBy whose map-side combine collapses each
        # partition to <= m*k rows before the shuffle. The assignment
        # and micro conversion are HOF/parsed-SQL expressions
        # (interpreted leaves — tiny generated code), NOT the
        # string-dot unroll or an m*k*(sub+1)-column flat aggregate,
        # both of which Janino heap-OOMs at m=16,k=16.
        sides = F.array(*[
            F.struct(
                F.lit(s).alias("s"),
                F.array_min(_l2_keys_hof(vec_col, books[s], s * sub))[
                    "cid"
                ].alias("cid"),
                F.expr(
                    f"transform(slice({vec_col}, {s * sub + 1}, {sub}), "
                    f"x -> CAST(ROUND(x * 1000000, 0) AS BIGINT))"
                ).alias("mv"),
            )
            for s in range(m)
        ])
        sums = (
            emb.select(F.explode(sides).alias("e"))
            .select(
                F.col("e.s").alias("s"),
                F.col("e.cid").alias("cid"),
                *[F.col("e.mv")[j].alias(f"m{j}") for j in range(sub)],
            )
            .groupBy("s", "cid")
            .agg(
                F.count(F.lit(1)).alias("n"),
                *[F.sum(f"m{j}").alias(f"s{j}") for j in range(sub)],
            )
            .collect()
        )
        by_key = {(r["s"], r["cid"]): r for r in sums}

        def mean_micro(ssum: int, n: int) -> float:
            # integer round-half-away-from-zero(ssum/n) / 1e6 — pure
            # ints, no float .5 tie (the kmeans_fit mean_micro)
            r = (2 * abs(ssum) + n) // (2 * n)
            return (r if ssum >= 0 else -r) / 1e6

        books = [
            [
                (
                    cid,
                    [
                        mean_micro(
                            by_key[(s, cid)][f"s{j}"], by_key[(s, cid)]["n"]
                        )
                        for j in range(sub)
                    ]
                    if (s, cid) in by_key
                    else prev,
                )
                for cid, prev in books[s]
            ]
            for s in range(m)
        ]
    return books


def pq_encode(
    emb: DataFrame,
    books: list[list[tuple[int, list[float]]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ encoding (Jegou et al., "Product Quantization for Nearest
    Neighbor Search", TPAMI 2011): per subspace, the centroid
    minimizing squared L2 to the subvector — argmin over
    ||c||^2 - 2<x_s, c> (the ||x_s||^2 term is constant per row).
    The compare key quantizes to integer micro-units with the lowest
    centroid id as tie-break, so codes are deterministic and
    engine-portable. Output: id, c0..c{m-1}, pq_code (the base-k
    packed word), norm (exact ||x|| for asymmetric-distance search).

    Scale shape: pure map-side codegen'd expressions — m*k folded
    dot products per row, zero shuffles, zero UDFs; the 100 TB
    encode is one pass over the corpus writing dim*4 bytes down to
    m bytes + a norm."""
    m = len(books)
    if not books or not books[0]:
        # pq_codebooks_seed/trained return [[], [], ...] for an empty
        # corpus — mirror that: an empty (correctly-typed) result, not
        # an IndexError off books[0][0]
        out = emb.filter(F.lit(False)).select(
            F.col(id_col),
            *[F.lit(0).alias(f"c{s}") for s in range(m)],
            F.lit(0.0).alias("norm"),
            F.lit(0).cast("long").alias("pq_code"),
        )
        return out
    k = len(books[0])
    sub = len(books[0][0][1])
    self_dot = F.aggregate(
        F.col(vec_col), F.lit(0.0), lambda a, x: a + x.cast("double") * x
    )
    out = emb.filter(self_dot > 0)
    code_cols = []
    if m * k > 64:
        # big codebooks (e.g. trained m=16 x k=16 = 256 structs):
        # the HOF formulation — same keys bit-for-bit (see
        # _l2_keys_hof), O(1) generated code. The seed-book m=4
        # configs KEEP the string-dot unroll below so the strict SQL
        # oracles replaying it stay byte-stable.
        for s, book in enumerate(books):
            code_cols.append(
                F.array_min(_l2_keys_hof(vec_col, book, s * sub))[
                    "cid"
                ].alias(f"c{s}")
            )
    else:
        for s, book in enumerate(books):
            cands = []
            for cid, c in book:
                cc = 0.0
                for x in c:
                    cc += x * x
                key = (
                    F.round(
                        (
                            F.lit(cc)
                            - 2.0 * _dot_literal_offset(vec_col, c, s * sub)
                        )
                        * 1e6,
                        0,
                    ).cast("long")
                )
                cands.append(
                    F.struct(key.alias("d"), F.lit(cid).alias("cid"))
                )
            code_cols.append(F.least(*cands).getField("cid").alias(f"c{s}"))
    packed = None
    for s in range(m):
        term = F.col(f"c{s}") * F.lit(k**s)
        packed = term if packed is None else packed + term
    return out.select(
        F.col(id_col),
        *code_cols,
        F.sqrt(
            F.aggregate(
                F.col(vec_col), F.lit(0.0), lambda a, x: a + x.cast("double") * x
            )
        ).alias("norm"),
    ).withColumn("pq_code", packed.cast("long"))


def pq_topk(
    emb: DataFrame,
    query: list[float],
    books: list[list[tuple[int, list[float]]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_id: int | None = None,
    rerank: int | None = None,
) -> DataFrame:
    """PQ asymmetric-distance top-k: the query stays EXACT; each
    corpus vector is represented by its m codebook centroids, so
    <q, x> ~ sum_s <q_s, c_{s, code_s(x)}> — m array-literal lookups
    per row instead of a dim-wide dot. Lookup-table entries quantize
    to integer micro-units and sum as BIGINTs (summation order can
    never move a bit — the engine-wide money doctrine), then divide
    by ||q||*||x|| with the EXACT stored norm: the classic
    ADC-with-norms cosine ranking.

    With ``rerank=C`` (the Jegou et al. IVFADC+R tail): the ADC scan
    keeps its top-C candidate ids (a TakeOrdered), then ONLY those C
    rows are re-scored with the exact dim-wide cosine and the true
    top-k returned (column ``cosine``, exact values). This is the
    quality knob ADC alone lacks on weakly-clustered corpora: ADC
    ordering inside the shortlist is noisy, but the shortlist
    CONTAINS the true neighbors (measured here: m=16 x k=16, C=50
    lifts recall@10 from 0.4-0.6 to 0.9-1.0 on the near-random
    synthetic embeddings, whose top-10/median cosines are 0.33/0.01).

    Scale shape: at 100 TB the encode runs once (pq_encode's one
    pass); every query after that scans m bytes + one double per
    vector — a 16-64x memory-bandwidth reduction vs the exact scan,
    which IS the PQ value proposition. Top-k is a TakeOrdered, no
    full sort; the re-rank is a broadcast semi-join of C ids back
    into the corpus (C is fixed as the corpus grows) reading C full
    vectors."""
    enc = pq_encode(emb, books, id_col=id_col, vec_col=vec_col)
    m = len(books)
    if not books or not books[0]:
        # empty-corpus codebooks (see pq_encode): empty top-k, named
        # like the live path's output (`cosine` once re-rank runs)
        return enc.select(
            F.col(id_col),
            F.lit(0.0).alias("approx_cosine" if rerank is None else "cosine"),
        )
    sub = len(books[0][0][1])
    qn = 0.0
    for x in query:
        qn += float(x) * float(x)
    qn = math.sqrt(qn)
    approx = None
    for s, book in enumerate(books):
        lut = []
        for _cid, c in book:
            d = 0.0
            for j, cx in enumerate(c):
                d += float(query[s * sub + j]) * cx
            lut.append(_round_half_away_micro(d))
        term = F.element_at(
            F.array(*[F.lit(v) for v in lut]), F.col(f"c{s}") + 1
        )
        approx = term if approx is None else approx + term
    scored = enc.select(
        F.col(id_col),
        (approx / 1e6 / (F.lit(qn) * F.col("norm"))).alias("approx_cosine"),
    )
    if exclude_id is not None:
        scored = scored.filter(F.col(id_col) != exclude_id)
    ranked = scored.orderBy(
        F.round(F.col("approx_cosine"), 6).desc(), F.col(id_col).asc()
    )
    if rerank is None:
        return ranked.limit(k)
    short = ranked.limit(rerank).select(id_col)
    return cosine_topk(
        emb.join(F.broadcast(short), id_col),
        query,
        k,
        id_col=id_col,
        vec_col=vec_col,
        exclude_id=exclude_id,
    )


def ivfpq_topk(
    emb: DataFrame,
    query: list[float],
    coarse: list[tuple[int, list[float]]],
    m: int = 8,
    k_sub: int = 16,
    n_iter: int = 2,
    k: int = 10,
    n_probe: int = 4,
    rerank: int | None = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_id: int | None = None,
    input_parallel: bool = False,
) -> DataFrame:
    """IVFADC (Jegou et al., TPAMI 2011 §V): the full inverted-file +
    product-quantization search — coarse quantizer prunes the scan to
    ``n_probe`` cells, a SINGLE product quantizer (trained on the
    pooled coarse RESIDUALS r = x - c(x), the paper's choice) encodes
    what the coarse cell doesn't explain, and the ADC score
    reconstructs <q, x> = <q, c_cell> + <q, r-hat> without touching
    the raw vector. Optional exact re-rank of the top-``rerank``
    candidates (IVFADC+R). Ranking is cosine with the exact stored
    norm, like the whole ANN ladder here, so results are directly
    comparable to cosine_topk / ivf_topk / pq_topk.

    Every stage is deterministic: coarse assignment is the quantized
    cosine argmax (assign_centroids), residual PQ training is the
    joint L2 Lloyd (pq_codebooks_trained), code assignment and LUT
    sums use the integer-micro key/money doctrine.

    Scale shape — this IS the 100 TB ANN architecture: the corpus is
    stored as (cell id, m residual codes, norm) = ~m+12 bytes/vector
    (write_ivf_index's partitioned layout makes the probe a
    partition-pruned read); a query touches n_probe/|coarse| of the
    data, reads codes not vectors, and the re-rank fetches exactly
    ``rerank`` full vectors via a broadcast semi-join. Training is
    one coarse Lloyd + one joint residual-PQ Lloyd, each with k-row
    driver state."""
    self_dot = F.aggregate(
        F.col(vec_col), F.lit(0.0), lambda a, x: a + x.cast("double") * x
    )
    live = emb.filter(self_dot > 0)
    # the normal path's output column is `cosine` when the exact
    # re-rank runs (cosine_topk's schema) and `approx_cosine` on the
    # pure-ADC path — the empty-input early returns must match, or an
    # empty corpus turns a downstream select("cosine") into an
    # AnalysisException instead of an empty result
    empty_score = "approx_cosine" if rerank is None else "cosine"
    if not coarse:
        return live.filter(F.lit(False)).select(
            F.col(id_col), F.lit(0.0).alias(empty_score)
        )
    assigned = assign_centroids(live, coarse, vec_col)
    # ONE materialization of the residual frame, shared by the PQ
    # training passes AND the ADC scoring scan below — assign+resid
    # were previously recomputed per consumer (and, off a one-file
    # parquet scan, single-task; widen_narrow_source widens it).
    # ``input_parallel``: the caller already widened+checkpointed
    # ``emb`` (the shared-training-frame pattern), so the residual
    # frame inherits its width through narrow ops and the expensive
    # ``.rdd`` width probe is skipped.
    r_df = _coarse_residuals(assigned, coarse, vec_col)
    if not input_parallel:
        r_df = widen_narrow_source(r_df)
    r_df = r_df.localCheckpoint(eager=False)
    # ONE product quantizer over the pooled residuals (not per-cell
    # books): the residual distribution is what's left after the
    # coarse quantizer, shared across cells — the paper's design, and
    # what keeps codebook state O(m * k_sub), not O(|coarse| * m * k_sub)
    books = pq_codebooks_trained(
        r_df.select(F.col(id_col), F.col("__resid").alias(vec_col)),
        m=m,
        k=k_sub,
        n_iter=n_iter,
        checkpoint_input=False,
    )
    if not books or not books[0]:
        return live.filter(F.lit(False)).select(
            F.col(id_col), F.lit(0.0).alias(empty_score)
        )
    sub = len(books[0][0][1])
    probes = _nearest_probes(query, coarse, n_probe)
    pruned = r_df.filter(F.col("centroid_id").isin(probes))
    qn = 0.0
    for x in query:
        qn += float(x) * float(x)
    qn = math.sqrt(qn)
    # <q, c_cell> per coarse cell, driver-side (codebook-sized)
    qc_term = F.element_at(
        F.array(*[F.lit(v) for v in _qc_micro(query, coarse)]),
        F.col("centroid_id") + 1,
    )
    # residual ADC: code_s = L2 argmin vs book_s, LUT_s[code] = <q_s, c>
    approx = qc_term
    for s, book in enumerate(books):
        code = F.array_min(_l2_keys_hof("__resid", book, s * sub))["cid"]
        lut = _lut_micro(query, book, s * sub)
        approx = approx + F.element_at(
            F.array(*[F.lit(v) for v in lut]), code + 1
        )
    norm = F.sqrt(
        F.aggregate(
            F.col(vec_col), F.lit(0.0), lambda a, x: a + x.cast("double") * x
        )
    )
    scored = pruned.select(
        F.col(id_col),
        (approx / 1e6 / (F.lit(qn) * norm)).alias("approx_cosine"),
    )
    if exclude_id is not None:
        scored = scored.filter(F.col(id_col) != exclude_id)
    ranked = scored.orderBy(
        F.round(F.col("approx_cosine"), 6).desc(), F.col(id_col).asc()
    )
    if rerank is None:
        return ranked.limit(k)
    short = ranked.limit(rerank).select(id_col)
    return cosine_topk(
        emb.join(F.broadcast(short), id_col),
        query,
        k,
        id_col=id_col,
        vec_col=vec_col,
        exclude_id=exclude_id,
    )


def _coarse_residuals(
    assigned: DataFrame,
    coarse: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Append ``__resid`` = x - c(x): the row's coarse centroid
    picked from a literal array-of-arrays by cell id (coarse ids are
    contiguous 0..n-1 by construction in kmeans_fit / seed
    codebooks). Shared by the in-query IVFADC path (ivfpq_topk) and
    the index writer (write_ivfpq_index) so both produce identical
    residuals."""
    by_cid = dict(coarse)
    # one parsed SQL string, not |coarse| * dim F.lit calls — see
    # _assign_quantized's builder note (same values, same plan)
    cents = ", ".join(
        "array({})".format(
            ", ".join(f"{float(x)!r}D" for x in by_cid[cid])
        )
        for cid in range(len(coarse))
    )
    resid = F.expr(
        f"zip_with({vec_col}, element_at(array({cents}), "
        f"centroid_id + 1), (x, y) -> CAST(x AS DOUBLE) - y)"
    )
    return assigned.withColumn("__resid", resid)


def _qc_micro(
    query: list[float], coarse: list[tuple[int, list[float]]]
) -> list[int]:
    """<q, c_cell> per coarse cell in integer micro-units,
    driver-side (codebook-sized), ordered by contiguous cell id."""
    by_cid = dict(coarse)
    out = []
    for cid in range(len(coarse)):
        d = 0.0
        for j, x in enumerate(by_cid[cid]):
            d += float(query[j]) * x
        out.append(_round_half_away_micro(d))
    return out


def _lut_micro(
    query: list[float], book: list[tuple[int, list[float]]], offset: int
) -> list[int]:
    """ADC lookup table for one subspace: <q_s, c> per centroid in
    integer micro-units, in codebook order (cids are contiguous)."""
    lut = []
    for _cid, c in book:
        d = 0.0
        for j, cx in enumerate(c):
            d += float(query[offset + j]) * cx
        lut.append(_round_half_away_micro(d))
    return lut


IVFPQ_META_FILE = "_ivfpq_meta.json"
IVFPQ_CURRENT_PREFIX = "_ivfpq_current."


def _hadoop_fs(spark, path_str: str):
    """(FileSystem, Path) for ``path_str`` via the JVM Hadoop client —
    the same resolver Spark's own writers use, so index meta/pointer
    I/O works on whatever filesystem the codes parquet lives on
    (file://, hdfs://, s3a://), not just a driver-local POSIX path."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path_str)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def _active_spark():
    from pyspark.sql import SparkSession

    return SparkSession.getActiveSession()


def _fs_write_text(path_str: str, text: str, spark=None) -> None:
    """Small-file write through the Hadoop FileSystem API (overwrite).
    Falls back to plain open() only when no SparkSession exists (pure
    unit-test contexts) — then the path must be driver-local."""
    spark = spark or _active_spark()
    if spark is None:
        with open(path_str, "w") as f:
            f.write(text)
        return
    fs, hpath = _hadoop_fs(spark, path_str)
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def _fs_read_text(path_str: str, spark=None) -> str:
    spark = spark or _active_spark()
    if spark is None:
        with open(path_str) as f:
            return f.read()
    fs, hpath = _hadoop_fs(spark, path_str)
    jvm = spark._jvm
    stream = fs.open(hpath)
    baos = jvm.java.io.ByteArrayOutputStream()
    # copyBytes closes both streams (close=True)
    jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, baos, 4096, True)
    return baos.toString("UTF-8")


def _fs_glob(dir_str: str, pattern: str, spark=None) -> list[str]:
    """Names (not paths) matching ``pattern`` directly under
    ``dir_str``, empty if the dir is absent."""
    spark = spark or _active_spark()
    if spark is None:
        import fnmatch
        import os

        if not os.path.isdir(dir_str):
            return []
        return [
            d for d in os.listdir(dir_str) if fnmatch.fnmatch(d, pattern)
        ]
    fs, hdir = _hadoop_fs(spark, dir_str)
    if not fs.exists(hdir):
        return []
    jvm = spark._jvm
    statuses = fs.globStatus(
        jvm.org.apache.hadoop.fs.Path(f"{dir_str.rstrip('/')}/{pattern}")
    )
    if statuses is None:
        return []
    return [st.getPath().getName() for st in statuses]


def _fs_qualified(path_str: str, spark=None) -> str:
    """Canonical fully-qualified URI for a path (scheme + authority
    + normalized path, via Hadoop ``makeQualified``), so same-target
    guards compare ``file:///x``, ``/x`` and ``/y/../x`` as equal on
    ANY FileSystem — os.path.realpath mangles URI inputs into
    cwd-relative junk. POSIX realpath fallback when no session
    exists (pure unit tests on local paths)."""
    spark = spark or _active_spark()
    if spark is None:
        import os

        return os.path.realpath(path_str)
    fs, hpath = _hadoop_fs(spark, path_str)
    return str(fs.makeQualified(hpath))


def _same_target(a: str, b: str, spark=None) -> bool:
    """True when two path strings denote the same storage location.
    Two layers: qualified-URI equality (scheme/authority/.. — works
    on any FileSystem), PLUS local-realpath equality for file-scheme
    paths, because makeQualified normalizes '..' but never resolves
    SYMLINKS — a dest symlinked onto the base generation would slip
    past a URI-only compare and let mode('overwrite') clear the
    directory a lazy read is scanning (the guard realpath used to
    provide before the URI-aware rewrite)."""
    import os

    qa, qb = _fs_qualified(a, spark), _fs_qualified(b, spark)
    if qa == qb:
        return True

    def _local(p: str) -> str | None:
        if p.startswith("file:"):
            p = p[len("file:"):]
            while p.startswith("//"):
                p = p[1:]
            return p
        return None if "://" in p else p

    # realpath only applies to paths the QUALIFIED URI says are
    # local: falling back to the raw string would treat an un-schemed
    # input as local even when makeQualified resolved it to a remote
    # default filesystem (hdfs://), wrongly equating a remote base
    # with a same-pathed file:// dest and over-blocking the operation
    la, lb = _local(qa), _local(qb)
    if la is not None and lb is not None:
        return os.path.realpath(la) == os.path.realpath(lb)
    return False


def _parse_pointers(names: list[str]) -> list[tuple[int, str]]:
    """(n, gen_name) pairs from ``_ivfpq_current.<n>.<gen>`` pointer
    file names; malformed names are ignored."""
    out = []
    for n in names:
        rest = n[len(IVFPQ_CURRENT_PREFIX):]
        num, _, gen = rest.partition(".")
        if num.isdigit() and gen:
            out.append((int(num), gen))
    return out


def set_current_generation(root: str, gen_name: str, spark=None) -> str:
    """Atomically flip an index root's current-generation pointer to
    ``gen_name`` (a generation directory under ``root``). Protocol:
    the pointer is the file ``_ivfpq_current.<n>.<gen_name>`` with
    the highest ``<n>`` — the target generation is encoded IN THE
    FILE NAME, so readers resolve with one directory listing and
    never open a pointer file (a reader racing a flip-plus-prune
    cannot hit a deleted file). BECAUSE the name alone carries the
    target, the flip is a single create of the pointer file directly
    at its final name — no temp+rename, so the protocol does not
    depend on FileSystem.rename atomicity (s3a renames are
    copy+delete): an object-store PUT appears atomically in a
    (strongly consistent) listing, and POSIX/HDFS file creation
    appears atomically in the namespace; a reader listing mid-flip
    sees either the old pointer set or old+new, and resolution takes
    the max ``(n, gen)`` either way. Two concurrent flips that
    compute the same ``<n>`` produce two distinct file names (no
    overwrite) with the same deterministic winner; the degenerate
    same-``(n, gen)`` collision writes identical content twice.
    Superseded pointers are pruned best-effort. Returns the new
    pointer file name."""
    existing = _fs_glob(root, f"{IVFPQ_CURRENT_PREFIX}*", spark)
    parsed = _parse_pointers(existing)
    nxt = (max(n for n, _ in parsed) + 1) if parsed else 1
    ptr = f"{IVFPQ_CURRENT_PREFIX}{nxt:012d}.{gen_name}"
    spark = spark or _active_spark()
    _fs_write_text(f"{root.rstrip('/')}/{ptr}", gen_name, spark)
    # best-effort prune of superseded pointers (readers never open
    # pointer files, so pruning can never fault a racing reader)
    for name in existing:
        try:
            if spark is None:
                import os

                os.remove(f"{root.rstrip('/')}/{name}")
            else:
                fs2, old = _hadoop_fs(spark, f"{root.rstrip('/')}/{name}")
                fs2.delete(old, False)
        except Exception:
            pass
    return ptr


def current_generation(root: str, spark=None) -> str | None:
    """Resolve an index root's current generation dir (absolute
    path), or None when ``root`` carries no pointer — i.e. it IS a
    plain single-generation index directory. Resolution is a single
    directory listing (the generation is encoded in the pointer file
    NAME), so it cannot race a concurrent flip's prune."""
    names = _fs_glob(root, f"{IVFPQ_CURRENT_PREFIX}*", spark)
    parsed = sorted(_parse_pointers(names), reverse=True)
    if not parsed:
        return None
    return f"{root.rstrip('/')}/{parsed[0][1]}"


def resolve_index_dir(path: str, spark=None) -> str:
    """Probe-side resolution: a PLAIN index dir (has the meta file at
    top level) is itself; a GENERATIONAL root (has a
    ``_ivfpq_current.<n>`` pointer) resolves to its current
    generation. Compactions/deletions write a fresh generation dir
    and flip the pointer LAST, so probes racing a compaction read a
    complete old or complete new generation, never a mix."""
    gen = current_generation(path, spark)
    return gen if gen is not None else path


def ivfpq_encode(
    emb: DataFrame,
    coarse: list[tuple[int, list[float]]],
    books: list[list[tuple[int, list[float]]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One-pass IVFADC encode against FIXED (already trained)
    quantizers: each vector becomes (id, codes array<int>, norm,
    centroid_id) — coarse assignment, residual vs the assigned cell,
    then per-subspace L2-argmin codes, all map-side expressions over
    literal codebooks. This is the ingest half of the
    index-built-once / queried-many story: at 100 TB the encode runs
    inline in the ingest scan (batch or micro-batch) and writes
    ~m + 12 bytes per vector; no training, no shuffle."""
    self_dot = F.aggregate(
        F.col(vec_col), F.lit(0.0), lambda a, x: a + x.cast("double") * x
    )
    live = emb.filter(self_dot > 0)
    r_df = _coarse_residuals(
        assign_centroids(live, coarse, vec_col), coarse, vec_col
    )
    sub = len(books[0][0][1])
    codes = F.array(*[
        F.array_min(_l2_keys_hof("__resid", book, s * sub))["cid"]
        for s, book in enumerate(books)
    ])
    return r_df.select(
        F.col(id_col),
        codes.alias("codes"),
        F.sqrt(
            F.aggregate(
                F.col(vec_col),
                F.lit(0.0),
                lambda a, x: a + x.cast("double") * x,
            )
        ).alias("norm"),
        F.col("centroid_id"),
    )


def write_ivfpq_index(
    emb: DataFrame,
    path: str,
    k_coarse: int | str = 8,
    m: int = 8,
    k_sub: int = 16,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_files: bool = False,
) -> dict:
    """Train ONCE and persist the full IVFADC index: a coarse cosine
    Lloyd codebook, one joint-L2-trained residual product quantizer,
    and every vector's (codes, norm) written PARTITIONED BY coarse
    cell — so ivfpq_topk_indexed's probe is a partition-pruned read
    of codes, never vectors. Quantizer state (coarse + books, a few
    KB) goes to ``path``/_ivfpq_meta.json, written LAST as the
    commit marker (the parquet overwrite clears the directory
    first, so a half-written index never carries a meta file).

    This splits training from search: ivfpq_topk pays 2 Lloyd
    trainings inside every query; against this store a query pays
    probe-only cost, the economics a real ANN deployment runs on.
    Returns the meta dict ({"coarse", "books", "m", "k_sub"}).

    ``cluster_files``: partitionBy alone writes one file per
    (write task x cell) — harmless at test scale, but a 100 TB build
    at production cell counts (k_coarse in the thousands x thousands
    of tasks) is a small-file explosion. Set True to hash-cluster by
    cell first (one shuffle of m+12-byte rows — cheap next to the
    encode scan) so each cell lands in O(1) files. Default False:
    the local catalog runs 8 cells x 32 tasks and the extra exchange
    would only add latency.

    All sidecar I/O goes through the Hadoop FileSystem API resolved
    from ``path``'s scheme, so the index can live on the same store
    as the data (hdfs://, s3a://) — nothing assumes a driver-local
    POSIX path.

    ``k_coarse="auto"``: size cells to max(8, round(sqrt(N))) — the
    classic IVF rule, and MEASURED here, not assumed: at sf0.1 a
    32-cell index probed at n_probe=4 scans 1/8 of the corpus instead
    of 1/2 (4x less I/O) and recall@10 RISES 0.625 -> 0.890 because
    smaller cells leave smaller residuals for the same PQ budget
    (SCALE.md "ANN recall operating curve", tools/ann_recall_sweep).
    Costs one count() of the live vectors at build time."""
    import json

    self_dot = F.aggregate(
        F.col(vec_col), F.lit(0.0), lambda a, x: a + x.cast("double") * x
    )
    live = emb.filter(self_dot > 0)
    if k_coarse == "auto":
        k_coarse = max(8, int(round(math.sqrt(live.count()))))
    coarse = kmeans_fit(
        live, k=k_coarse, n_iter=n_iter, id_col=id_col, vec_col=vec_col
    )
    meta: dict = {"coarse": coarse, "books": [], "m": m, "k_sub": k_sub}
    if coarse:
        r_df = _coarse_residuals(
            assign_centroids(live, coarse, vec_col), coarse, vec_col
        )
        books = pq_codebooks_trained(
            r_df.select(F.col(id_col), F.col("__resid").alias(vec_col)),
            m=m,
            k=k_sub,
            n_iter=n_iter,
            id_col=id_col,
        )
        meta["books"] = books
        if books and books[0]:
            enc = ivfpq_encode(
                emb, coarse, books, id_col=id_col, vec_col=vec_col
            )
            if cluster_files:
                enc = enc.repartition(F.col("centroid_id"))
            enc.write.mode("overwrite").partitionBy("centroid_id").parquet(
                path
            )
            _fs_write_text(
                f"{path.rstrip('/')}/{IVFPQ_META_FILE}",
                json.dumps(meta),
                emb.sparkSession,
            )
    return meta


def read_ivfpq_meta(path: str, spark=None) -> dict:
    """Load quantizer state from a write_ivfpq_index store (plain dir
    or generational root — the pointer is resolved), with JSON's
    list->tuple round trip undone. Reads through the Hadoop
    FileSystem API, so remote index stores work."""
    import json

    resolved = resolve_index_dir(path, spark)
    raw = json.loads(
        _fs_read_text(f"{resolved.rstrip('/')}/{IVFPQ_META_FILE}", spark)
    )
    return {
        "coarse": [
            (int(cid), [float(x) for x in c]) for cid, c in raw["coarse"]
        ],
        "books": [
            [(int(cid), [float(x) for x in c]) for cid, c in book]
            for book in raw["books"]
        ],
        "m": int(raw["m"]),
        "k_sub": int(raw["k_sub"]),
    }


def ivfpq_topk_indexed(
    spark,
    path: str,
    query: list[float],
    k: int = 10,
    n_probe: int = 4,
    rerank: int | None = 50,
    emb: DataFrame | None = None,
    meta: dict | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_id: int | None = None,
) -> DataFrame:
    """PROBE-ONLY IVFADC+R search over a write_ivfpq_index store: no
    training, no scan of raw vectors — the query loads the few-KB
    quantizer meta, partition-prunes the codes store to ``n_probe``
    coarse cells (PartitionFilters on centroid_id, zero I/O outside
    probed cells), reconstructs <q, x> = <q, c_cell> + <q, r-hat>
    from two literal lookup tables over the STORED codes, and
    exactly re-ranks the top-``rerank`` shortlist against the raw
    vector table (``emb``, required when rerank is set) via a
    broadcast semi-join. Result semantics are identical to
    ivfpq_topk with the same quantizers — the math is shared helper
    for shared helper.

    100 TB economics: a query reads n_probe/|coarse| of m+12-byte
    rows plus exactly ``rerank`` full vectors; the 2 Lloyd trainings
    (the dominant cost of training-in-query ivfpq_topk) were paid
    once at write time.

    ``path`` may be a plain index dir OR a generational root (one
    carrying a ``_ivfpq_current.<n>`` pointer from the compaction /
    deletion lifecycle): the pointer resolves FIRST, then meta and
    codes are read from that one resolved generation — a probe racing
    a compaction sees a complete old or complete new generation,
    never a mix."""
    path = resolve_index_dir(path, spark)
    if meta is None:
        meta = read_ivfpq_meta(path, spark)
    coarse, books = meta["coarse"], meta["books"]
    score_col = "approx_cosine" if rerank is None else "cosine"
    if rerank is not None and emb is None:
        raise ValueError("rerank requires the raw vector table (emb)")

    def _empty():
        src = emb if emb is not None else spark.read.parquet(path)
        return src.filter(F.lit(False)).select(
            F.col(id_col), F.lit(0.0).alias(score_col)
        )

    if not coarse or not books or not books[0]:
        return _empty()
    probes = _nearest_probes(query, coarse, n_probe)
    codes = spark.read.parquet(path).filter(
        F.col("centroid_id").isin(probes)
    )
    qn = 0.0
    for x in query:
        qn += float(x) * float(x)
    qn = math.sqrt(qn)
    qc_term = F.element_at(
        F.array(*[F.lit(v) for v in _qc_micro(query, coarse)]),
        F.col("centroid_id") + 1,
    )
    approx = qc_term
    for s, book in enumerate(books):
        lut = _lut_micro(query, book, s * len(books[0][0][1]))
        approx = approx + F.element_at(
            F.array(*[F.lit(v) for v in lut]),
            F.element_at(F.col("codes"), s + 1) + 1,
        )
    scored = codes.select(
        F.col(id_col),
        (approx / 1e6 / (F.lit(qn) * F.col("norm"))).alias("approx_cosine"),
    )
    if exclude_id is not None:
        scored = scored.filter(F.col(id_col) != exclude_id)
    ranked = scored.orderBy(
        F.round(F.col("approx_cosine"), 6).desc(), F.col(id_col).asc()
    )
    if rerank is None:
        return ranked.limit(k)
    short = ranked.limit(rerank).select(id_col)
    return cosine_topk(
        emb.join(F.broadcast(short), id_col),
        query,
        k,
        id_col=id_col,
        vec_col=vec_col,
        exclude_id=exclude_id,
    )


def compact_ivfpq_index(
    spark,
    base_path: str,
    stream_path: str,
    dest_path: str,
    meta: dict | None = None,
) -> None:
    """Fold a stream-ingested codes store (stream_ivfpq_ingest's
    batch-keyed layout) into the base index, producing a NEW
    immutable index generation at ``dest_path`` — the compaction job
    the streaming-ingest design note promises. Precedence: a vec_id
    present in the stream supersedes the base row (re-ingestion is
    an update), and within the stream the highest batch id wins, so
    compaction commutes with replay. One distributed pass: union,
    per-id max-batch argmax (map-side-combining aggregate via
    max(struct)), rewrite partitioned by coarse cell. The quantizer
    sidecar is copied through unchanged — compaction NEVER retrains
    (a retrain is a new index build, not a compaction). Writing a
    fresh generation instead of rewriting in place is deliberate:
    probes against the old generation keep working while the
    compaction runs, and the pointer swap is the caller's atomic
    commit — the standard immutable-segment lifecycle (the CLI's
    ``index compact`` does exactly that via set_current_generation)."""
    import json

    # overwrite-into-source guard: dest == base (or == stream) would
    # have the overwrite clear the directory the lazy read is still
    # scanning, destroying the base generation mid-compaction. The
    # base is compared AFTER pointer resolution — a caller passing
    # the generational ROOT as base with dest pointing at the root's
    # CURRENT generation is exactly this hazard in disguise
    base_path = resolve_index_dir(base_path, spark)
    if _same_target(dest_path, base_path, spark):
        raise ValueError(
            "compact_ivfpq_index: dest_path must be a NEW generation "
            f"dir, not the (resolved) base index itself ({base_path})"
        )
    if _same_target(dest_path, stream_path, spark):
        raise ValueError(
            "compact_ivfpq_index: dest_path must not be the stream "
            f"store ({stream_path})"
        )
    if meta is None:
        meta = read_ivfpq_meta(base_path, spark)
    base = spark.read.parquet(base_path).select(
        "vec_id", "codes", "norm", "centroid_id",
        F.lit(-1).cast("long").alias("__batch"),
    )
    # a stream store with no completed batches (fresh checkpoint, or
    # every epoch empty) has nothing to infer a schema from — compact
    # then degenerates to copying the base generation
    has_batches = bool(_fs_glob(stream_path, "batch=*", spark))
    if has_batches:
        stream = spark.read.parquet(stream_path).select(
            "vec_id", "codes", "norm", "centroid_id",
            F.col("batch").cast("long").alias("__batch"),
        )
        merged = base.unionByName(stream)
    else:
        merged = base
    latest = (
        merged.groupBy("vec_id")
        .agg(
            F.max(
                F.struct("__batch", "codes", "norm", "centroid_id")
            ).alias("s")
        )
        .select(
            "vec_id",
            F.col("s.codes").alias("codes"),
            F.col("s.norm").alias("norm"),
            F.col("s.centroid_id").alias("centroid_id"),
        )
    )
    latest.write.mode("overwrite").partitionBy("centroid_id").parquet(
        dest_path
    )
    _fs_write_text(
        f"{dest_path.rstrip('/')}/{IVFPQ_META_FILE}",
        json.dumps(
            {
                "coarse": meta["coarse"],
                "books": meta["books"],
                "m": meta["m"],
                "k_sub": meta["k_sub"],
            }
        ),
        spark,
    )


def delete_from_ivfpq_index(
    spark,
    base_path: str,
    ids,
    dest_path: str,
    meta: dict | None = None,
    id_col: str = "vec_id",
) -> None:
    """Targeted deletion from a persisted index — the
    right-to-be-forgotten / retraction half of the index lifecycle
    (build → stream-ingest → compact → DELETE). ``ids`` is either a
    DataFrame with ``id_col`` or an iterable of ids; rows matching it
    are anti-joined out and the survivors rewritten as a NEW
    generation at ``dest_path`` (same immutable-generation protocol
    as compact_ivfpq_index: the old store keeps serving probes until
    the caller's pointer swap). The delete set broadcasts — at
    100 TB a deletion batch is always dim-sized relative to the
    corpus, so the rewrite is one scan + a broadcast anti hash join,
    no shuffle of the codes. Quantizers are copied unchanged:
    deleting vectors never needs a retrain (cell occupancy shrinks,
    centroids stay valid for the survivors)."""
    import json

    # guard AFTER pointer resolution (see compact_ivfpq_index): a
    # dest equal to the root's CURRENT generation must be refused too
    base_path = resolve_index_dir(base_path, spark)
    if _same_target(dest_path, base_path, spark):
        raise ValueError(
            "delete_from_ivfpq_index: dest_path must be a NEW "
            "generation dir, not the (resolved) base index itself "
            f"({base_path})"
        )
    if meta is None:
        meta = read_ivfpq_meta(base_path, spark)
    if isinstance(ids, DataFrame):
        del_df = ids.select(F.col(id_col))
    else:
        del_df = spark.createDataFrame(
            [(int(i),) for i in ids], f"{id_col} long"
        )
    base = spark.read.parquet(base_path).select(
        id_col, "codes", "norm", "centroid_id"
    )
    kept = base.join(F.broadcast(del_df), id_col, "left_anti")
    kept.write.mode("overwrite").partitionBy("centroid_id").parquet(dest_path)
    _fs_write_text(
        f"{dest_path.rstrip('/')}/{IVFPQ_META_FILE}",
        json.dumps(
            {
                "coarse": meta["coarse"],
                "books": meta["books"],
                "m": meta["m"],
                "k_sub": meta["k_sub"],
            }
        ),
        spark,
    )


def ivfpq_topk_indexed_batch(
    spark,
    path: str,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    n_probe: int = 4,
    rerank: int | None = 50,
    emb: DataFrame | None = None,
    meta: dict | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Batched probe-only IVFADC+R: top-k for EVERY (qid, query
    vector) in ONE plan over the persisted index — the many-query
    production shape (ann_topk_batch's economics applied to the
    index). The codes store is read ONCE, partition-pruned to the
    UNION of all queries' probe cells; each query's per-cell terms
    and per-subspace ADC lookup tables are precomputed driver-side
    (Q x m x k integers — batch-sized literals, the same state a
    GPU ANN service uploads per query batch) and indexed per row via
    element_at, so the per-(query, row) cost stays m array reads.
    Per-query results are IDENTICAL to ivfpq_topk_indexed run
    query-by-query (asserted in tests): the shortlist is a per-qid
    rank window instead of a global TakeOrdered, and the exact
    re-rank reproduces cosine_topk's rounding/tie rules with the
    query vectors as a nested literal.

    Scale: one pruned codes scan amortized over the whole batch, one
    rank window keyed by qid (Q * rerank rows), one broadcast
    semi-join of Q*rerank ids into the vector table for the exact
    tail. Returns (qid, vec_id, cosine|approx_cosine)."""
    path = resolve_index_dir(path, spark)
    if meta is None:
        meta = read_ivfpq_meta(path, spark)
    coarse, books = meta["coarse"], meta["books"]
    score_col = "approx_cosine" if rerank is None else "cosine"
    if rerank is not None and emb is None:
        raise ValueError("rerank requires the raw vector table (emb)")
    if not queries or not coarse or not books or not books[0]:
        src = emb if emb is not None else spark.read.parquet(path)
        return src.filter(F.lit(False)).select(
            F.lit(0).cast("long").alias("qid"),
            F.col(id_col),
            F.lit(0.0).alias(score_col),
        )
    sub = len(books[0][0][1])
    m = len(books)
    kk = len(books[0])
    probe_sets, qcs, luts, qns, qnqs, qids, qvs = [], [], [], [], [], [], []
    for qid, qv in queries:
        probe_sets.append(_nearest_probes(qv, coarse, n_probe))
        qcs.append(_qc_micro(qv, coarse))
        flat = []
        for s, book in enumerate(books):
            flat.extend(_lut_micro(qv, book, s * sub))
        luts.append(flat)
        # TWO query norms, different scales for different phases: the
        # ADC scorer divides `approx / 1e6` by the RAW-scale norm
        # (Spark-internal only — the stored `norm` column is raw
        # too), while the exact re-rank divides micro-scaled dots by
        # the micro-scale norm, mirroring cosine_literal_q so the
        # tail stays bit-identical to the single-query probe's
        # cosine_topk
        qns.append(sum(float(x) * float(x) for x in qv) ** 0.5)
        qnqs.append(
            math.sqrt(
                sum(
                    round_half_away(float(x) * VEC_QUANT) ** 2 for x in qv
                )
            )
        )
        qids.append(int(qid))
        qvs.append(
            [float(round_half_away(float(x) * VEC_QUANT)) for x in qv]
        )
    all_cells = sorted({c for p in probe_sets for c in p})
    codes = spark.read.parquet(path).filter(
        F.col("centroid_id").isin(all_cells)
    )
    # long lits: F.lit(int) is IntegerType for int32-range ids, which
    # would make the live path's qid type diverge from the empty
    # branch's explicit long — same schema-drift class as the
    # cosine/approx_cosine empty_score fix
    QIDS = F.array(*[F.lit(q).cast("long") for q in qids])
    QPROBE = F.array(*[F.array(*[F.lit(c) for c in p]) for p in probe_sets])
    QC = F.array(*[F.array(*[F.lit(v) for v in qc]) for qc in qcs])
    LUT = F.array(*[F.array(*[F.lit(v) for v in lut]) for lut in luts])
    QN = F.array(*[F.lit(n) for n in qns])
    QNQ = F.array(*[F.lit(n) for n in qnqs])
    fan = codes.withColumn(
        "__qi", F.explode(F.sequence(F.lit(1), F.lit(len(queries))))
    ).filter(
        F.array_contains(F.element_at(QPROBE, F.col("__qi")), F.col("centroid_id"))
    )
    approx = F.element_at(F.element_at(QC, F.col("__qi")), F.col("centroid_id") + 1)
    for s in range(m):
        approx = approx + F.element_at(
            F.element_at(LUT, F.col("__qi")),
            F.lit(s * kk) + F.element_at(F.col("codes"), s + 1) + 1,
        )
    scored = fan.select(
        F.element_at(QIDS, F.col("__qi")).alias("qid"),
        F.col("__qi").alias("qi"),
        F.col(id_col),
        (
            approx / 1e6 / (F.element_at(QN, F.col("__qi")) * F.col("norm"))
        ).alias("approx_cosine"),
    )
    if exclude_self:
        scored = scored.filter(F.col(id_col) != F.col("qid"))
    w = Window.partitionBy("qid").orderBy(
        F.round(F.col("approx_cosine"), 6).desc(), F.col(id_col).asc()
    )
    ranked = scored.withColumn("__rn", F.row_number().over(w))
    if rerank is None:
        return ranked.filter(F.col("__rn") <= k).select(
            "qid", id_col, "approx_cosine"
        )
    short = ranked.filter(F.col("__rn") <= rerank).select("qid", "qi", id_col)
    QV = F.array(*[
        F.array(*[F.lit(x) for x in qv]) for qv in qvs
    ])
    self_dot = F.aggregate(
        F.col(vec_col), F.lit(0.0), lambda a, x: a + x.cast("double") * x
    )
    joined = emb.filter(self_dot > 0).join(F.broadcast(short), id_col)
    # quantized-exact re-rank + zero-sign normalization: QV/QN carry
    # integer micros, the vector side quantizes identically, so this
    # is bit-for-bit cosine_topk's tail (the single-probe parity the
    # tests assert) on every engine
    exact = F.round(
        _dotq(_vq(vec_col), F.element_at(QV, F.col("qi")))
        / (
            F.sqrt(_dotq(_vq(vec_col), _vq(vec_col)))
            * F.element_at(QNQ, F.col("qi"))
        ),
        6,
    ) + F.lit(0.0)
    rescored = joined.select("qid", F.col(id_col), exact.alias("cosine"))
    w2 = Window.partitionBy("qid").orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        rescored.withColumn("__rn", F.row_number().over(w2))
        .filter(F.col("__rn") <= k)
        .select("qid", id_col, "cosine")
    )


def power_iteration_milli(
    emb: DataFrame,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    checkpoint_input: bool = True,
) -> list[int]:
    """Dominant eigenvector direction of the (uncentered) Gram matrix
    X^T X by power iteration — the embedding-space analysis primitive
    behind whitening / dominant-direction removal — with EXACT
    integer arithmetic so the iterate is bit-identical on every
    engine (the Lloyd/GD/PageRank doctrine):

      * components quantize to BIGINT millis: xm_d = round(x_d*1e3);
      * per row the matvec term is the exact integer dot
        dq = sum_d xm_d * v_d  (v in millis — products ~1e12, row-
        local, N-independent);
      * s_d = SUM(dq * xm_d) accumulates as DECIMAL(38,0)/HUGEINT —
        exact at any corpus size, no 2^63 ceiling;
      * renormalization is max-norm INTEGER division TRUNCATED
        toward zero: v'_d = sign(s_d) * (|s_d| * 1000 DIV max|s|).
        (Power iteration converges under any positive scaling.
        DuckDB's ``//`` truncates toward zero on integers while
        Python's ``//`` floors — they disagree on negatives, so the
        driver computes sign * (abs // mx) explicitly.)

    The output is DEFINED as the n_iter-th iterate from the all-ones
    milli seed — convergence improves direction quality, never
    correctness. One aggregate + a dim-row driver sync per iteration
    (the Lloyd shape). Returns the v_milli list (len = dim)."""
    dim = _dim_of(emb, vec_col)
    if dim == 0:
        return []
    if checkpoint_input:
        emb = widen_narrow_source(emb).localCheckpoint(eager=False)
    xm = F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * 1000.0, 0).cast("long"),
    )
    v = [1000] * dim
    for _ in range(n_iter):
        V = F.array(*[F.lit(int(vd)).cast("long") for vd in v])
        dq = F.aggregate(
            F.zip_with(xm, V, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda a, t: a + t,
        )
        # dq casts to DECIMAL *before* the product: dq*xmv in LONG
        # wraps for component magnitudes past ~1.2e4 (dq ~ 7.7e11 x
        # xmv ~ 1.2e7 > 2^63) while the DuckDB oracle multiplies in
        # HUGEINT exactly — the decimal product keeps both engines
        # exact to 38 digits. dq itself stays LONG-safe for any
        # |component| <= ~1e11 (row-local, N-independent).
        rows = (
            emb.select(dq.alias("dq"), F.posexplode(xm).alias("d", "xmv"))
            .groupBy("d")
            .agg(
                F.sum(
                    F.col("dq").cast("decimal(38,0)") * F.col("xmv")
                ).alias("s")
            )
            .collect()
        )
        s = {int(r["d"]): int(r["s"]) for r in rows}
        mx = max((abs(s.get(d, 0)) for d in range(dim)), default=0) or 1
        v = [
            (1 if s.get(d, 0) >= 0 else -1) * (abs(s.get(d, 0)) * 1000 // mx)
            for d in range(dim)
        ]
    return v


def semantic_dedup(
    emb: DataFrame,
    k: int | str = "auto",
    *,
    threshold: float = 0.35,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_cell_rows: int = 1250,
    quant: int = 6,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means-cluster the embedding space
    (kmeans_fit — deterministic, quantized, oracle-pairable), then
    drop near-duplicates WITHIN each cluster only, survivorship
    greedy-by-id (a vector is dropped iff a LOWER-id cluster-mate
    matches at quantized cosine >= ``threshold``). Zero vectors are
    degenerate (no direction): they are excluded from ASSIGNMENT,
    pairing and the output, but k-means TRAINING runs over the
    unfiltered frame — deliberately, because the gate oracle's
    unrolled Lloyd CTEs train over every row. A zero vector among
    the k smallest ids would seed a dead zero-norm centroid (its
    cosine denominator is 0 — NULL sims, the cell never attracts
    rows); pre-filter upstream if a corpus can carry zero vectors
    in its low-id range. ``k="auto"``'s N is the LIVE count (the
    quantity the pairing bound depends on). Returns the survivors
    as (id_col, centroid_id).

    ``k="auto"`` (the default) sizes the clustering to the quantity
    that actually bounds cost at 100 TB: pair search is
    sum(|cluster|^2) per cell, so k tracks corpus growth as
    k = clamp(round(N_live / target_cell_rows), 2, N_live) — the
    expected cell stays ~``target_cell_rows`` rows and total pairing
    work stays ~N * target_cell_rows, LINEAR in the corpus, where a
    fixed k would be quadratic. Same bounded-count dispatch as
    write_ivfpq_index's k_coarse="auto" (sqrt-N is the right rule
    for a PROBE-cost/recall trade; N/target is the right rule for a
    PAIRING-cost bound — see SCALE.md "SemDeDup auto-k"). Costs one
    count() of the live vectors. Catalog gate queries pass an
    explicit k instead: the DuckDB oracle unrolls Lloyd with literal
    seed count, so the gate pins k while this dispatch serves real
    deployments; pytest pins auto == explicit at fixed N.

    Spark-side pairing is the Arrow-batched blocked matmul
    (cosine_pairs_in_groups, grouped by cluster id — one of the
    documented pandas whitelist sites)."""
    self_dot = F.aggregate(
        F.col(vec_col), F.lit(0.0), lambda a, x: a + x * x
    )
    # ONE materialization shared by the auto-k count, kmeans_fit's
    # n_iter+1 training passes AND the final assignment — previously
    # kmeans_fit checkpointed privately and the assignment re-derived
    # the caller's scan+cast from scratch (plus paid a second
    # planning-probe checkpoint for the pair/anti-join consumers)
    emb = widen_narrow_source(emb).localCheckpoint(eager=False)
    if k == "auto":
        n_live = emb.filter(self_dot > 0).count()
        k = max(2, min(int(round(n_live / target_cell_rows)), max(n_live, 2)))
    cents = kmeans_fit(
        emb, k=k, n_iter=n_iter, id_col=id_col, vec_col=vec_col,
        quant=quant, checkpoint_input=False,
    )
    # assign only live rows: zero vectors would be dropped right
    # after anyway, and their normless cosine is an ANSI
    # divide-by-zero (the gate oracle's `live` CTE is the same cut)
    assigned = _assign_quantized(
        emb.filter(self_dot > 0), cents, vec_col, quant
    )
    live = assigned.localCheckpoint(eager=False)
    # Sub-block the within-cluster pairing (the cosine_pairs_blocked
    # scheme NESTED inside each cell): with a pinned gate k the cell
    # size grows linearly with the corpus and each cell's |cell|^2
    # matmul ran as ONE single-threaded pandas task — at sf1 four
    # 25k x 25k matmuls were the whole query's straggler tail (guide
    # §2.5, giant-key skew). Composite block ids (cid * B + blk) keep
    # cells disjoint, so every unordered same-cell pair lands in
    # exactly ONE (b1, b2) group and the emitted pair SET is
    # identical — only its task decomposition changes. Replication
    # cost is B rows per vector; B=8 turns one k-task stage into
    # k*B(B+1)/2 tasks. (k="auto" bounds cells to ~target_cell_rows,
    # where blocking is harmless: tiny matmuls, same answer.)
    n_blocks = 8
    partners = F.array(*[F.lit(j) for j in range(n_blocks)])
    blocked = (
        live.withColumn(
            "__blk",
            F.col("centroid_id") * n_blocks
            + F.pmod(F.hash(F.col(id_col)), F.lit(n_blocks)),
        )
        .withColumn("__pp", F.explode(partners))
        .withColumn(
            "__p", F.col("centroid_id") * n_blocks + F.col("__pp")
        )
        .withColumn("__b1", F.least("__blk", "__p"))
        .withColumn("__b2", F.greatest("__blk", "__p"))
    )
    pairs = cosine_pairs_in_groups(
        blocked, ["__b1", "__b2"], threshold=threshold,
        id_col=id_col, vec_col=vec_col, split_col="__blk",
    )
    dropped = pairs.select(F.col("id2").alias(id_col)).distinct()
    return live.join(dropped, id_col, "left_anti").select(
        id_col, "centroid_id"
    )


def project_out_direction(
    emb: DataFrame,
    v_milli: list[int] | None = None,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Dominant-direction removal — the "All-but-the-Top" embedding
    post-processing step (Mu & Viswanath, ICLR 2018: subtracting the
    top principal direction(s) measurably improves similarity-task
    quality of anisotropic embedding spaces) — in the repo's
    exact-integer doctrine so the whole train-then-transform chain
    is STRICT-oracle-paired:

      * direction: ``v_milli`` (len = dim), by default the
        power_iteration_milli iterate (milli-int components);
      * per row, milli-quantized components xm_d = round(x_d * 1e3)
        and the exact integer projection coefficient
        dot = sum_d xm_d * v_d over vn2 = sum_d v_d^2;
      * the correction per dimension is the TRUNCATED-toward-zero
        integer division sign(dot*v_d) * (|dot*v_d| DIV vn2) — the
        power_iteration_milli convention, spelled sign-explicitly
        because Python // floors while SQL integer division
        truncates;
      * outputs per vector: coef_milli = trunc(dot * 1000 / vn2)
        (the removed component's magnitude in direction-norm units)
        and resid_q = sum_d (xm_d - corr_d)^2 (the residual's exact
        squared milli-norm). Scalars, so the driver gate can hash
        them; the residual VECTOR itself is the same corr subtraction
        applied map-side if a caller wants the transformed corpus.

    Magnitudes (dim 64, |x| <= ~32): xm ~ 1e3..3e4, dot <= ~2e9,
    dot*v_d <= ~2e12, resid_q <= ~6e10 — all comfortably inside
    BIGINT on every engine (DuckDB's HUGEINT intermediates agree
    numerically with Spark's longs because every value is exact).

    Scale shape: train = power_iteration_milli (one map-side matvec
    + one narrow aggregate per iteration, dim-row driver state);
    transform = ONE map-side projection, no shuffle. The dot column
    materializes behind a checkpoint barrier before the per-dim
    correction references it — Catalyst's projection collapse would
    otherwise inline the 64-term dot into each of the 64 correction
    terms (the r09 element_at trap)."""
    emb = widen_narrow_source(emb).localCheckpoint(eager=False)
    if v_milli is None:
        v_milli = power_iteration_milli(
            emb, n_iter=n_iter, id_col=id_col, vec_col=vec_col,
            checkpoint_input=False,
        )
    v_milli = [int(x) for x in v_milli]
    vn2 = sum(x * x for x in v_milli)
    if vn2 == 0:
        raise ValueError(
            "project_out_direction: degenerate all-zero direction"
        )
    dim = len(v_milli)
    xm_terms = [
        f"CAST(ROUND({vec_col}[{d}] * 1000.0D, 0) AS BIGINT)"
        for d in range(dim)
    ]
    dot_sql = " + ".join(
        ["CAST(0 AS BIGINT)"]
        + [f"{t} * {v_milli[d]}L" for d, t in enumerate(xm_terms)]
    )
    base = emb.select(
        F.col(id_col),
        F.expr(f"array({', '.join(xm_terms)})").alias("__xm"),
        F.expr(dot_sql).alias("__dot"),
    ).localCheckpoint(eager=False)
    vlits = ", ".join(f"{x}L" for x in v_milli)
    corr = (
        f"(CASE WHEN __dot * vd >= 0 THEN (__dot * vd) DIV {vn2}L "
        f"ELSE -((-(__dot * vd)) DIV {vn2}L) END)"
    )
    resid_sql = (
        f"aggregate(zip_with(__xm, array({vlits}), (x, vd) -> "
        f"x - {corr}), CAST(0 AS BIGINT), (a, r) -> a + r * r)"
    )
    coef_sql = (
        f"CASE WHEN __dot >= 0 THEN (__dot * 1000L) DIV {vn2}L "
        f"ELSE -((-(__dot * 1000L)) DIV {vn2}L) END"
    )
    return base.select(
        F.col(id_col),
        F.expr(coef_sql).alias("coef_milli"),
        F.expr(resid_sql).alias("resid_q"),
    )
