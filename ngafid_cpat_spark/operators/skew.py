"""Skew-mitigation operators: salting for hot keys.

The reference's analog is the per-flight task queue (one hot flight =
one slow consumer, main.py:47-68). In Spark, a skewed groupBy/join
key concentrates a partition on one task; AQE's skew-join splitting
(enabled in session.py) covers sort-merge joins, and these helpers
cover the aggregate and broadcast-replicate cases explicitly:

  * salted_agg: two-phase aggregation — partial agg on (key, salt),
    final agg on key. Turns one hot reducer into n_salts reducers.
  * salted_join: replicate the small side across n_salts copies and
    join on (key, salt) so a hot fact key spreads over n_salts
    partitions. Deterministic salt from a hash of caller-chosen
    columns (no rand(): keeps reruns/retries idempotent).

Both are semantics-preserving: tests assert equality with the
unsalted plans.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import scoped_conf, shuffle_width

SALT_COL = "__salt"


def widen_narrow_source(
    df: DataFrame, *key_cols: str, probe: bool = True
) -> DataFrame:
    """Repartition a NARROW source to session shuffle width before
    expensive per-row compute (tokenize/explode/hash pipelines).

    A compact input — one parquet file with one row group at bench
    scale — scans as ONE partition, so everything up to the first
    exchange runs as a single task on a many-core executor (the r07
    ann_ivfpq_topk / winnow_fingerprints catch, generalized). The dispatch is a plan-metadata probe, no job:

      * source already >= shuffle width partitions (any real 100 TB
        scan): returned unchanged — zero cost at scale;
      * narrower: repartition(width, key_cols). When ``key_cols`` is
        the key the downstream window/groupBy clusters on, the
        exchange is not extra — it is the SAME exchange moved before
        the explosion, carrying pre-explosion (smaller) rows, which
        is the guide's "project before the exchange" shape.

    Row placement never affects results where this is used
    (aggregates/joins/windows keyed by ``key_cols``); the two-config
    determinism sweep asserts that engine-wide.

    ``probe=False`` skips the ``.rdd`` width probe and repartitions
    unconditionally — for call sites where the downstream pipeline
    REQUIRES ``key_cols`` clustering anyway (a window/groupBy on the
    key), so the exchange is not extra at any scale, merely moved
    before the explosion. The probe is a full physical planning of
    the frame (measured ~0.25 s even on simple plans, 0.4-0.9 s on
    complex ones such as the IVFADC residual plan), pure
    waste when the answer cannot change the plan."""
    target = shuffle_width(df.sparkSession)
    if probe and df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, *[F.col(c) for c in key_cols])


def pinned_checkpoint(df: DataFrame, eager: bool = False) -> DataFrame:
    """Lazy localCheckpoint that KEEPS the frame's physical
    partitioning/ordering visible to downstream planning.

    Dataset.checkpoint captures outputPartitioning/outputOrdering
    from the compiled physical plan into the LogicalRDD it returns —
    but under AQE that plan is an AdaptiveSparkPlanExec whose STATIC
    outputPartitioning is UnknownPartitioning(0), so every consumer
    of the checkpoint re-exchanges (and re-sorts) data that is
    already correctly placed: the approach flagship's tail
    re-shuffled the same HashPartitioning(flight) frame at every one
    of its 9 post-checkpoint exchanges. Compiling the checkpoint
    with AQE momentarily disabled captures the real partitioning;
    downstream Exchanges/Sorts then elide via the
    partitioning-subset rule exactly as they would without the
    barrier.

    Trade: the checkpointed SUBTREE itself materializes without AQE
    (no runtime coalesce / skew split for its internal exchanges) —
    use where those exchanges are already explicitly sized
    (repartition/groupBy at session shuffle width) and skew-free,
    and keep plain localCheckpoint where AQE's runtime reshaping of
    the subtree matters more than the downstream re-exchange.

    The AQE toggle is a session-conf change around the compile, made
    through session.scoped_conf (see there for what concurrent plan
    builders may and may not rely on)."""
    with scoped_conf(df.sparkSession, {"spark.sql.adaptive.enabled": "false"}):
        return df.localCheckpoint(eager=eager)


def with_salt(df: DataFrame, salt_from: list[str], n_salts: int) -> DataFrame:
    """Deterministic salt in [0, n_salts) from a hash of ``salt_from``
    columns (pick high-cardinality ones, e.g. the row's unique id)."""
    return df.withColumn(
        SALT_COL, F.pmod(F.hash(*[F.col(c) for c in salt_from]), F.lit(n_salts))
    )


def salted_agg(
    df: DataFrame,
    key_cols: list[str],
    salt_from: list[str],
    partial_aggs: list[tuple[Column, str]],
    final_aggs: list[tuple[Column, str]],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase skew-safe aggregation.

    partial_aggs: (expr, alias) evaluated per (key, salt);
    final_aggs:   (expr over the partial aliases, alias) per key.
    e.g. sum -> partial sum + final sum; count -> partial count +
    final sum; avg -> partial (sum, count) + final sum/sum.
    """
    salted = with_salt(df, salt_from, n_salts)
    partial = salted.groupBy(*key_cols, SALT_COL).agg(
        *[e.alias(a) for e, a in partial_aggs]
    )
    return partial.groupBy(*key_cols).agg(*[e.alias(a) for e, a in final_aggs])


def salted_join(
    facts: DataFrame,
    dim: DataFrame,
    on: str,
    salt_from: list[str],
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: facts get a deterministic salt, the dim is
    replicated n_salts times, and the join key becomes (on, salt) —
    a hot key's rows land on n_salts different reducers."""
    if how not in ("inner", "left", "left_outer", "leftouter", "left_semi",
                   "leftsemi", "left_anti", "leftanti"):
        raise ValueError(
            f"salted_join does not preserve {how!r} semantics: the "
            "n_salts-replicated dim side emits spurious null-padded / "
            "duplicate rows under right/full outer joins"
        )
    salted_facts = with_salt(facts, salt_from, n_salts)
    salts = F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    salted_dim = dim.withColumn(SALT_COL, salts)
    return (
        salted_facts.join(salted_dim, on=[on, SALT_COL], how=how).drop(SALT_COL)
    )
