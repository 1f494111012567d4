"""Mining / sketching primitives: frequent-pair mining (apriori) and
a count-min sketch with an exactly-replayable construction.

Part of the SURVEY §2.11 extension surface (the reference has no
mining operators). Both are built on the repo's portable-determinism
doctrine: integer counters and md5-derived hash rows that any engine
reproduces bit-for-bit, so even the SKETCH is strict-oracle-pairable
— the oracle replays the construction, not just a tolerance band.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import shuffle_width


def frequent_pairs(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int = 3,
) -> DataFrame:
    """Market-basket frequent-PAIR mining (the 2-itemset core of
    Agrawal & Srikant 1994's Apriori): item pairs co-occurring in at
    least ``min_support`` distinct baskets.

    Apriori pruning (lossless — a frequent pair's items are
    frequent): items below min_support leave the basket table via a
    semi-join BEFORE the pair fan, so a long tail of one-off items
    never enters the self-join. The pair fan itself is bounded by
    BASKET SIZE, not corpus size (per basket: |items|^2 / 2 rows —
    retail/order baskets are tens of items), and lands directly in a
    map-side-combining count, never a materialized pair list.

    Returns (item1, item2, support) with item1 < item2.
    """
    baskets = df.select(
        F.col(basket_col).alias("b"), F.col(item_col).alias("i")
    ).distinct()
    l1 = (
        baskets.groupBy("i")
        .agg(F.count(F.lit(1)).alias("f"))
        .filter(F.col("f") >= min_support)
        .select("i")
    )
    # Materialize the pruned basket table ONCE, clustered by basket:
    # the self-join otherwise plans the whole scan+distinct+semi-join
    # subtree twice (both sides), and the checkpoint pin keeps the
    # HashPartitioning(b) visible so neither join side re-exchanges
    # (the edit1_pairs shape, operators/skew.pinned_checkpoint).
    from .skew import pinned_checkpoint

    width = shuffle_width(df.sparkSession)
    pruned = pinned_checkpoint(
        baskets.join(l1, "i", "left_semi").repartition(width, F.col("b"))
    )
    a = pruned.select(F.col("b"), F.col("i").alias("item1"))
    bb = pruned.select(F.col("b"), F.col("i").alias("item2"))
    return (
        a.join(bb, "b")
        .filter(F.col("item1") < F.col("item2"))
        .groupBy("item1", "item2")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= min_support)
    )


CMS_DEPTH = 4
CMS_WIDTH = 256


def _cms_col(token_expr: str, j: int, width: int) -> str:
    """Engine-portable column index of ``token_expr`` in hash row j:
    8 md5 hex digits of the salted token as a BIGINT, mod width (the
    md5km twin the minhash/DSIR families use). Valid Spark AND DuckDB
    SQL given each engine's hex-parse idiom — this helper emits the
    SPARK form; cms_col_duck_sql the DuckDB form."""
    return (
        f"cast(conv(substr(md5(concat('cms{j}:', {token_expr})), 1, 8), "
        f"16, 10) as bigint) % {width}"
    )


def cms_col_duck_sql(token_expr: str, j: int, width: int) -> str:
    return (
        f"CAST(concat('0x', substr(md5(concat('cms{j}:', {token_expr})), "
        f"1, 8)) AS BIGINT) % {width}"
    )


def cms_build(
    items: DataFrame,
    item_col: str = "token",
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) over an item
    STREAM (rows with multiplicity): a depth x width integer counter
    matrix as a (j, c, cnt) frame — depth*width rows total, the
    fixed-size mergeable summary. Construction is one explode to
    depth rows per item + one map-side-combining groupBy on the
    (j, c) cell key (cardinality depth*width — partial aggregation
    collapses each partition to the matrix size before the shuffle,
    the approx_top_k shape). Hash rows are md5-salted and therefore
    DETERMINISTIC: unlike library sketches, this one's every counter
    is exactly replayable by an oracle."""
    cells = items.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(j).alias("j"),
                    F.expr(_cms_col(item_col, j, width)).alias("c"),
                )
                for j in range(depth)
            ])
        ).alias("jc")
    )
    return (
        cells.select("jc.j", "jc.c")
        .groupBy("j", "c")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    item_col: str = "token",
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Point-frequency estimates for ``probes`` against a cms_build
    sketch: min over the depth rows of the probed cell counters —
    the CMS guarantee estimate >= true (never under), within
    2N/width of true with prob 1 - 2^-depth. The sketch is
    matrix-sized, so it broadcasts; probing is a map-side join.
    Returns the probe rows + ``cms_estimate``."""
    p = probes
    for j in range(depth):
        sj = sketch.filter(F.col("j") == j).select(
            F.col("c").alias(f"__c{j}"), F.col("cnt").alias(f"__cnt{j}")
        )
        p = p.withColumn(
            f"__c{j}", F.expr(_cms_col(item_col, j, width))
        ).join(F.broadcast(sj), f"__c{j}", "left")
    est = F.least(*[
        F.coalesce(F.col(f"__cnt{j}"), F.lit(0)) for j in range(depth)
    ])
    return p.withColumn("cms_estimate", est).drop(
        *[f"__c{j}" for j in range(depth)],
        *[f"__cnt{j}" for j in range(depth)],
    )


# ---------------------------------------------------------------------------
# Portable HyperLogLog (md5-register, strict-oracle-replayable)
# ---------------------------------------------------------------------------

HLL_P = 6                     # 2^6 = 64 registers
HLL_M = 1 << HLL_P
HLL_RMAX = 31                 # 5-bit register saturation (Flajolet 2007)
# alpha_64 = 0.7213 / (1 + 1.079/64) as the exact rational
# 7213/10000 * 64000/65079 = 461632000/650790000 = 230816/325395
HLL_ALPHA_NUM = 230816
HLL_ALPHA_DEN = 325395
assert 0.70 < HLL_ALPHA_NUM / HLL_ALPHA_DEN < 0.71
# linear-counting table: round(m * ln(m / V)) for V = 1..m — ln is
# transcendental, so it enters as 64 precomputed INTEGER literals
# instead of a libm call that may differ across engines in the last
# ulp right at a rounding boundary.
import math as _math  # noqa: E402

HLL_LC = [round(HLL_M * _math.log(HLL_M / v)) for v in range(1, HLL_M + 1)]

# Per-precision alpha rationals for the generalized (p-parameterized)
# HLL family. p=6 is the historical default every existing oracle was
# hashed against; p=8 (m=256, ~6.5% rsd vs ~13% at m=64) is used where
# estimate accuracy matters more than register-frame size
# (approx_distinct_parts since r14). The p=8 alpha is the 4-digit
# truncation of 0.7213/(1 + 1.079/256) = 0.718273... — ANY fixed
# rational shared by both engines is a valid alpha choice, and the
# short one keeps the decimal division adjustment-free (see
# _hll_decimal_digits).
HLL_ALPHAS = {6: (HLL_ALPHA_NUM, HLL_ALPHA_DEN), 8: (7183, 10000)}


def _hll_params(p: int) -> tuple[int, int, int, list[int]]:
    """(m, alpha_num, alpha_den, linear-counting table) for one
    supported precision."""
    if p not in HLL_ALPHAS:
        raise ValueError(f"hll: unsupported precision {p}")
    m = 1 << p
    an, ad = HLL_ALPHAS[p]
    lc = [round(m * _math.log(m / v)) for v in range(1, m + 1)]
    return m, an, ad, lc


def _hll_decimal_digits(p: int) -> tuple[int, int]:
    """(num_digits, den_digits) for the exact floor-division at
    precision p, with the no-precision-loss-adjustment invariant
    asserted: num = alpha_num * m^2 * 2^RMAX is a constant; den =
    alpha_den * S with S <= m * 2^RMAX. Spark decimal(p1,0) /
    decimal(p2,0) yields precision p1 + max(6, p2+1), scale
    max(6, p2+1) — we require precision <= 38 (no HALF_UP scale
    adjustment) and the 10^-scale rounding grid strictly below
    1/den_max, so floor() of the quotient is the true integer
    quotient on both engines."""
    m, an, ad, _ = _hll_params(p)
    num = an * m * m * (1 << HLL_RMAX)
    den_max = ad * (m << HLL_RMAX)
    p1, p2 = len(str(num)), len(str(den_max))
    scale = max(6, p2 + 1)
    assert p1 + scale <= 38, (p, p1, p2)
    assert den_max < 10 ** scale, (p, den_max, scale)
    return p1, p2


def _hll_hash_sql(item_expr: str, duck: bool) -> str:
    """60-bit md5-derived hash of the salted item — the register
    index is hash % m and the rho argument is hash DIV m (54 bits).
    Same md5km idiom as the CMS / minhash families."""
    if duck:
        return (
            f"CAST(concat('0x', substr(md5(concat('hll:', "
            f"CAST({item_expr} AS VARCHAR))), 1, 15)) AS BIGINT)"
        )
    return (
        f"cast(conv(substr(md5(concat('hll:', cast({item_expr} as string)"
        f")), 1, 15), 16, 10) as bigint)"
    )


def hll_rho_sql(
    item_expr: str, duck: bool = False, p: int = HLL_P
) -> tuple[str, str]:
    """(register_index_sql, rho_sql) for one item expression, valid
    on Spark (duck=False) or DuckDB (duck=True). rho = 1 + number of
    leading zero bits of the (60-p)-bit remainder, saturated at
    HLL_RMAX — computed by a generated integer comparison ladder
    (no log2: libm log2 of 2^k - 1 can round up to k)."""
    m, _, _, _ = _hll_params(p)
    h = _hll_hash_sql(item_expr, duck)
    j = f"(({h}) % {m})"
    w = f"(({h}) // {m})" if duck else f"(({h}) div {m})"
    # w has 60-p usable bits; rho = 61-p - bit_length(w), capped at
    # RMAX. Ladder only needs thresholds down to rho = RMAX - 1:
    # anything smaller saturates.
    wbits = 60 - p
    branches = " ".join(
        f"WHEN {w} >= {1 << (wbits - r)} THEN {r}"
        for r in range(1, HLL_RMAX)
    )
    rho = f"(CASE {branches} ELSE {HLL_RMAX} END)"
    return j, rho


def hll_registers(
    df: DataFrame,
    group_cols: list[str],
    item_col: str,
    p: int = HLL_P,
) -> DataFrame:
    """Per-group HLL register frame: (group_cols..., j, rho) with
    rho = MAX over the group's items — m rows per group at most, the
    fixed-size MERGEABLE distinct-count summary (union of sketches =
    elementwise register max, so any rollup level derives from this
    layer by re-aggregating max(rho), never rescanning the keys).
    Construction is one map-side-combining groupBy on
    (group, j): partial aggregation collapses every partition to at
    most groups x m rows before the shuffle."""
    j_sql, rho_sql = hll_rho_sql(item_col, duck=False, p=p)
    return (
        df.select(
            *group_cols,
            F.expr(j_sql).cast("int").alias("j"),
            F.expr(rho_sql).cast("int").alias("rho"),
        )
        .groupBy(*group_cols, "j")
        .agg(F.max("rho").alias("rho"))
    )


def hll_estimate(
    registers: DataFrame, group_cols: list[str], p: int = HLL_P
) -> DataFrame:
    """Distinct-count estimate per group from a register frame
    (merging register frames first is just max(rho) over (group, j)).

    Pure integer arithmetic, identical on every engine: the harmonic
    sum S = sum_j 2^(RMAX - rho_j) (+ 2^RMAX per zero register) is
    exact in BIGINT (<= m * 2^RMAX = 2^37), and the raw estimate
    alpha * m^2 / 2^-RMAX-normalized-S is one decimal floor
    division whose exactness is argued at the cast sites below —
    asserted bit-for-bit by the DuckDB twin's HUGEINT //.
    Small-range (E <= 2.5m, V > 0) switches to linear counting via
    the HLL_LC integer table. Returns (group_cols..., approx_users
    BIGINT) — raw-HLL bias beyond the 5-bit saturation point
    (n >> m * 2^RMAX ~ 1.4e11 per group) is out of test range and
    documented."""
    m, an, ad, lc_table = _hll_params(p)
    p1, p2 = _hll_decimal_digits(p)
    zero = F.lit(1 << HLL_RMAX).cast("long")
    per = registers.groupBy(*group_cols).agg(
        F.sum(
            F.expr(f"shiftleft(cast(1 as bigint), {HLL_RMAX} - rho)")
        ).alias("__s_hit"),
        F.count(F.lit(1)).alias("__m_hit"),
    )
    v = F.lit(m) - F.col("__m_hit")
    s = (F.col("__s_hit") + v * zero).cast("long")
    # decimal(p1,0) / decimal(p2,0) -> precision p1 + max(6, p2+1)
    # <= 38 (asserted in _hll_decimal_digits), so Spark applies NO
    # precision-loss adjustment and the HALF_UP rounding grid
    # 10^-scale sits strictly below 1/den_max — floor is the true
    # integer quotient. (decimal(38,0) on both sides would adjust to
    # scale 6 and could round a x.9999997 quotient UP past the
    # floor.) At p=6: (19,0)/(17,0) -> (37,18), the r13 shape.
    num = F.lit(an * m * m * (1 << HLL_RMAX)).cast(f"decimal({p1},0)")
    den = (F.lit(ad) * s).cast(f"decimal({p2},0)")
    raw = F.floor(num / den).cast("long")
    lc = F.try_element_at(
        F.array(*[F.lit(x).cast("long") for x in lc_table]),
        v.cast("int"),
    )
    est = F.when(
        (raw <= F.lit(int(2.5 * m))) & (v > 0), lc
    ).otherwise(raw)
    return per.select(*group_cols, est.alias("approx_users"))


def hll_estimate_duck_sql(
    reg_rel: str, group_cols: list[str], p: int = HLL_P
) -> str:
    """DuckDB twin of hll_estimate over a register relation
    (group..., j, rho): HUGEINT // replays the same integers."""
    m, an, ad, lc_table = _hll_params(p)
    g = ", ".join(group_cols)
    lc_list = ", ".join(str(x) for x in lc_table)
    num = an * m * m * (1 << HLL_RMAX)
    return f"""
    SELECT {g},
           CAST(CASE WHEN raw <= {int(2.5 * m)} AND v > 0
                THEN [{lc_list}][CAST(v AS INT)]
                ELSE raw END AS BIGINT) AS approx_users
    FROM (
      SELECT {g}, v,
             CAST({num}::HUGEINT //
                  ({ad}::HUGEINT * s) AS BIGINT) AS raw
      FROM (
        SELECT {g},
               {m} - COUNT(*) AS v,
               SUM(CAST(1 AS BIGINT) << ({HLL_RMAX} - rho))
                 + ({m} - COUNT(*)) * (CAST(1 AS BIGINT) << {HLL_RMAX})
                 AS s
        FROM {reg_rel} GROUP BY {g}
      )
    )
    """
