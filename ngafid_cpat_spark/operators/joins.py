"""Join operators beyond plain equi-joins.

The reference hand-rolls two non-equi joins (SURVEY.md §2.3): a
nearest-neighbor airport lookup — a full linear scan of 15k airports
per telemetry point (FlightAnalysis.py:347-367) — and a heading-band
filtered argmin runway lookup (FlightAnalysis.py:369-391). Here they
are DataFrame operators:

  * nearest: broadcast dim + groupBy + min(struct) argmin.
    min(struct(dist, key)) gives a total order => determinism on
    ties, unlike bare min_by.
  * nearest_banded_1d: exact banded 1-D nearest neighbor — 3-band
    equi-join + provable window guarantee + sparse-tail fallback;
    linear shuffle instead of a cross product.
  * nearest_gridded: the 100 TB-scale variant — bucket both sides on
    a lat/lon grid cell and join each point to its 3x3 neighborhood,
    turning the cross product into an equi-join on cell id.
  * asof_join: most-recent-prior match per key (union + running
    last_value), the classic log-enrichment join over events.

All avoid driver-side loops; the small side is broadcast explicitly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import geo
from ..functions.timeutil import epoch_seconds
from ..session import shuffle_width
from .skew import pinned_checkpoint

# Hard ceiling on rows broadcast as an argmin build side. Spark's own
# failure mode for an oversized broadcast is an executor OOM deep in
# the job; this fails fast at plan-build time instead.
MAX_BROADCAST_DIM_ROWS = 2_000_000


def assert_dim_bounded(dims: DataFrame, max_rows: int | None = MAX_BROADCAST_DIM_ROWS) -> None:
    """Guard that a 'dimension' really is dimension-sized before we
    broadcast it. limit(n+1).count() stops scanning at n+1 rows, so
    the probe costs O(max_rows) regardless of the true table size."""
    if max_rows is None:
        return
    n = dims.limit(max_rows + 1).count()
    if n > max_rows:
        raise ValueError(
            f"broadcast dim side exceeds {max_rows} rows; use the "
            "gridded/banded scale path with a repartitioned (non-"
            "broadcast) dim side instead"
        )


def _argmin_two_phase(
    left: DataFrame,
    fan,
    keys: list[str],
    distance: Column,
    payload_cols: list[str],
) -> DataFrame:
    """HASH-aggregable argmin over a fan-out join.

    ``fan(frame)`` appends candidate (dim) columns to ``frame`` via a
    broadcast equi- or cross-join; it is invoked twice. Phase 1
    aggregates min(distance) per key — a primitive double buffer, so
    the amplified fan-out collapses in a map-side HashAggregate
    (min_by / min(struct) carry a struct buffer HashAggregateExec
    cannot hold, and the resulting SortAggregate sorts the FULL
    fan-out: measured 33x slowdown at 10x rows, tools/scale_smoke.py
    and SCALE.md). Phase 2 re-fans only to keep rows achieving the
    min (the same deterministic expression both times, so exact
    equality holds) and breaks ties with min(struct(payload)) over
    the ~1 surviving row per key.

    NULL/NaN distances never win: min skips NULLs, a NULL can't
    equal the finite minimum, and the explicit isnan guard covers the
    all-NaN group (Spark evaluates NaN = NaN as TRUE and sorts NaN
    LAST, so min only returns NaN when every candidate is NaN — the
    guard turns that bogus winner into absence). Keys with no
    finite-distance candidate are ABSENT from the result (callers
    left-join or fall back). Returns one row per key: keys + __best
    struct(payload_cols) + __dist.
    """
    dmin = fan(left).groupBy(*keys).agg(F.min(distance).alias("__dist"))
    cand = fan(left.join(dmin, on=keys)).filter(
        (distance == F.col("__dist"))
        & ~F.isnan(F.col("__dist").cast("double"))
    )
    return cand.groupBy(*keys).agg(
        F.min(F.struct(*[F.col(c) for c in payload_cols])).alias("__best"),
        F.min("__dist").alias("__dist"),
    )


# Target distinct fact keys per fan task: the phase-1 partial
# aggregate keeps one min-buffer per key, and once that map outgrows
# the per-core cache slice every one of the |facts| x |dims| fan rows
# pays a DRAM-latency lookup. Measured at 5M facts x 15,165 dims on
# local[32]: 32 partitions (156k keys/task) 117 s, 128 partitions
# 50 s, 512 partitions 45 s — a 2.6x cliff from cache residency
# alone. ~32k keys x ~32 B buffer ≈ 1 MB per task map.
TARGET_KEYS_PER_FAN_TASK = 32_768


def nearest(
    facts: DataFrame,
    dims: DataFrame,
    distance: Column,
    fact_key: str,
    dim_cols: list[str],
    out_prefix: str = "nearest_",
    fan_partitions: int | str | None = None,
) -> DataFrame:
    """Argmin join: for every fact row, the dim row minimizing
    ``distance`` (a Column over the joined row). Dims are broadcast;
    ties break lexicographically on dim_cols for determinism.

    Generalizes the reference's nearest-airport scan
    (FlightAnalysis.py:347-367) — same semantics, but broadcast hash
    joins + partial aggregation instead of a Python loop per row.

    Two-phase shape, chosen because it is the only formulation whose
    aggregation HASH-aggregates: ``min_by`` / ``min(struct)`` carry a
    struct buffer, which HashAggregateExec cannot hold, so Spark
    silently plans a SortAggregate — and the sort runs over the FULL
    |facts| x |dims| fan-out (measured 33x slowdown at 10x rows in
    tools/scale_smoke.py: the fan-out sort spills). Here phase 1
    computes min(distance) per fact — a primitive double buffer, so
    the fan-out collapses in a map-side hash aggregate and, with the
    fact side pre-partitioned on the key, without any exchange.
    Phase 2 re-fans the dims and keeps only rows achieving the min
    (the same deterministic expression both times, so exact equality
    holds), then resolves ties with min(struct(dim_cols)) over the
    surviving ~1 row per fact — that aggregate does sort, but over
    |facts| rows, not |facts| x |dims|. Net: 2x the (codegen-cheap)
    distance evaluations, zero superlinear sorts.

    NULL/NaN distances never win: phase 1's min skips NULLs and a
    NULL/NaN can't equal the finite minimum (the previous min(struct)
    ordering sorted a NULL distance FIRST, letting a null-distance
    dim beat real candidates). A fact with no finite distance gets
    NULL nearest_* columns via the left join.

    ``fan_partitions``: width of the fan stages.
      * None (default): the session's defaultParallelism — fully lazy,
        no extra action over the fact lineage (plan-build stays cheap
        for heavy multi-stage inputs).
      * ``"auto"``: count the facts once and size tasks so each
        phase-1 aggregation map holds ~TARGET_KEYS_PER_FAN_TASK keys
        (cache-resident — see the measured 2.6x DRAM cliff above).
        Opt-in because it costs ONE eager count() over the fact
        lineage at plan-build time; use it whenever |facts| may exceed
        ~TARGET_KEYS_PER_FAN_TASK x defaultParallelism (≈1M rows on
        local[32]) and the lineage is cheap to scan.
      * an int: explicit width, when the fact count is known."""
    # explicit partition count: AQE would coalesce the (small) pre-join
    # shuffle to one partition, blind to the |dims|x fan-out behind it
    n_part = shuffle_width(facts.sparkSession)
    if fan_partitions == "auto":
        n_facts = facts.count()
        fan_partitions = max(
            n_part, int(n_facts // TARGET_KEYS_PER_FAN_TASK) + 1
        )
    elif fan_partitions is None:
        fan_partitions = n_part
    # no manual projection: Catalyst prunes the fan-out down to the
    # key + the distance expression's inputs on its own
    f = facts.repartition(fan_partitions, fact_key)
    bdims = F.broadcast(dims)
    best = _argmin_two_phase(
        f, lambda df: df.join(bdims, how="cross"),
        [fact_key], distance, dim_cols,
    )
    out = best.select(
        fact_key,
        F.col("__dist").alias(f"{out_prefix}dist"),
        *[F.col(f"__best.{c}").alias(f"{out_prefix}{c}") for c in dim_cols],
    )
    return facts.join(out, on=fact_key, how="left")


def nearest_banded_1d(
    facts: DataFrame,
    dims: DataFrame,
    fact_key: str,
    fact_val: str,
    dim_key: str,
    dim_val: str,
    band_width: float,
) -> DataFrame:
    """EXACT 1-D nearest neighbor without a cross product: band both
    sides into fixed-width buckets, equi-join each fact to dims in its
    band +/- 1, argmin per fact. Any dim within ``band_width`` of a
    fact is provably inside that 3-band window, so a banded winner at
    distance <= band_width IS the global winner; the (rare) facts
    whose banded best is farther — or who saw no candidate at all —
    fall back to the exact broadcast-argmin pass.

    At scale: the main join shuffles linearly in |facts| (dims
    replicated 3x, broadcast), and the fallback handles only the
    sparse tail — the 1-D form of nearest_gridded's 3x3 cell walk.
    Output: (fact_key, fact_val, nearest key, distance). Ties break
    on (distance, dim_key) like `nearest`.
    """
    assert_dim_bounded(dims)
    w = float(band_width)
    dims3 = (
        dims.select(F.col(dim_key), F.col(dim_val))
        .withColumn("__o", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
        .withColumn(
            "__band", (F.floor(F.col(dim_val) / w) + F.col("__o")).cast("long")
        )
        .drop("__o")
    )
    f = facts.select(F.col(fact_key), F.col(fact_val)).withColumn(
        "__band", F.floor(F.col(fact_val) / w).cast("long")
    )
    d = F.abs(F.col(fact_val) - F.col(dim_val))
    banded_best = _argmin_two_phase(
        f, lambda df: df.join(F.broadcast(dims3), on="__band"),
        [fact_key], d, [dim_key],
    )
    resolved = banded_best.filter(F.col("__dist") <= w)
    # facts with no in-window winner: exact broadcast argmin (tail) —
    # also two-phase, so a large dim-sparse tail never sorts its
    # |tail| x |dims| cross product
    rest = f.join(resolved.select(fact_key), on=fact_key, how="left_anti")
    rest_best = _argmin_two_phase(
        rest,
        lambda df: df.join(
            F.broadcast(dims.select(F.col(dim_key), F.col(dim_val))), how="cross"
        ),
        [fact_key], d, [dim_key],
    )
    best = resolved.unionByName(rest_best)
    # LEFT join-back: a fact with no finite-distance candidate (NULL
    # fact_val, empty dims) keeps its row with NULL nearest columns —
    # matching `nearest` and the per-fact-row oracle shape — instead
    # of silently vanishing
    return facts.select(fact_key, fact_val).join(best, on=fact_key, how="left").select(
        fact_key,
        fact_val,
        F.col(f"__best.{dim_key}").alias("nearest_key"),
        F.col("__dist").alias("nearest_dist"),
    )


GRID_DEG = 0.5  # ~55 km cells; nearest-airport search radius


def nearest_gridded(
    points: DataFrame,
    dims: DataFrame,
    point_key: str | list[str],
    lat_col: str = "latitude",
    lon_col: str = "longitude",
    dim_lat: str = "latitude",
    dim_lon: str = "longitude",
    dim_cols: list[str] | None = None,
    cell_deg: float = GRID_DEG,
    join_back: bool = True,
) -> DataFrame:
    """Grid-bucketed nearest neighbor for planetary-scale point sets.

    ``join_back=False`` returns just the keyed winners
    (keys + nearest_dist + nearest_<dim_cols>), skipping the final
    points-side left join — for callers that re-attach their own
    passthrough columns anyway (with_nearest_airport re-joins the
    FULL telemetry frame, so the internal points join was a second
    corpus-sized SMJ whose output was immediately re-keyed).

    Each dim row is replicated into its cell and the 8 surrounding
    cells (build side — small); each point maps to exactly one cell.
    The join is then a plain equi-join on cell id, and argmin runs per
    point. At 100 TB of points this keeps the shuffle linear in the
    points and never materializes a cross product. Falls back to
    Manhattan-degree metric like the reference (FlightAnalysis.py:356).

    ``point_key`` may be one column or a composite key list (e.g. the
    telemetry tick key (flight, time)).
    """
    assert_dim_bounded(dims)  # 9x-replicated build side must stay dim-sized
    keys = [point_key] if isinstance(point_key, str) else list(point_key)
    dim_cols = dim_cols or [c for c in dims.columns]
    offsets = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dx in (-1, 0, 1) for dy in (-1, 0, 1)
    ])
    # prefix every dim column so the equi-join never collides with
    # point columns of the same name (latitude/longitude typically)
    dims_sel = dims.select(
        F.col(dim_lat).alias("__d_lat"),
        F.col(dim_lon).alias("__d_lon"),
        *[F.col(c).alias(f"__v_{c}") for c in dim_cols],
    )
    dims_cells = (
        dims_sel.withColumn("__o", F.explode(offsets))
        .withColumn(
            "__cell",
            F.concat_ws(
                ":",
                (F.floor(F.col("__d_lat") / cell_deg) + F.col("__o.dx")).cast("long"),
                (F.floor(F.col("__d_lon") / cell_deg) + F.col("__o.dy")).cast("long"),
            ),
        )
        .drop("__o")
    )
    pts = points.withColumn(
        "__cell",
        F.concat_ws(
            ":",
            F.floor(F.col(lat_col) / cell_deg).cast("long"),
            F.floor(F.col(lon_col) / cell_deg).cast("long"),
        ),
    )
    d = geo.manhattan_deg(lat_col, lon_col, "__d_lat", "__d_lon")
    best = _argmin_two_phase(
        pts.select(*keys, lat_col, lon_col, "__cell"),
        lambda df: df.join(F.broadcast(dims_cells), on="__cell", how="left"),
        keys, d, [f"__v_{c}" for c in dim_cols],
    )
    # materialize the winners ONCE: `best` feeds three consumers
    # (the resolved filter, the fallback anti-join probe, the final
    # union), and without a cut the cell-fan + argmin subtree
    # replicates per consumer — the static plan carried it 4x (20
    # BroadcastHashJoins) and ran the fan twice even under AQE
    # exchange reuse; measured 3.75 s -> ~2 s on the real-airports
    # flagship at sf0.1. Points-sized frame, the standard
    # consumed-thrice trade.
    best = pinned_checkpoint(best)
    # exactness guarantee (mirrors nearest_banded_1d): any dim within
    # cell_deg of a point is provably inside the 3x3 window, so a
    # windowed winner at distance <= cell_deg IS the global argmin;
    # a farther winner only bounds it — a just-outside-the-window dim
    # could be nearer. Those points (and empty-neighborhood points)
    # fall back to the exact broadcast argmin over the raw dims.
    resolved = best.filter(F.col("__dist") <= cell_deg)
    rest_keys = pts.select(*keys, lat_col, lon_col).join(
        resolved.select(*keys), on=keys, how="left_anti"
    )
    d_raw = geo.manhattan_deg(lat_col, lon_col, "__d_lat", "__d_lon")
    rest_best = _argmin_two_phase(
        rest_keys,
        lambda df: df.join(F.broadcast(dims_sel), how="cross"),
        keys, d_raw, [f"__v_{c}" for c in dim_cols],
    )
    all_best = resolved.unionByName(rest_best)
    named = all_best.select(
        *keys,
        F.col("__dist").alias("nearest_dist"),
        *[F.col(f"__best.__v_{c}").alias(f"nearest_{c}") for c in dim_cols],
    )
    if not join_back:
        return named
    return points.join(named, on=keys, how="left")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    ts_col: str,
    right_cols: list[str],
    strict: bool = True,
    tiebreak_cols: list[str] | None = None,
    direction: str = "backward",
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """As-of join: for each left row, the LATEST right row with
    ``right.ts <= left.ts`` (``<`` when strict) per ``on`` key —
    or, with ``direction="forward"``, the EARLIEST right row with
    ``right.ts >= left.ts`` (``>`` when strict): next-touch
    attribution, time-to-next-event, forward fill. A third mode,
    ``direction="nearest"``, picks whichever of the two candidates
    minimizes ``|right.ts - left.ts|`` (pandas merge_asof's third
    direction); an exact |Δt| TIE resolves BACKWARD, and ``strict``
    excludes exact-timestamp matches on both sides
    (allow_exact_matches=False).

    Implemented as union + running last_value over one ordered window
    — a single shuffle on the key, no range cross product; the same
    plan shape Spark uses for streaming stream-stream interval joins.
    The forward direction is the identical plan over the REVERSED
    time order, not a second algorithm. ``nearest`` computes BOTH
    running payloads over the same hash partitioning (one Exchange,
    reused across the two Window sorts) and selects per-row — still
    zero extra shuffles.

    ``tolerance_seconds`` bounds the match distance (pandas
    merge_asof semantics): a matched right row further than the
    tolerance from the left timestamp yields NULL asof_* columns.
    The window still finds the nearest candidate in one pass; the
    tolerance is a post-filter on the matched timestamp carried in
    the payload struct, so it adds zero shuffles.

    ``right`` must expose exactly [on, ts_col] + right_cols; matched
    right values land on the left rows as ``asof_<col>`` columns.
    ``right_cols`` must not collide with left columns (alias first).
    The matched payload travels as ONE nullable struct, so a right
    row whose payload VALUE is NULL still advances the as-of pointer
    (per-column last(ignorenulls) would skip it and resurrect an
    older value). ``tiebreak_cols`` (subset of right_cols) make the
    winner among duplicate (key, ts) right rows deterministic.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"direction must be backward, forward or nearest, got {direction!r}"
        )
    clash = set(right_cols) & set(left.columns)
    if clash:
        raise ValueError(
            f"right_cols collide with left columns: {sorted(clash)}; "
            "alias the right side before the as-of join"
        )
    tiebreak_cols = list(tiebreak_cols or [])
    if not set(tiebreak_cols) <= set(right_cols):
        raise ValueError("tiebreak_cols must be a subset of right_cols")
    lt = left.withColumn("__side", F.lit(1))
    for c in right_cols:
        lt = lt.withColumn(c, F.lit(None).cast(right.schema[c].dataType))
    rt = right.select(on, ts_col, *right_cols).withColumn("__side", F.lit(0))
    for c in left.columns:
        if c not in rt.columns:
            rt = rt.withColumn(c, F.lit(None).cast(left.schema[c].dataType))
    unioned = lt.unionByName(rt.select(*lt.columns))
    payload = F.when(
        F.col("__side") == 0,
        F.struct(
            *[F.col(c) for c in right_cols],
            # epoch_seconds, not a bare cast-to-double: a TIMESTAMP_NTZ
            # ts (supported by normalize_event_time upstream) has no
            # direct double cast — the timeutil choke point handles
            # every supported physical type (functions/timeutil.py)
            epoch_seconds(ts_col).alias("__rts"),
        ),
    )

    def _running(dir_: str):
        # At equal ts: strict sorts left(1) before right(0) so the
        # preceding-frame excludes the tying right row; non-strict
        # sorts right first so it is visible to the left row's frame.
        # The same rule holds in both directions (the frame always
        # looks backward in the chosen order).
        side_order = F.col("__side").desc() if strict else F.col("__side").asc()
        ts_order = (
            F.col(ts_col).asc() if dir_ == "backward" else F.col(ts_col).desc()
        )
        w = (
            Window.partitionBy(on)
            .orderBy(
                ts_order,
                side_order,
                *[F.col(c).asc() for c in tiebreak_cols],
            )
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        return F.last(payload, ignorenulls=True).over(w)

    if direction != "nearest":
        out = (
            unioned.withColumn("__p", _running(direction))
            .filter(F.col("__side") == 1)
        )
        if tolerance_seconds is None:
            within = F.lit(True)
        else:
            # the window guarantees the sign; only the magnitude needs
            # checking (epoch_seconds = DuckDB epoch(ts), type-agnostic)
            diff = epoch_seconds(ts_col) - F.col("__p.__rts")
            if direction == "forward":
                diff = -diff
            within = diff <= F.lit(float(tolerance_seconds))
        for c in right_cols:
            out = out.withColumn(f"asof_{c}", F.when(within, F.col(f"__p.{c}")))
        return out.drop("__side", "__p", *right_cols)

    # nearest: both running payloads share the partitionBy(on) hash —
    # Catalyst plans ONE Exchange reused by the two Window sorts —
    # then a per-row pick: the tolerance-valid candidate with the
    # smaller |Δt|, ties to the backward (earlier) row.
    out = (
        unioned.withColumn("__pb", _running("backward"))
        .withColumn("__pf", _running("forward"))
        .filter(F.col("__side") == 1)
    )
    lsec = epoch_seconds(ts_col)
    bdiff = lsec - F.col("__pb.__rts")
    fdiff = F.col("__pf.__rts") - lsec
    if tolerance_seconds is None:
        b_ok = F.col("__pb").isNotNull()
        f_ok = F.col("__pf").isNotNull()
    else:
        tol = F.lit(float(tolerance_seconds))
        b_ok = F.col("__pb").isNotNull() & (bdiff <= tol)
        f_ok = F.col("__pf").isNotNull() & (fdiff <= tol)
    chosen = F.when(b_ok & (~f_ok | (bdiff <= fdiff)), F.col("__pb")).when(
        f_ok, F.col("__pf")
    )
    out = out.withColumn("__p", chosen)
    for c in right_cols:
        out = out.withColumn(f"asof_{c}", F.col(f"__p.{c}"))
    return out.drop("__side", "__pb", "__pf", "__p", *right_cols)
