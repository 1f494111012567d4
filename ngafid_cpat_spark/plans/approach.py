"""Flight approach/landing analysis — the reference's core pipeline,
re-expressed as one windowed DataFrame plan.

Reference: FlightAnalysis.py's per-flight state machine
(FlightAnalysis.py:134-330) run from main.py's per-flight loop. Here
the whole fleet is analyzed in one distributed plan: no per-flight
Python loop, no driver-side state — a shuffle on flight_id, ordered
windows within, broadcast dimension joins for airports/runways.

Pipeline stages (SURVEY.md §2.5 W1-W9):
  1. NULL-row filter                        (P1, main.py:92-96)
  2. nearest-airport per tick               (J2, FlightAnalysis.py:347-367)
  3. initial-takeoff detection              (W1, FlightAnalysis.py:113-128)
  4. approach-episode islands               (W2, FlightAnalysis.py:142-170)
  5. final-band predicate evaluation        (P5/P6, FlightAnalysis.py:187-244)
  6. runway detection per episode           (J3, FlightAnalysis.py:369-391)
  7. per-episode aggregation                (A1-A6, FlightAnalysis.py:400-423)
  8. landing window + classification        (W5/W6, FlightAnalysis.py:272-330)

Thresholds are the reference constants (FlightAnalysis.py:4-18),
overridable per call (the reference's exceedance_thresholds table,
J7, maps to passing a Thresholds per aircraft type and unioning).

Scale notes: the nearest-airport argmin is a broadcast cross join +
map-side partial argmin — shuffle size is one row per telemetry tick,
never |ticks| x |airports|; at planetary airport counts switch to
operators.joins.nearest_gridded (grid-cell equi-join). All window
stages share the (flight_id, time) shuffle; Catalyst reuses the
exchange.

The reference's analyze() clear-before-return bug (results dict
cleared at FlightAnalysis.py:60 before the return at :64, so callers
always receive {}) is intentionally NOT replicated — this returns the
results DataFrame.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import geo
from ..operators import windows as OW
from ..operators.skew import pinned_checkpoint
from ..session import shuffle_width

TELEMETRY_COLS = (
    "flight",
    "time",
    "msl_altitude",
    "indicated_airspeed",
    "vertical_airspeed",
    "heading",
    "latitude",
    "longitude",
)


def _avg_milli(cond, col) -> F.Column:
    """Deterministic conditional mean: per-row half-up to 1/1000 of a
    unit, exact BIGINT sum, then one double division — byte-stable
    across partition counts, shuffle orders and engines (float
    summation order can never flip a bit), the same integer-first
    pattern as relational.cents_sum. Quantization error <= 5e-4 of a
    unit (ft/kt/fpm/deg) — far below sensor noise; the reference's
    float ``sum(xs)/len(xs)`` (FlightAnalysis.py:413-420) is
    order-dependent instead."""
    x = F.when(cond, col)
    s = F.sum(F.round(x * 1000, 0).cast("long"))
    n = F.count(x)
    return F.when(n > 0, s / n / 1000.0)


@dataclass(frozen=True)
class Thresholds:
    """Reference constants, FlightAnalysis.py:4-18."""

    approach_min_distance_mi: float = 1.0     # :4  (entry: dist < 1 mi)
    approach_min_agl: float = 500.0           # :14 (entry: AGL < 500)
    final_max_agl: float = 150.0              # :15 (final band top)
    final_min_agl: float = 50.0               # :15 (final band bottom)
    max_heading_error: float = 10.0           # :7  (F1)
    max_crosstrack_ft: float = 50.0           # :8  (F2)
    min_ias: float = 55.0                     # :9  (A lower)
    max_ias: float = 75.0                     # :10 (A upper)
    min_vsi: float = -1000.0                  # :11 (S)
    full_stop_ias: float = 35.0               # :16 (stop-and-go)
    touch_go_agl: float = 5.0                 # :17 (touch-and-go)
    runway_heading_band: float = 20.0         # :18 (J3)


# Below this many airport rows, with_nearest_airport folds the whole
# argmin into one codegen'd least() over per-airport structs instead
# of the shuffled two-phase join — the same bounded-config-collect
# judgment as analyze_fleet's threshold table. 64 keeps the folded
# expression tree well inside Janino limits.
FOLD_MAX_AIRPORTS = 64

# At or above this many airports, with_nearest_airport switches from
# the broadcast cross-fan argmin (per-tick work linear in |airports|)
# to the gridded cell equi-join (per-tick work = local cell
# population). Crossover measured at sf0.1 telemetry x the real
# 15,165-airport Airports.csv — see SCALE.md "nearest-airport @ real
# dim"; below this the 3x3 replication + fallback plumbing costs more
# than the fan it saves.
GRID_MIN_AIRPORTS = 2048


def _nearest_airport_fold(flight_df: DataFrame, rows) -> DataFrame:
    """Small-dim fast path: per tick, least() over one
    struct(dist, code, lat, lon, elev) per airport — struct ordering
    gives the argmin with the SAME deterministic tie-break as the
    two-phase path (dist, then airport_code, ...). Pure whole-stage
    codegen: zero shuffles, zero joins, zero extra AQE stage jobs
    (the two-phase form spends ~6 jobs on broadcasts + double fan +
    join-back, pure fixed latency at demo scale)."""
    cands = []
    for r in rows:
        if (
            r["airport_code"] is None
            or r["latitude"] is None
            or r["longitude"] is None
        ):
            continue  # NULL-coordinate dims can never win (two-phase: NULL dist)
        d = F.abs(F.col("latitude") - F.lit(r["latitude"])) + F.abs(
            F.col("longitude") - F.lit(r["longitude"])
        )
        cands.append(
            F.struct(
                d.alias("d"),
                F.lit(r["airport_code"]).alias("airport_code"),
                F.lit(r["latitude"]).alias("ap_lat"),
                F.lit(r["longitude"]).alias("ap_lon"),
                F.lit(r["elevation_ft"]).alias("ap_elev"),
            )
        )
    if not cands:
        # no usable airport: same as the two-phase left join missing
        null_d = F.lit(None).cast("double")
        return flight_df.select(
            *flight_df.columns,
            F.lit(None).cast("string").alias("airport_code"),
            null_d.alias("airport_lat"),
            null_d.alias("airport_lon"),
            null_d.alias("airport_elev"),
        )
    best = cands[0] if len(cands) == 1 else F.least(*cands)
    # a NULL/NaN distance (NULL/NaN fact coords — every candidate's d
    # is then NULL/NaN together, since dim coords are non-null) must
    # yield NULL airport columns, matching the two-phase guard
    best = F.when(
        best.getField("d").isNotNull() & ~F.isnan(best.getField("d")), best
    )
    return flight_df.select(
        *flight_df.columns,
        best.getField("airport_code").alias("airport_code"),
        best.getField("ap_lat").alias("airport_lat"),
        best.getField("ap_lon").alias("airport_lon"),
        best.getField("ap_elev").alias("airport_elev"),
    )


def with_nearest_airport(
    flight_df: DataFrame,
    airports: DataFrame,
    fold_max_dims: int = FOLD_MAX_AIRPORTS,
    fan_partitions: int | None = None,
    grid_min_dims: int = GRID_MIN_AIRPORTS,
) -> DataFrame:
    """Per-tick nearest airport by Manhattan |dlat|+|dlon| degrees
    (FlightAnalysis.py:356-366).

    THREE result-identical physical strategies, dispatched on the
    usable dim count (equivalence-tested on the reference's real
    15,165-airport dim, tests/test_airports_scale.py):

    * dim <= ``fold_max_dims`` rows: collect the (config-sized) dim
      and fold the argmin into one least()-over-structs expression —
      _nearest_airport_fold, no shuffle at all.
    * ``fold_max_dims`` < dim < ``grid_min_dims``: broadcast cross
      join + two-phase hash-aggregable argmin
      (operators/joins._argmin_two_phase — the single-pass
      min(struct) form plans a SortAggregate whose sort runs over
      the |ticks| x |airports| fan-out, superlinear spill; see
      SCALE.md), deterministic tie-break on airport_code. The
      telemetry passthrough columns LEFT-rejoin on (flight, time):
      a tick with no finite-distance airport (empty/NULL-coordinate
      dim) keeps its row with NULL airport columns rather than
      silently disappearing.
    * dim >= ``grid_min_dims`` (the reference's actual
      15,165-airport Airports.csv and beyond): two-phase GRIDDED
      argmin (operators/joins.nearest_gridded) — dims replicate into
      3x3 half-degree cells, ticks equi-join their own cell, and
      only the sparse >cell_deg tail pays the full broadcast argmin.
      Per-tick candidate count drops from |airports| to the local
      cell population (~10^1), and the exactness fallback keeps the
      result the global argmin. Measured at sf0.1 telemetry x the
      real dim: see SCALE.md "nearest-airport @ real dim".

    PRECONDITION (join path): (flight, time) uniquely identifies a
    telemetry row (the reference's ordered scan implies the same,
    main.py:36); duplicate ticks would break the join-back —
    deduplicate upstream if a feed can double-report.

    ``fan_partitions`` (join path): width of the fan/argmin stages.
    At the reference's 15,165-airport cardinality the phase-1
    aggregation map must stay cache-resident or every fan row pays a
    DRAM-latency lookup — the measured 2.6x cliff in SCALE.md's third
    harness catch (operators/joins.TARGET_KEYS_PER_FAN_TASK). Size it
    to ~ticks / 32k; left None, the argmin runs at the incoming
    partitioning (analyze()'s pipeline-wide flight repartition)."""
    from ..operators.joins import _argmin_two_phase

    # Candidate contract (BOTH strategies): a dim row is a usable
    # airport only with a non-NULL code AND non-NULL coordinates.
    # NULL-coordinate rows can never produce a finite distance;
    # NULL-code rows are excluded by contract — letting one win would
    # emit airport_code=NULL with real coordinates (indistinguishable
    # from "no airport") and break the deterministic code tie-break.
    # Filtering once here keeps the fold and two-phase paths
    # result-identical on dims containing such rows.
    usable = airports.where(
        F.col("airport_code").isNotNull()
        & F.col("latitude").isNotNull()
        & F.col("longitude").isNotNull()
    )

    # ONE fused dispatch probe (r14): a single bounded collect serves
    # both the fold probe (need the rows when <= fold_max_dims) and
    # the gridded-path cardinality check (>= grid_min_dims) — the
    # separate limit(grid_min).count() was a second driver-blocking
    # job over the same dim scan per pipeline build. Cap is
    # max(fold_max+1, grid_min) rows x 4 columns (~100 KB at the
    # 2048 default), bounded at any dim size.
    probe: list = []
    probe_cap = max(
        fold_max_dims + 1 if fold_max_dims > 0 else 0,
        grid_min_dims if grid_min_dims > 0 else 0,
    )
    if probe_cap > 0:
        probe = usable.select(
            "airport_code", "latitude", "longitude", "elevation_ft"
        ).limit(probe_cap).collect()
    if fold_max_dims > 0 and len(probe) <= fold_max_dims:
        return _nearest_airport_fold(flight_df, probe)

    # at real national-registry cardinality the gridded equi-join
    # replaces the |ticks| x |airports| fan
    if grid_min_dims > 0 and len(probe) >= grid_min_dims:
        from ..operators.joins import nearest_gridded

        pts = flight_df.select("flight", "time", "latitude", "longitude")
        if fan_partitions is not None:
            pts = pts.repartition(fan_partitions, "flight")
        dim_cols = ["airport_code", "latitude", "longitude", "elevation_ft"]
        # join_back=False: the keyed winners only — the telemetry
        # passthrough join below is the ONE corpus-sized join-back
        # (the internal points join would be a second one)
        g = nearest_gridded(
            pts,
            usable.select(*dim_cols),
            ["flight", "time"],
            dim_cols=dim_cols,
            join_back=False,
        )
        best = g.select(
            "flight",
            "time",
            F.col("nearest_airport_code").alias("airport_code"),
            F.col("nearest_latitude").alias("airport_lat"),
            F.col("nearest_longitude").alias("airport_lon"),
            F.col("nearest_elevation_ft").alias("airport_elev"),
        )
        return flight_df.join(best, on=["flight", "time"], how="left").select(
            *flight_df.columns,
            "airport_code",
            "airport_lat",
            "airport_lon",
            "airport_elev",
        )

    d = geo.manhattan_deg("latitude", "longitude", "ap_lat", "ap_lon")
    ap = F.broadcast(
        usable.select(
            F.col("airport_code"),
            F.col("latitude").alias("ap_lat"),
            F.col("longitude").alias("ap_lon"),
            F.col("elevation_ft").alias("ap_elev"),
        )
    )
    argmin_in = flight_df.select("flight", "time", "latitude", "longitude")
    if fan_partitions is not None:
        # repartition on flight (not the full key): windows and joins
        # downstream still reuse flight clustering, while the fan's
        # per-task key count shrinks to cache size
        argmin_in = argmin_in.repartition(fan_partitions, "flight")
    best = _argmin_two_phase(
        argmin_in,
        lambda df: df.join(ap, how="cross"),
        ["flight", "time"],
        d,
        ["airport_code", "ap_lat", "ap_lon", "ap_elev"],
    )
    return flight_df.join(best, on=["flight", "time"], how="left").select(
        *flight_df.columns,
        F.col("__best.airport_code").alias("airport_code"),
        F.col("__best.ap_lat").alias("airport_lat"),
        F.col("__best.ap_lon").alias("airport_lon"),
        F.col("__best.ap_elev").alias("airport_elev"),
    )


class _ColumnThresholds:
    """Thresholds whose values are per-row COLUMNS (th_<field>),
    joined from a per-type config instead of constant-folded into
    the plan — every predicate in analyze() reads them identically
    because Column expressions compose the same as literals."""

    def __getattr__(self, name: str):
        if name in Thresholds.__dataclass_fields__:
            return F.col(f"th_{name}")
        raise AttributeError(name)


_TH_FIELDS = list(Thresholds.__dataclass_fields__)


def analyze(
    flight_df: DataFrame,
    airports: DataFrame,
    runways: DataFrame,
    th: Thresholds = Thresholds(),
    persist: bool | str = "checkpoint",
    th_cols: DataFrame | None = None,
) -> DataFrame:
    """Full fleet analysis -> one row per (flight_id, approach_id),
    schema matching the reference's approaches table (FIXTURES.md §7;
    insert list FlightAnalysis.py:22-26).

    ``persist`` controls how the three internal fan-out frames
    (post-takeoff ticks, episode frame, per-episode aggregate) are
    shared between their consumers. ReusedExchange only dedupes up
    to the last SHUFFLE boundary — the windows/islands after it are
    narrow compute that re-executes per consumer branch without a
    materialization point. Measured at sf0.1 (full noop
    materialization, interleaved runs): "checkpoint" (lazy
    localCheckpoint, the default — materialized once to executor
    storage, GC-reclaimed with the frame, no session cache leak)
    4.4 s; True (.persist(), stays cached until clearCache()) 4.7 s;
    False (recompute per branch) 4.8 s. Pass False inside loops that
    build many plans (analyze_fleet per-type) to avoid materializing
    per-slice frames that are each read once.

    ``th_cols``: a (flight, th_<field>...) frame. When given, ``th``
    is ignored and every threshold is read as a per-row COLUMN — one
    plan regardless of how many aircraft types carry distinct
    thresholds (J7 at fleet scale; analyze_fleet's joined strategy).
    Flights absent from ``th_cols`` are excluded, matching the
    per-type path's semantics (a flight with no aircraft row belongs
    to no type slice)."""
    wf = Window.partitionBy("flight").orderBy("time")
    wflight = Window.partitionBy("flight")

    if th_cols is not None:
        th = _ColumnThresholds()
        # inner join: the thresholds frame defines fleet membership
        flight_df = flight_df.join(th_cols, "flight")

    # 1. NULL-row filter (main.py:92-96)
    df = flight_df.na.drop(subset=list(TELEMETRY_COLS))
    # one explicit shuffle on flight up front: HashPartitioning(flight)
    # satisfies every downstream clustering requirement — groupBys and
    # joins on (flight, time) / (flight, approach_id) and the
    # per-flight windows — via the partitioning-subset rule, so the
    # whole pipeline runs on ONE data placement instead of
    # re-exchanging per stage (also removes hot-path exchange jitter;
    # measured slightly faster and much steadier at sf0.1)
    df = df.repartition(shuffle_width(flight_df.sparkSession), "flight")

    # 2. nearest airport + AGL + distance (FlightAnalysis.py:143-147)
    df = with_nearest_airport(df, airports)
    df = df.withColumn("agl", geo.agl("msl_altitude", "airport_elev")).withColumn(
        "dist_mi",
        geo.distance(
            "latitude", "longitude", "airport_lat", "airport_lon", geo.EARTH_RADIUS_MI
        ),
    )

    # 3. initial takeoff: first tick's airport elevation; analysis
    #    starts at the first time AGL >= approach_min_agl vs THAT
    #    airport (FlightAnalysis.py:113-128)
    first_elev = F.first("airport_elev").over(wf)
    takeoff_time = F.min(
        F.when(
            (F.col("msl_altitude") - first_elev) >= th.approach_min_agl, F.col("time")
        )
    ).over(wflight)
    df = (
        df.withColumn("takeoff_time", takeoff_time)
        .filter(F.col("time") >= F.col("takeoff_time"))
    )
    if persist == "checkpoint":
        df = pinned_checkpoint(df)
    elif persist:
        # the enriched post-takeoff frame feeds two branches (episode
        # islands and the landing low-island pass); persisting it cuts
        # the nearest-airport argmin + takeoff window from being
        # recomputed per branch (~2x fewer exchanges end-to-end)
        df = df.persist()

    # 4. approach-episode islands: dist < 1 mi AND AGL < 500
    #    (FlightAnalysis.py:150)
    in_approach = (F.col("dist_mi") < th.approach_min_distance_mi) & (
        F.col("agl") < th.approach_min_agl
    )
    df = df.withColumn("in_approach", in_approach)
    eps = OW.islands(
        df, "flight", ["time"], flag=F.col("in_approach"),
        island_col="approach_id", in_island_only=True,
    )

    # 5. final approach band [50, 150] AGL (FlightAnalysis.py:187-244)
    eps = eps.withColumn(
        "in_final",
        F.col("agl").between(th.final_min_agl, th.final_max_agl),
    )
    if persist == "checkpoint":
        eps = pinned_checkpoint(eps)
    elif persist:
        # eps fans out to three consumers (episode-entry airport,
        # first-final-tick runway probe, and the per-tick predicate
        # frame) — without a persist each one re-runs the island
        # windows over the telemetry
        eps = eps.persist()

    # 6. runway detection at the first final-band tick: the episode
    #    airport's runways within the 20-degree heading band, argmin
    #    Manhattan distance (FlightAnalysis.py:369-391)
    # the episode's airport is the one detected at episode ENTRY
    # (FlightAnalysis.py:252) — runways are searched at that airport
    # even if a later final-band tick drifts nearer another field.
    # Entry airport and first-final-tick probe aggregate the SAME
    # frame on the SAME keys, so they fuse into one groupBy — one
    # shuffle and no entry↔final join (a conditional min(struct) is
    # NULL for episodes that never reach the final band; the filter
    # below reproduces first_final's inner-join row set exactly)
    first_final = (
        eps.groupBy("flight", "approach_id")
        .agg(
            F.min(
                F.struct(F.col("time"), F.col("airport_code"))
            ).alias("e0"),
            F.min(
                F.when(
                    F.col("in_final"),
                    F.struct(
                        F.col("time").alias("t"),
                        F.col("heading").alias("hdg"),
                        F.col("latitude").alias("lat"),
                        F.col("longitude").alias("lon"),
                    ),
                )
            ).alias("ff"),
        )
        .filter(F.col("ff").isNotNull())
        .select(
            "flight",
            "approach_id",
            F.col("ff.hdg").alias("ff_heading"),
            F.col("ff.lat").alias("ff_lat"),
            F.col("ff.lon").alias("ff_lon"),
            F.col("e0.airport_code").alias("ff_airport"),
        )
    )
    if th_cols is not None:
        # the episode-level frame lost the tick-level th columns in
        # its groupBy; re-attach just the one the runway filter reads
        # (per-episode rows — dimension-sized relative to ticks)
        first_final = first_final.join(
            th_cols.select("flight", "th_runway_heading_band"),
            "flight",
        )
    rw = runways.select(
        F.col("airport_code").alias("ff_airport"),
        F.col("runway_code"),
        F.col("magnetic_rwy_hdg"),
        F.col("true_rwy_hdg"),
        F.col("center_lat"),
        F.col("center_long"),
    )
    rw_match = (
        first_final.join(F.broadcast(rw), "ff_airport", "left")
        .filter(
            F.col("runway_code").isNull()
            | (
                geo.heading_difference("magnetic_rwy_hdg", "ff_heading")
                <= th.runway_heading_band
            )
        )
        .groupBy("flight", "approach_id")
        .agg(
            F.min(
                F.struct(
                    geo.manhattan_deg("ff_lat", "ff_lon", "center_lat", "center_long").alias("d"),
                    F.col("runway_code").alias("code"),
                    F.col("true_rwy_hdg").alias("true_hdg"),
                    F.col("magnetic_rwy_hdg").alias("mag_hdg"),
                    F.col("center_lat").alias("clat"),
                    F.col("center_long").alias("clon"),
                )
            ).alias("rw")
        )
        .select(
            "flight",
            "approach_id",
            F.col("rw.code").alias("runway_id"),
            F.col("rw.true_hdg").alias("rw_true_hdg"),
            F.col("rw.mag_hdg").alias("rw_mag_hdg"),
            F.col("rw.clat").alias("rw_lat"),
            F.col("rw.clon").alias("rw_lon"),
        )
    )
    eps = eps.join(rw_match, ["flight", "approach_id"], "left")

    # 7. stability predicates per final-band tick (FlightAnalysis.py:
    #    192-206); F1/F2 forced true when runway unknown (:197-199, P6)
    heading_err = geo.heading_difference("heading", "rw_mag_hdg")
    crosstrack = geo.cross_track_distance(
        "latitude", "longitude", "rw_lat", "rw_lon", "rw_true_hdg", geo.EARTH_RADIUS_FT
    )
    has_rw = F.col("runway_id").isNotNull()
    eps = (
        eps.withColumn("heading_err", F.when(has_rw, heading_err))
        .withColumn("xtrack_ft", F.when(has_rw, crosstrack))
        .withColumn("cond_f1", F.when(~has_rw, F.lit(True)).otherwise(F.col("heading_err") <= th.max_heading_error))
        .withColumn("cond_f2", F.when(~has_rw, F.lit(True)).otherwise(F.abs(F.col("xtrack_ft")) <= th.max_crosstrack_ft))
        .withColumn("cond_a", F.col("indicated_airspeed").between(th.min_ias, th.max_ias))
        .withColumn("cond_s", F.col("vertical_airspeed") >= th.min_vsi)
        .withColumn(
            "is_unstable",
            F.col("in_final")
            & ~(F.col("cond_f1") & F.col("cond_f2") & F.col("cond_a") & F.col("cond_s")),
        )
    )

    # 8. per-episode rollup (A1-A6, FlightAnalysis.py:400-423):
    #    all_* means over final-band ticks, <cond>_* means over the
    #    ticks where that condition failed; empty group -> NULL (A1)
    fin = F.col("in_final")
    ep_agg = eps.groupBy("flight", "approach_id").agg(
        # airport at episode entry = first tick's nearest airport
        # (FlightAnalysis.py:252)
        F.min(F.struct(F.col("time"), F.col("airport_code"))).alias("__ap0"),
        F.min("runway_id").alias("runway_id"),
        (F.min(F.when(fin, F.col("time"))) - 1).alias("approach_start"),
        F.max(F.when(fin, F.col("time"))).alias("approach_end"),
        F.max(F.when(fin & F.col("is_unstable"), 1).otherwise(0)).alias("unstable"),
        _avg_milli(fin, F.col("heading_err")).alias("all_heading"),
        _avg_milli(fin & ~F.col("cond_f1"), F.col("heading_err")).alias("f1_heading"),
        _avg_milli(fin, F.col("xtrack_ft")).alias("all_crosstrack"),
        _avg_milli(fin & ~F.col("cond_f2"), F.col("xtrack_ft")).alias("f2_crosstrack"),
        _avg_milli(fin, F.col("indicated_airspeed")).alias("all_ias"),
        _avg_milli(fin & ~F.col("cond_a"), F.col("indicated_airspeed")).alias("a_ias"),
        _avg_milli(fin, F.col("vertical_airspeed")).alias("all_vsi"),
        _avg_milli(fin & ~F.col("cond_s"), F.col("vertical_airspeed")).alias("s_vsi"),
    ).withColumn("airport_id", F.col("__ap0.airport_code")).drop("__ap0")
    if persist == "checkpoint":
        ep_agg = pinned_checkpoint(ep_agg)
    elif persist:
        # ep_agg is read twice (episode bounds for the landing window,
        # and the final join) — one row per episode, so caching is
        # cheap and saves a full re-aggregation of the tick frame
        ep_agg = ep_agg.persist()

    # 9. landing window: the run of AGL<500 ticks after approach_end,
    #    ending at climb-out (AGL >= 500), next approach, or data end
    #    (FlightAnalysis.py:272-330). Classification first-match-wins:
    #    stop-and-go (min IAS <= 35) -> touch-and-go (rolling-5 AGL
    #    mean <= 5, warm-up guarded) -> go-around (:288-294, 316-324).
    low = OW.islands(
        df, "flight", ["time"], flag=F.col("agl") < th.approach_min_agl,
        island_col="low_id", in_island_only=True,
    )
    # rolling frame stays inside one low island (a frame spanning the
    # gap between two sub-500 AGL periods would mix unrelated samples)
    low = OW.rolling(
        low, ["flight", "low_id"], ["time"], F.col("agl"),
        agg="avg", window_rows=5, out_col="agl_roll5", require_full=True,
    )
    # quantize the rolling mean to 1e-6 ft before the touch-and-go
    # threshold compare: frame summation order (incremental here,
    # segment-tree in other engines) perturbs the last bits, and a
    # decimal-exact mean sitting at exactly touch_go_agl must classify
    # identically everywhere
    low = low.withColumn("agl_roll5", F.round("agl_roll5", 6)).select(
        "flight", "time", "low_id", "agl", "agl_roll5", "indicated_airspeed"
    )

    ep_bounds = ep_agg.select(
        F.col("flight").alias("ep_flight"),
        "approach_id",
        "approach_end",
        F.lead("approach_start").over(
            Window.partitionBy("flight").orderBy("approach_id")
        ).alias("next_approach_start"),
    )
    # episode -> its low island (the island containing approach_end)
    ep_island = (
        low.join(
            ep_bounds,
            (low["flight"] == ep_bounds["ep_flight"])
            & (low["time"] == ep_bounds["approach_end"]),
        )
        .select(
            F.col("ep_flight").alias("flight"), "approach_id", "low_id",
            "approach_end", "next_approach_start",
        )
    )
    landing_rows = (
        low.join(ep_island, ["flight", "low_id"])
        .filter(
            (F.col("time") > F.col("approach_end"))
            & (
                F.col("next_approach_start").isNull()
                | (F.col("time") < F.col("next_approach_start"))
            )
        )
    )
    landing = landing_rows.groupBy("flight", "approach_id").agg(
        F.min("time").alias("landing_start"),
        F.max("time").alias("landing_end"),
        F.min("indicated_airspeed").alias("landing_min_ias"),
        F.min("agl_roll5").alias("landing_min_roll5"),
    )

    out = ep_agg.join(landing, ["flight", "approach_id"], "left")
    if th_cols is not None:
        out = out.join(
            th_cols.select(
                "flight", "th_full_stop_ias", "th_touch_go_agl"
            ),
            "flight",
        )
    out = out.withColumn(
        "landing_type",
        F.when(F.col("landing_min_ias") <= th.full_stop_ias, "stop-and-go")
        .when(F.col("landing_min_roll5") <= th.touch_go_agl, "touch-and-go")
        .otherwise("go-around"),
    )
    return out.select(
        F.col("flight").alias("flight_id"),
        F.col("approach_id").cast("int"),
        "airport_id",
        "runway_id",
        "approach_start",
        "approach_end",
        "landing_start",
        "landing_end",
        "landing_type",
        F.col("unstable").cast("int"),
        "all_heading",
        "f1_heading",
        "all_crosstrack",
        "f2_crosstrack",
        "all_ias",
        "a_ias",
        "all_vsi",
        "s_vsi",
    )


# Above this many distinct aircraft types, analyze_fleet(strategy=
# "auto") switches from per-type constant-folded sub-plans to the
# single column-parameterized plan: the per-type union replays the
# telemetry scan once per type and its plan size grows linearly with
# type cardinality, while the joined plan is O(1) in both.
SMALL_FLEET_TYPES = 8


def thresholds_per_flight(
    aircraft: DataFrame, thresholds_df: DataFrame | None = None
) -> DataFrame:
    """(flight, th_<field>...) — per-flight threshold columns from
    the per-type config, defaults filled from the reference
    constants (FlightAnalysis.py:4-18). The config join is broadcast
    (config-table-sized); the output is dimension-sized (one row per
    aircraft), never collected."""
    d = Thresholds()
    ac = aircraft.select(F.col("id").alias("flight"), "aircraft_type")
    if thresholds_df is None:
        return ac.select(
            "flight",
            *[F.lit(getattr(d, f)).alias(f"th_{f}") for f in _TH_FIELDS],
        )
    cfg = thresholds_df.select(
        F.col("aircraft_id").alias("aircraft_type"),
        *[
            (F.col(f) if f in thresholds_df.columns else F.lit(None)).alias(
                f"cfg_{f}"
            )
            for f in _TH_FIELDS
        ],
    )
    # eqNullSafe join condition: a NULL aircraft_type is a real group
    # and may carry its own config row, matching the per-type path
    return (
        ac.join(
            F.broadcast(cfg),
            ac["aircraft_type"].eqNullSafe(cfg["aircraft_type"]),
            "left",
        )
        .select(
            "flight",
            *[
                F.coalesce(F.col(f"cfg_{f}"), F.lit(getattr(d, f))).alias(
                    f"th_{f}"
                )
                for f in _TH_FIELDS
            ],
        )
    )


def analyze_fleet(
    flight_df: DataFrame,
    airports: DataFrame,
    runways: DataFrame,
    aircraft: DataFrame,
    thresholds_df: DataFrame | None = None,
    strategy: str = "auto",
) -> DataFrame:
    """Per-aircraft-type thresholds (J7): the reference fetches an
    exceedance_thresholds row per aircraft (FlightAnalysis.py:20,
    67-83 — dead code there, live here). ``aircraft`` maps flight id
    -> aircraft_type (reference main.py:28); ``thresholds_df`` has
    one row per aircraft_type with Thresholds field names as columns
    (missing columns fall back to the reference constants).

    Two result-identical strategies (tests/test_approach equivalence):

    * ``"per_type"`` — one plan per aircraft TYPE (thresholds
      CONSTANT-FOLDED into the predicates — Catalyst folds the
      literals and codegen sees constants), unioned. Only
      type-cardinality-sized state ever reaches the driver: the
      distinct type list and the thresholds config rows. The
      flight->type membership never leaves the cluster — each slice
      is a broadcast LEFT SEMI join of the telemetry against that
      type's aircraft ids, so the plan size is independent of FLEET
      size, but linear in TYPE count, and the telemetry is scanned
      once per type. The small-fleet fast path.
    * ``"joined"`` — ONE plan: thresholds_per_flight joins the
      thresholds as per-row columns (broadcast on aircraft_type) and
      analyze() reads column thresholds instead of folded literals.
      Plan size and scan count are O(1) in type cardinality — the
      fleet-scale path (a hundred types would otherwise mean a
      hundred-branch union and a hundred passes over the telemetry).
    * ``"auto"`` — joined when the fleet has more than
      SMALL_FLEET_TYPES distinct types, else per_type."""
    if strategy == "auto":
        n_types = aircraft.select("aircraft_type").distinct().count()
        strategy = "per_type" if n_types <= SMALL_FLEET_TYPES else "joined"
    if strategy == "joined":
        return analyze(
            flight_df,
            airports,
            runways,
            th_cols=thresholds_per_flight(aircraft, thresholds_df),
            persist=False,
        )
    if strategy != "per_type":
        raise ValueError(f"unknown strategy: {strategy!r}")

    th_by_type: dict = {}
    if thresholds_df is not None:
        valid = {f.name for f in Thresholds.__dataclass_fields__.values()}
        for r in thresholds_df.collect():  # config-table-sized
            d = {k: v for k, v in r.asDict().items() if k in valid and v is not None}
            th_by_type[r["aircraft_id"]] = Thresholds(**d)

    types = sorted(
        (r["aircraft_type"] for r in aircraft.select("aircraft_type").distinct().collect()),
        key=str,
    )
    out = None
    for t in types:
        ids = (
            # eqNullSafe: a NULL aircraft_type is a real group (it
            # analyzes under the default thresholds) — a bare == would
            # silently drop those flights from the fleet output
            aircraft.filter(F.col("aircraft_type").eqNullSafe(F.lit(t)))
            .select(F.col("id").alias("flight"))
        )
        part = analyze(
            flight_df.join(F.broadcast(ids), "flight", "left_semi"),
            airports,
            runways,
            th=th_by_type.get(t, Thresholds()),
            # per-type slices must not each leave a cached frame
            # behind for the session lifetime (one leak per type)
            persist=False,
        )
        out = part if out is None else out.unionByName(part)
    if out is None:
        return analyze(flight_df.limit(0), airports, runways)
    return out


def pending_flights(flight_analyses: DataFrame) -> DataFrame:
    """Work-queue scan (S1/J6, main.py:27): flights not yet analyzed."""
    return flight_analyses.filter(F.col("approach_analysis") == 0).select("flight_id")
