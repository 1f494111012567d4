"""Seeded input generators for the benchmark.

Every generator is a pure function of its seed and sizes: the same
arguments give byte-identical files. Outputs are cached under the
work directory, keyed by (seed, sizes, GEN_VERSION), so a rerun with
the same seed skips generation.

``QueueFeed`` writes a national airports CSV and a runways CSV in the
CLI's CSV schemas (``__main__.AIRPORTS_CSV_SCHEMA`` /
``RUNWAYS_CSV_SCHEMA``) and draws batches of 1 Hz telemetry (parquet,
the CLI's telemetry columns). Each flight takes off from a generated
airport, cruises, and flies 1-3 approaches to another one. Approaches
mix stable and unstable final segments; landings mix full stops (the
engine's ``stop-and-go``), touch-and-goes and go-arounds; destination
runways are aligned with the final course, misaligned, or absent.
About 1% of ticks carry a NULL field.

``events`` writes an ``events.parquet`` in the catalog's events schema
for the catalog-mix workload.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = "v5"

MI_PER_DEG = 69.0
TELEMETRY_COLS = (
    "flight", "time", "msl_altitude", "indicated_airspeed",
    "vertical_airspeed", "heading", "latitude", "longitude",
)
MEASURE_COLS = TELEMETRY_COLS[2:]
AIRPORT_HEADER = (
    "airport_code,airport_name,city,state_code,latitude,longitude,elevation_ft"
)
RUNWAY_HEADER = (
    "airport_code,runway_code,magnetic_rwy_hdg,true_rwy_hdg,"
    "center_lat,center_long,elevation_ft"
)
LANDINGS = ("full-stop", "touch-and-go", "go-around")
APPROACHES = ("stable", "stable", "fast", "heading", "offset", "sink")
RUNWAY_KINDS = ("aligned", "aligned", "aligned", "misaligned", "none")
T0 = 1_700_000_000


def cache_key(kind: str, seed: int, **sizes) -> str:
    blob = json.dumps([kind, seed, sizes, GEN_VERSION], sort_keys=True)
    return f"{kind}-{seed}-{hashlib.sha1(blob.encode()).hexdigest()[:10]}"


def cached(root: str, key: str, build) -> str:
    """Return ``root/key``, building it with ``build(tmp_dir)`` first
    when absent. The rename makes a half-written cache impossible."""
    out = os.path.join(root, key)
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


# ---------------------------------------------------------------------------
# national dims
# ---------------------------------------------------------------------------


def airports(rng: np.random.Generator, n: int):
    """CONUS-like airport field: half clustered around metro centres,
    half spread with an eastward density gradient."""
    n_metro = n // 2
    centres = np.column_stack(
        [rng.uniform(27.0, 47.5, 60), rng.uniform(-122.0, -70.0, 60)]
    )
    pick = rng.integers(0, len(centres), n_metro)
    metro = centres[pick] + rng.normal(0.0, 0.9, (n_metro, 2))
    lon_u = -124.0 + 57.0 * np.sqrt(rng.uniform(0.0, 1.0, n - n_metro))
    spread = np.column_stack([rng.uniform(25.0, 49.0, n - n_metro), lon_u])
    pos = np.vstack([metro, spread])
    pos[:, 0] = np.clip(pos[:, 0], 25.0, 49.0)
    pos[:, 1] = np.clip(pos[:, 1], -124.0, -67.0)
    pos = np.round(pos, 6)
    elev = np.round(rng.uniform(0.0, 3000.0, n))
    codes = np.array([f"X{i:05d}" for i in range(n)])
    return codes, pos[:, 0], pos[:, 1], elev


def _unit(course_deg: float, lat: float) -> tuple[float, float]:
    """Degrees of (lat, lon) per statute mile along a true course."""
    c = math.radians(course_deg)
    return (
        math.cos(c) / MI_PER_DEG,
        math.sin(c) / (MI_PER_DEG * math.cos(math.radians(lat))),
    )


# ---------------------------------------------------------------------------
# flights
# ---------------------------------------------------------------------------


class _Track:
    """Piecewise-linear 1 Hz flight path builder."""

    def __init__(self, lat, lon, msl):
        self.lat, self.lon, self.msl = lat, lon, msl
        self.cols = {k: [] for k in MEASURE_COLS}

    def leg(self, n, lat1, lon1, msl1, ias0, ias1, heading, noise):
        n = max(int(n), 2)
        f = np.arange(1, n + 1) / n
        lat = self.lat + (lat1 - self.lat) * f
        lon = self.lon + (lon1 - self.lon) * f
        msl = self.msl + (msl1 - self.msl) * f + noise.normal(0, 1.0, n)
        vsi = np.full(n, (msl1 - self.msl) / n * 60.0) + noise.normal(0, 15.0, n)
        self.cols["latitude"].append(lat)
        self.cols["longitude"].append(lon)
        self.cols["msl_altitude"].append(msl)
        self.cols["indicated_airspeed"].append(
            np.linspace(ias0, ias1, n) + noise.normal(0, 0.8, n)
        )
        self.cols["vertical_airspeed"].append(vsi)
        self.cols["heading"].append(
            (heading + noise.normal(0, 1.0, n)) % 360.0
        )
        self.lat, self.lon, self.msl = lat1, lon1, msl1

    def fly_to(self, lat1, lon1, msl1, knots, noise, heading=None):
        dlat = (lat1 - self.lat) * MI_PER_DEG
        dlon = (lon1 - self.lon) * MI_PER_DEG * math.cos(math.radians(self.lat))
        dist = math.hypot(dlat, dlon)
        if heading is None:
            heading = math.degrees(math.atan2(dlon, dlat)) % 360.0
        self.leg(dist / (knots * 1.15078 / 3600.0), lat1, lon1, msl1,
                 knots, knots, heading, noise)

    def arrays(self):
        return {k: np.concatenate(v) for k, v in self.cols.items()}


def _flight(rng, ap, origin, dest, course, decl, styles):
    """One flight: ground roll at ``origin``, climb, cruise, then one
    final approach per ``styles`` entry onto ``dest`` along true
    ``course`` (the runway centre is the airport point)."""
    codes, alat, alon, aelev = ap
    e0, e1 = aelev[origin], aelev[dest]
    cruise = max(e0, e1) + 3000.0
    clat, clon = alat[dest], alon[dest]
    ulat, ulon = _unit(course, clat)
    vlat, vlon = _unit(course + 90.0, clat)
    mag = (course - decl) % 360.0
    t = _Track(alat[origin], alon[origin], e0)
    t.leg(20, t.lat, t.lon, e0, 5.0, 10.0, rng.uniform(0, 360), rng)
    # climb out toward the destination, then cruise to the final fix
    fix = (clat - 4.0 * ulat, clon - 4.0 * ulon)
    d_lat, d_lon = fix[0] - t.lat, fix[1] - t.lon
    t.fly_to(t.lat + 0.25 * d_lat, t.lon + 0.25 * d_lon, cruise, 95.0, rng)
    t.fly_to(t.lat + 0.6 * (fix[0] - t.lat), t.lon + 0.6 * (fix[1] - t.lon),
             cruise, 120.0, rng)
    t.fly_to(fix[0] - 1.5 * vlat, fix[1] - 1.5 * vlon, e1 + 1000.0, 110.0, rng)
    t.fly_to(fix[0], fix[1], e1 + 1000.0, 90.0, rng)
    for k, (unstable, landing) in enumerate(styles):
        ias = 82.0 if unstable == "fast" else 65.0
        hdg = mag + (14.0 if unstable == "heading" else 0.0)
        off = 0.03 if unstable == "offset" else 0.0
        olat, olon = off * vlat, off * vlon
        # final: 4 mi at ~3 degrees to the threshold (or to 60 ft AGL)
        floor_agl = 60.0 if landing == "go-around" else 0.0
        span = 4.0 - floor_agl / 250.0
        n_fin = span / (ias * 1.15078 / 3600.0)
        if unstable == "sink":
            # dive through the final band: -1300 fpm for 25 s
            mid = (clat - 0.9 * ulat + olat, clon - 0.9 * ulon + olon)
            t.leg(n_fin * (3.1 / span), mid[0], mid[1], e1 + 230.0,
                  ias, ias, hdg, rng)
            t.leg(25, clat - 0.45 * ulat, clon - 0.45 * ulon, e1 + 30.0,
                  ias, ias, hdg, rng)
            t.leg(n_fin * (0.45 / span), clat, clon, e1 + floor_agl,
                  ias, ias, hdg, rng)
        else:
            t.leg(n_fin, clat - (4.0 - span) * ulat + olat,
                  clon - (4.0 - span) * ulon + olon, e1 + floor_agl,
                  ias, ias, hdg, rng)
        last = k == len(styles) - 1
        if landing == "full-stop":
            t.leg(30, clat + 0.3 * ulat, clon + 0.3 * ulon, e1,
                  ias - 5.0, 12.0, mag, rng)
            t.leg(20, clat + 0.35 * ulat, clon + 0.35 * ulon, e1,
                  12.0, 8.0, mag, rng)
            if last:
                break
            t.leg(25, clat + 0.6 * ulat, clon + 0.6 * ulon, e1,
                  15.0, 60.0, mag, rng)
        elif landing == "touch-and-go":
            t.leg(15, clat + 0.25 * ulat, clon + 0.25 * ulon, e1,
                  ias - 8.0, ias - 12.0, mag, rng)
        if landing != "go-around":
            # low climb-out: under the 50 ft final band until clear of
            # the 1 mi approach radius, so the episode ends before the
            # touchdown and the landing window holds it
            t.leg(60, clat + 1.2 * ulat, clon + 1.2 * ulon, e1 + 35.0,
                  60.0, 70.0, mag, rng)
        # climb out, crosswind, downwind, base back to the final fix
        t.leg(110, t.lat + 2.5 * ulat, t.lon + 2.5 * ulon, e1 + 1000.0,
              70.0, 85.0, mag, rng)
        if last:
            break
        t.fly_to(t.lat + 1.5 * vlat, t.lon + 1.5 * vlon, e1 + 1000.0, 90.0, rng)
        t.fly_to(fix[0] + 1.5 * vlat, fix[1] + 1.5 * vlon, e1 + 1000.0, 95.0, rng)
        t.fly_to(fix[0], fix[1], e1 + 1000.0, 90.0, rng)
    return t.arrays()


def _fly(rng, ap, cols, fid, origin, dest, course, decl) -> None:
    """Append one flight with 1-3 random approaches to ``cols``."""
    styles = [
        (str(rng.choice(APPROACHES)), str(rng.choice(LANDINGS)))
        for _ in range(int(rng.integers(1, 4)))
    ]
    arr = _flight(rng, ap, origin, dest, course, decl, styles)
    n = len(arr["latitude"])
    cols["flight"].append(np.full(n, fid, dtype=np.int64))
    cols["time"].append(T0 + np.arange(n, dtype=np.int64))
    for k, v in arr.items():
        cols[k].append(v)


def _table(rng, cols) -> pa.Table:
    """Telemetry table from per-flight column lists, with ~1% of ticks
    carrying one NULL field."""
    out = {k: np.concatenate(v) for k, v in cols.items()}
    out["latitude"] = np.round(out["latitude"], 7)
    out["longitude"] = np.round(out["longitude"], 7)
    for k in MEASURE_COLS[:4]:
        out[k] = np.round(out[k], 3)
    n = len(out["flight"])
    hole = rng.random(n) < 0.01
    which = rng.integers(0, len(MEASURE_COLS), n)
    arrays = [pa.array(out["flight"]), pa.array(out["time"])]
    for j, k in enumerate(MEASURE_COLS):
        arrays.append(pa.array(out[k], mask=hole & (which == j)))
    return pa.Table.from_arrays(arrays, names=list(TELEMETRY_COLS))


class Grid:
    """1-degree bucket index over the airport field (generator-side
    helper for picking nearby origins; unrelated to the engine's
    gridded join)."""

    def __init__(self, lat, lon):
        self.lat, self.lon = lat, lon
        self.cells: dict = {}
        for i, key in enumerate(zip(np.floor(lat).astype(int), np.floor(lon).astype(int))):
            self.cells.setdefault(key, []).append(i)

    def near(self, la, lo, radius_deg):
        out = []
        for dy in (-1, 0, 1):
            for dx in (-1, 0, 1):
                out += self.cells.get((int(math.floor(la)) + dy, int(math.floor(lo)) + dx), [])
        out = np.array(out, dtype=np.int64)
        d = np.abs(self.lat[out] - la) + np.abs(self.lon[out] - lo)
        return out[(d < radius_deg) & (d > 0.12)]

    def origin_for(self, rng, dest: int) -> int:
        """A departure field 8-60 miles from ``dest``, or the nearest
        one beyond 8 miles for an isolated ``dest``."""
        for radius in (0.45, 0.9):
            near = self.near(self.lat[dest], self.lon[dest], radius)
            if len(near):
                return int(rng.choice(near))
        d = np.abs(self.lat - self.lat[dest]) + np.abs(self.lon - self.lon[dest])
        return int(np.argmin(np.where(d > 0.12, d, np.inf)))


def write_dims(path_dir, ap, runways):
    codes, alat, alon, aelev = ap
    with open(os.path.join(path_dir, "airports.csv"), "w") as f:
        f.write(AIRPORT_HEADER + "\n")
        for i in range(len(codes)):
            f.write(
                f"{codes[i]},Field {i},City {i % 997},S{i % 50:02d},"
                f"{alat[i]:.6f},{alon[i]:.6f},{aelev[i]:.1f}\n"
            )
    with open(os.path.join(path_dir, "runways.csv"), "w") as f:
        f.write(RUNWAY_HEADER + "\n")
        for dest in sorted(runways):
            course, decl, kind = runways[dest]
            if kind == "none":
                continue
            true = course if kind == "aligned" else (course + 60.0) % 360.0
            for hdg in (true, (true + 180.0) % 360.0):
                mag = (hdg - decl) % 360.0
                code = f"{max(1, round(mag / 10)) % 36 or 36:02d}"
                f.write(
                    f"{codes[dest]},{code},{mag:.1f},{hdg:.1f},"
                    f"{alat[dest]:.6f},{alon[dest]:.6f},{aelev[dest]:.1f}\n"
                )


def _fleet_setup(seed: int, n_airports: int):
    rng = np.random.default_rng([seed, 1])
    ap = airports(rng, n_airports)
    return rng, ap, Grid(ap[1], ap[2])


class QueueFeed:
    """Deterministic batch source for the work-queue workload: batch
    ``b`` holds ``per_batch`` new flights; ``requeue(ids, b)`` gives
    changed telemetry for already-landed flights. Runway plans for
    every destination the feed can pick are fixed up front, so the
    dims never change during a run."""

    def __init__(self, seed: int, n_airports: int):
        self.seed = seed
        _, self.ap, self.grid = _fleet_setup(seed, n_airports)
        rng = np.random.default_rng([seed, 2])
        # every destination is drawn from this pool, so the runway CSV
        # written before the run covers all of them
        self.pool = rng.choice(len(self.ap[0]), 400, replace=False)
        self.runways = {}
        for d in self.pool:
            self.runways[int(d)] = (
                float(rng.uniform(0.0, 360.0)),
                round(-0.25 * (self.ap[2][d] + 95.0), 1),
                str(rng.choice(RUNWAY_KINDS)),
            )

    def _flights(self, ids, salt):
        rng = np.random.default_rng([self.seed, 3, salt])
        cols = {k: [] for k in TELEMETRY_COLS}
        for fid in ids:
            dest = int(self.pool[int(rng.integers(0, len(self.pool)))])
            origin = self.grid.origin_for(rng, dest)
            course, decl, _ = self.runways[dest]
            _fly(rng, self.ap, cols, fid, origin, dest, course, decl)
        return _table(rng, cols)

    def batch(self, b: int, per_batch: int) -> pa.Table:
        first = 1 + b * per_batch
        return self._flights(range(first, first + per_batch), salt=b)

    def requeue(self, ids, b: int) -> pa.Table:
        return self._flights(ids, salt=100_000 + b)

    def write_dims(self, out_dir: str) -> None:
        write_dims(out_dir, self.ap, self.runways)


# ---------------------------------------------------------------------------
# catalog events
# ---------------------------------------------------------------------------

EVENT_TYPES = ("click", "purchase", "error", "signup", "view")
EVENTS_T0_US = 1_704_067_200_000_000  # 2024-01-01 UTC
EVENTS_SPAN_US = 30 * 86_400 * 1_000_000


def events(out_dir: str, seed: int, n_events: int, n_users: int) -> str:
    """``events.parquet`` in the catalog's events schema (event_id, ts,
    user_id, event_type, value, props) over 30 days; event types are
    uniform, as in the catalog's own test tables. Returns its path."""
    rng = np.random.default_rng([seed, 7])
    ts = np.sort(rng.integers(0, EVENTS_SPAN_US, n_events)) + EVENTS_T0_US
    table = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": pa.array(
            np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n_events)]
        ),
        "value": pa.array(np.round(rng.uniform(0.0, 500.0, n_events), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })
    path = os.path.join(out_dir, "events.parquet")
    pq.write_table(table, path)
    return path
