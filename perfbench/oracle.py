"""Output checks, evaluated outside the timed region.

Catalog queries are checked against their registered DuckDB oracle
(``plans.ORACLES[name]``) over the generated events table, with
``tools/check_oracle.py``'s canonicalization.

The approach pipeline's reference answer is the repo's own DuckDB
oracle for ``approach_pipeline_demo`` (``plans.ORACLES``), re-pointed
at the generated inputs by three assert-checked text replacements:

1. the ``raw`` CTE reads the telemetry parquet instead of deriving
   ticks from ``events``;
2. the two-airport CASE argmin becomes a ``min(struct)`` argmin over
   the airports CSV (the same (d, code, lat, lon, elev) tie-break as
   the engine), restricted to the 3x3 grid cells around each tick.
   With cell size ``c`` that is exact whenever the winner lies under
   ``c`` degrees (Manhattan) away, because every airport that close
   is in those cells. Ticks that miss on the 0.25-degree grid retry
   on 1- and 4-degree grids, and the few left after that (sparse
   regions) scan every airport, so every winner is the exact argmin;
3. the two-row VALUES runway dim becomes the runways CSV.

Everything downstream of the argmin is the oracle's own SQL, so the
check can never drift from the registered catalog oracle.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa

_OLD_RAW_HEAD = "WITH raw AS (\n"
_OLD_RAW_TAIL = "  FROM events\n), t AS (\n"
_OLD_NEAR_AP = """), near AS (
  SELECT *,
    abs(latitude - 40.0) + abs(longitude - (-85.0)) AS d_a,
    abs(latitude - 40.02) + abs(longitude - (-84.98)) AS d_b
  FROM t
), ap AS (
  SELECT * EXCLUDE (d_a, d_b),
    CASE WHEN d_b < d_a THEN 'KBBB' ELSE 'KAAA' END AS airport_code,
    CASE WHEN d_b < d_a THEN 40.02 ELSE 40.0 END AS airport_lat,
    CASE WHEN d_b < d_a THEN -84.98 ELSE -85.0 END AS airport_lon,
    CASE WHEN d_b < d_a THEN 820.0 ELSE 800.0 END AS airport_elev
  FROM near
), pv AS (
"""
_OLD_RWYS = """), rwys(airport_code, runway_code, magnetic_rwy_hdg, true_rwy_hdg,
        center_lat, center_long) AS (
  VALUES ('KAAA', '09', 90.0, 90.0, 40.0, -85.0),
         ('KBBB', '08', 85.0, 85.0, 40.02, -84.98)
), rw_cand AS (
"""

_AIRPORT_COLS = (
    "{'airport_code': 'VARCHAR', 'airport_name': 'VARCHAR', 'city': 'VARCHAR', "
    "'state_code': 'VARCHAR', 'latitude': 'DOUBLE', 'longitude': 'DOUBLE', "
    "'elevation_ft': 'DOUBLE'}"
)
_RUNWAY_COLS = (
    "{'airport_code': 'VARCHAR', 'runway_code': 'VARCHAR', "
    "'magnetic_rwy_hdg': 'DOUBLE', 'true_rwy_hdg': 'DOUBLE', "
    "'center_lat': 'DOUBLE', 'center_long': 'DOUBLE', 'elevation_ft': 'DOUBLE'}"
)

RESULT_SCHEMA = pa.schema([
    ("flight_id", pa.int64()), ("approach_id", pa.int32()),
    ("airport_id", pa.string()), ("runway_id", pa.string()),
    ("approach_start", pa.int64()), ("approach_end", pa.int64()),
    ("landing_start", pa.int64()), ("landing_end", pa.int64()),
    ("landing_type", pa.string()), ("unstable", pa.int32()),
    ("all_heading", pa.float64()), ("f1_heading", pa.float64()),
    ("all_crosstrack", pa.float64()), ("f2_crosstrack", pa.float64()),
    ("all_ias", pa.float64()), ("a_ias", pa.float64()),
    ("all_vsi", pa.float64()), ("s_vsi", pa.float64()),
])
LANDING_TYPES = ("stop-and-go", "touch-and-go", "go-around")


GRID_DEGS = (0.25, 1.0, 4.0)


def _argmin(src: str, deg: float | None) -> str:
    """Per-tick argmin of ``src`` over the airports in the tick's 3x3
    cells of ``deg`` degrees (every airport when ``deg`` is None),
    with the engine's (d, code, lat, lon, elev) tie-break, as ``b`` =
    that struct. Division by a power of two is exact, so cell ids
    never round across a boundary."""
    d = "abs(p.latitude - a.ap_lat) + abs(p.longitude - a.ap_lon)"
    if deg is None:
        cand = f"FROM {src} p, apt a"
    else:
        cell = "CAST(floor({x} / %r) AS BIGINT)" % deg
        cand = f"""FROM {src} p JOIN (
      SELECT apt.*, {cell.format(x="ap_lat")} + oy AS gy,
             {cell.format(x="ap_lon")} + ox AS gx
      FROM apt, (VALUES (-1), (0), (1)) o1(oy), (VALUES (-1), (0), (1)) o2(ox)
    ) a ON a.gy = {cell.format(x="p.latitude")}
       AND a.gx = {cell.format(x="p.longitude")}"""
    return f"""
  SELECT flight, time,
    {{'d': d, 'code': airport_code, 'lat': ap_lat, 'lon': ap_lon,
     'elev': ap_elev}} AS b
  FROM (
    SELECT p.flight, p.time, {d} AS d, a.airport_code, a.ap_lat, a.ap_lon,
      a.ap_elev, row_number() OVER (PARTITION BY p.flight, p.time
        ORDER BY {d}, a.airport_code, a.ap_lat, a.ap_lon, a.ap_elev) AS rn
    {cand}
  ) WHERE rn = 1"""


def approach_sql(base_oracle: str, telemetry: list[str], airports_csv: str,
                 runways_csv: str) -> tuple[list[str], str]:
    """(set-up statements that build the ``bestap`` argmin table,
    oracle SQL reading it) over the generated inputs."""
    head = base_oracle.index(_OLD_RAW_HEAD)
    tail = base_oracle.index(_OLD_RAW_TAIL)
    for old in (_OLD_RAW_HEAD, _OLD_RAW_TAIL, _OLD_NEAR_AP, _OLD_RWYS):
        assert base_oracle.count(old) == 1, "approach oracle drifted"
    files = ", ".join(f"'{p}'" for p in telemetry)
    raw = (
        "WITH raw AS (\n  SELECT flight, time, msl_altitude, indicated_airspeed,\n"
        "    vertical_airspeed, heading, latitude, longitude\n"
        f"  FROM read_parquet([{files}])\n), t AS (\n"
    )
    # the oracle's own NULL-row filter, applied once to the argmin input
    t_body = base_oracle[tail + len(_OLD_RAW_TAIL):base_oracle.index(_OLD_NEAR_AP)]
    prep = [
        f"CREATE TEMP TABLE tk AS {raw}{t_body}) SELECT flight, time, latitude, longitude FROM t",
        f"""CREATE TEMP TABLE apt AS
  SELECT airport_code, latitude AS ap_lat, longitude AS ap_lon,
         elevation_ft AS ap_elev
  FROM read_csv('{airports_csv}', header=true, columns={_AIRPORT_COLS})
  WHERE airport_code IS NOT NULL AND latitude IS NOT NULL
    AND longitude IS NOT NULL""",
        f"CREATE TEMP TABLE fine AS {_argmin('tk', GRID_DEGS[0])}",
        f"CREATE TEMP TABLE bestap AS SELECT * FROM fine WHERE b.d < {GRID_DEGS[0]}",
    ]
    for deg in GRID_DEGS[1:] + (None,):
        prep += [
            "CREATE OR REPLACE TEMP TABLE miss AS "
            "SELECT * FROM tk ANTI JOIN bestap USING (flight, time)",
            f"INSERT INTO bestap SELECT * FROM ({_argmin('miss', deg)})"
            + (f" WHERE b.d < {deg}" if deg else ""),
        ]
    near = """), ap AS (
  SELECT t.*, b.b.code AS airport_code, b.b.lat AS airport_lat,
         b.b.lon AS airport_lon, b.b.elev AS airport_elev
  FROM t JOIN bestap b USING (flight, time)
), pv AS (
"""
    rwys = f"""), rwys AS (
  SELECT airport_code, runway_code, magnetic_rwy_hdg, true_rwy_hdg,
         center_lat, center_long
  FROM read_csv('{runways_csv}', header=true, columns={_RUNWAY_COLS})
), rw_cand AS (
"""
    sql = (
        base_oracle[:head] + raw + base_oracle[tail + len(_OLD_RAW_TAIL):]
    ).replace(_OLD_NEAR_AP, near).replace(_OLD_RWYS, rwys)
    return prep, sql


def approach_rows(base_oracle, telemetry, airports_csv, runways_csv):
    """Oracle rows as a list of tuples in RESULT_SCHEMA column order."""
    prep, sql = approach_sql(base_oracle, telemetry, airports_csv, runways_csv)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET memory_limit = '2GB'")
    for stmt in prep:
        con.execute(stmt)
    bad = con.execute(
        "SELECT count(*) FROM tk ANTI JOIN bestap USING (flight, time)"
    ).fetchone()[0]
    assert bad == 0, f"{bad} ticks have no nearest airport"
    cols = ", ".join(RESULT_SCHEMA.names)
    rows = con.execute(f"SELECT {cols} FROM ({sql})").fetchall()
    con.close()
    return rows


def read_rows(path: str) -> list[tuple]:
    """Rows of a parquet table dir (hive bucket dirs dropped)."""
    con = duckdb.connect()
    cols = ", ".join(RESULT_SCHEMA.names)
    rows = con.execute(
        f"SELECT {cols} FROM read_parquet('{path}/**/*.parquet', hive_partitioning=false)"
    ).fetchall()
    con.close()
    return rows


def compare(check_oracle, got, want) -> list[str]:
    """Problems between engine rows and oracle rows, using the repo's
    oracle-checker canonicalization. A float near-miss counts as a
    failure: the pipeline's outputs are byte-stable by design."""
    names = list(RESULT_SCHEMA.names)
    problems = check_oracle.compare("approach", got, names, want, names)
    return [p for p in problems if not p.startswith("type note")]


def coverage_problems(rows) -> list[str]:
    """A degenerate input (no touch-and-go, no unstable approach...)
    must not pass as a benchmark."""
    types = {r[8] for r in rows}
    unstable = {r[9] for r in rows}
    out = [f"no {t} landing in output" for t in LANDING_TYPES if t not in types]
    out += [f"no unstable={u} approach" for u in (0, 1) if u not in unstable]
    return out


def plant_wrong_row(rows):
    """Copy of ``rows`` with one landing classification flipped (or
    one junk row, when there are none)."""
    if not rows:
        return [(None,) * len(RESULT_SCHEMA)]
    bad = [list(r) for r in rows]
    r = bad[len(bad) // 2]
    r[8] = "go-around" if r[8] != "go-around" else "touch-and-go"
    return [tuple(r) for r in bad]


def catalog_rows(oracle_sql: str, events_path: str) -> tuple[list[tuple], list[str]]:
    """(rows, column names) of a catalog query's registered DuckDB
    oracle over the generated events table."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{events_path}')"
    )
    cur = con.execute(oracle_sql)
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    con.close()
    return rows, cols


def compare_catalog(check_oracle, name, got, got_cols, want, want_cols) -> list[str]:
    problems = check_oracle.compare(name, got, got_cols, want, want_cols)
    problems = [p for p in problems if not p.startswith("type note")]
    if not want:
        problems.append(f"{name}: oracle is empty on this input")
    return problems


def plant_wrong_value(rows):
    """Copy of ``rows`` with the last column of the middle row
    changed (or one junk row, when there are none)."""
    if not rows:
        return [(None,)]
    bad = [list(r) for r in rows]
    r = bad[len(bad) // 2]
    r[-1] = None if r[-1] is not None else 0
    return [tuple(r) for r in bad]
