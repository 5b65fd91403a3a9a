"""Output checks: DuckDB replays of each pipeline over the generator's
expected-value parquet, compared with every run's written outputs.

The flood replay follows the q140/q141 oracles, the deforestation replay the
dense zonal count and block coarsening of DeforestationPipeline, and the
curation replay is the program's own q147 oracle text (curationOracleSql),
run here in DuckDB. A run passes only if every output matches row for row:
same row count, same keys, integers and strings equal, doubles within a
relative 1e-9.
"""
import glob
import json
import os

import duckdb

# pandas-astype(str)-compatible formatting of a 3-decimal coordinate (q140)
def _wkt_num(c: str) -> str:
    full = f"CAST(CAST(round({c}, 3) AS DECIMAL(12,3)) AS VARCHAR)"
    return (f"regexp_replace(regexp_replace({full}, '(\\.[0-9]*[1-9])0+$', '\\1'),"
            f" '\\.0+$', '.0')")


def _wkt(lat: str, lon: str) -> str:
    x0, x1 = _wkt_num(f"{lon} - 0.025"), _wkt_num(f"{lon} + 0.025")
    y0, y1 = _wkt_num(f"{lat} - 0.025"), _wkt_num(f"{lat} + 0.025")
    pts = [(x0, y0), (x0, y1), (x1, y1), (x1, y0), (x0, y0)]
    return ("'POLYGON ((' || " + " || ',' || ".join(f"{x} || ' ' || {y}" for x, y in pts)
            + " || '))'")


def _pq(path: str) -> str:
    return "read_parquet('" + path.replace("'", "''") + "')"


def _flood_expected(con, d: str, m: dict) -> dict:
    b = 0.0125
    con.execute(f"""
      CREATE TABLE det AS
      WITH forecast AS (
        SELECT number, round(latitude, 3) AS latitude, round(longitude, 3) AS longitude,
               DATE '2026-01-01' AS issued_on,
               CAST(step_hours // 24 AS INTEGER) AS step,
               DATE '2026-01-01' + CAST(step_hours // 24 AS INTEGER) AS valid_for,
               value AS dis24
        FROM {_pq(d + '/forecast_expected.parquet')}),
      thresholds AS (
        SELECT round(latitude, 3) AS latitude, round(longitude, 3) AS longitude,
               threshold_2y, threshold_5y, threshold_20y
        FROM {_pq(d + '/thresholds_expected.parquet')}
        WHERE latitude >= {m['lat_min'] - b!r} AND latitude <= {m['lat_max'] + b!r}
          AND longitude >= {m['lon_min'] - b!r} AND longitude <= {m['lon_max'] + b!r}),
      joined AS (
        SELECT f.*, t.threshold_2y, t.threshold_5y, t.threshold_20y
        FROM forecast f LEFT JOIN thresholds t USING (latitude, longitude)),
      detailed AS (
        SELECT latitude, longitude, issued_on, valid_for, step,
               min(dis24) AS min_dis,
               quantile_cont(dis24, 0.25) AS q1_dis,
               quantile_cont(dis24, 0.5) AS median_dis,
               quantile_cont(dis24, 0.75) AS q3_dis,
               max(dis24) AS max_dis,
               sum(CASE WHEN dis24 >= threshold_2y THEN 1 ELSE 0 END)::DOUBLE / count(*) AS p_above_2y,
               sum(CASE WHEN dis24 >= threshold_5y THEN 1 ELSE 0 END)::DOUBLE / count(*) AS p_above_5y,
               sum(CASE WHEN dis24 >= threshold_20y THEN 1 ELSE 0 END)::DOUBLE / count(*) AS p_above_20y
        FROM joined GROUP BY 1, 2, 3, 4, 5)
      SELECT *, max(CASE WHEN step = 1 THEN median_dis END)
                  OVER (PARTITION BY latitude, longitude) AS control_dis
      FROM detailed""")
    con.execute(f"""
      CREATE TABLE summ AS
      WITH cond AS (
        SELECT *,
               CASE WHEN p_above_20y >= 0.3 THEN 4 WHEN p_above_5y >= 0.3 THEN 3
                    WHEN p_above_2y >= 0.3 THEN 2 ELSE 1 END AS cnd,
               max(CASE WHEN step BETWEEN 1 AND 10 THEN p_above_2y END)
                 OVER (PARTITION BY latitude, longitude) AS max_2y_start
        FROM det),
      peak AS (
        SELECT latitude, longitude, issued_on, step AS peak_step, valid_for AS peak_day,
               CASE WHEN step IN (1, 2, 3) AND max_2y_start >= 0.30 THEN 'BB'
                    WHEN step > 10 AND max_2y_start < 0.30 THEN 'GC'
                    ELSE 'GB' END AS peak_timing
        FROM (SELECT *, row_number() OVER (PARTITION BY latitude, longitude
                ORDER BY cnd DESC, median_dis DESC, step ASC) AS rn FROM cond)
        WHERE rn = 1),
      agg AS (
        SELECT latitude, longitude,
               max(median_dis) AS max_median_dis, min(median_dis) AS min_median_dis,
               max(control_dis) AS control_dis, max(max_dis) AS max_max_dis,
               min(min_dis) AS min_min_dis, max(p_above_20y) AS max_p_above_20y,
               max(p_above_5y) AS max_p_above_5y, max(p_above_2y) AS max_p_above_2y
        FROM det GROUP BY 1, 2)
      SELECT *,
             CASE WHEN max_median_dis > control_dis * 1.10 THEN 'U'
                  WHEN min_median_dis <= control_dis * 0.90
                       AND max_median_dis <= control_dis * 1.10 THEN 'D'
                  ELSE 'C' END AS tendency,
             CASE WHEN max_p_above_20y >= 0.30 THEN 'P' WHEN max_p_above_5y >= 0.30 THEN 'R'
                  WHEN max_p_above_2y >= 0.30 THEN 'Y' ELSE 'G' END AS intensity,
             {_wkt('latitude', 'longitude')} AS wkt
      FROM peak JOIN agg USING (latitude, longitude)""")
    con.execute("DELETE FROM summ WHERE intensity = 'G'")
    con.execute(f"""
      CREATE TABLE det_alive AS
      SELECT d.*, {_wkt('d.latitude', 'd.longitude')} AS wkt
      FROM det d SEMI JOIN summ USING (latitude, longitude)""")
    con.execute("""
      CREATE TABLE grid AS
      SELECT latitude, longitude,
             CASE intensity WHEN 'P' THEN 4 WHEN 'R' THEN 3 ELSE 2 END::DOUBLE AS value
      FROM summ""")
    return {
        "detailed": ("det_alive", ["latitude", "longitude", "step"]),
        "summary": ("summ", ["latitude", "longitude"]),
        "intensity_readback": ("grid", ["latitude", "longitude"]),
    }


def _deforestation_expected(con, d: str, m: dict) -> dict:
    bs = 200 * m["res"]
    half = m["res"] / 2

    def hav(lat1, lon1, lat2, lon2):
        a = (f"(pow(sin(radians(({lat2}) - ({lat1})) / 2), 2) + cos(radians({lat1}))"
             f" * cos(radians({lat2})) * pow(sin(radians(({lon2}) - ({lon1})) / 2), 2))")
        return f"(2.0 * 6371000.0 * atan2(sqrt({a}), sqrt(1.0 - {a})))"

    con.execute(f"CREATE TABLE px AS SELECT * FROM {_pq(d + '/pixels_expected.parquet')}")
    con.execute(f"""
      CREATE TABLE per_year AS
      WITH blk AS (
        SELECT lossyear, floor(x / {bs!r})::BIGINT AS block_x,
               floor(y / {bs!r})::BIGINT AS block_y FROM px),
      blocks AS (SELECT DISTINCT block_x, block_y FROM blk),
      cnt AS (
        SELECT lossyear AS year, block_x, block_y, count(*) AS c FROM blk
        WHERE lossyear BETWEEN 1 AND 22 GROUP BY ALL)
      SELECT (y.year + 2000)::INTEGER AS year, b.block_x, b.block_y,
             coalesce(c.c, 0)::BIGINT AS loss_count
      FROM blocks b CROSS JOIN (SELECT range::INTEGER AS year FROM range(1, 23)) y
      LEFT JOIN cnt c ON c.year = y.year AND c.block_x = b.block_x AND c.block_y = b.block_y""")
    con.execute(f"""
      CREATE TABLE per_basin AS
      WITH boxes AS (
        SELECT HYBAS_ID AS zone, lat_min, lat_max, lon_min, lon_max,
               (lat_max - lat_min) * (lon_max - lon_min) AS basin_area
        FROM {_pq(d + '/basins_expected.parquet')}),
      asg AS (
        SELECT b.zone, p.y AS latitude, p.x AS longitude, p.lossyear
        FROM px p JOIN boxes b
          ON p.y BETWEEN b.lat_min AND b.lat_max AND p.x BETWEEN b.lon_min AND b.lon_max),
      cnt AS (
        SELECT zone, lossyear AS year, count(*) AS c FROM asg
        WHERE lossyear BETWEEN 1 AND 22 GROUP BY ALL),
      firstc AS (
        SELECT a.zone, a.latitude AS lat, min(a.longitude) AS lon
        FROM asg a JOIN (SELECT zone, min(latitude) AS m FROM asg GROUP BY zone) z
          ON a.zone = z.zone AND a.latitude = z.m
        GROUP BY a.zone, a.latitude)
      SELECT f.zone AS HYBAS_ID, (y.year + 2000)::INTEGER AS year,
             coalesce(c.c, 0)::BIGINT AS tree_loss_incidents,
             {hav(f'f.lat - {half!r}', 'f.lon', f'f.lat + {half!r}', 'f.lon')}
               * {hav('f.lat', f'f.lon - {half!r}', 'f.lat', f'f.lon + {half!r}')}
               AS first_cell_area,
             b.basin_area
      FROM firstc f CROSS JOIN (SELECT range::INTEGER AS year FROM range(1, 23)) y
      JOIN boxes b USING (zone)
      LEFT JOIN cnt c ON c.zone = f.zone AND c.year = y.year""")
    return {
        "per_year": ("per_year", ["year", "block_x", "block_y"]),
        "per_basin": ("per_basin", ["HYBAS_ID", "year"]),
    }


def _curation_expected(con, d: str, oracle_sql: str) -> dict:
    con.execute(f"CREATE VIEW documents AS SELECT * FROM {_pq(d + '/documents.parquet')}")
    con.execute(f"CREATE TABLE manifest AS {oracle_sql}")
    con.execute(f"CREATE TABLE gen AS SELECT * FROM {_pq(d + '/documents_expected.parquet')}")
    return {"manifest": ("manifest", ["doc_id"])}


def _curation_extra(con, table: str) -> str:
    """Checks from the generating formula, independent of the SQL replay."""
    bad_tokens = con.execute(f"""
      SELECT count(*) FROM {table} t JOIN gen g USING (doc_id)
      WHERE t.n_tokens <> g.n_words""").fetchone()[0]
    copies = con.execute(f"""
      SELECT count(*) FROM {table} t JOIN gen g USING (doc_id)
      WHERE g.kind = 'exact_copy'""").fetchone()[0]
    if bad_tokens or copies:
        return (f"manifest: {bad_tokens} docs with n_tokens != generated word count, "
                f"{copies} planted exact copies kept")
    return ""


def _compare(con, actual: str, expected: str, keys: list) -> str:
    """'' when the parquet directory `actual` equals table `expected`."""
    files = glob.glob(os.path.join(actual, "*.parquet"))
    if not files:
        return f"{os.path.basename(actual)}: no parquet output"
    con.execute(f"CREATE OR REPLACE TEMP VIEW act AS SELECT * FROM {_pq(actual + '/*.parquet')}")
    exp_cols = {r[0]: r[1] for r in con.execute(f"DESCRIBE {expected}").fetchall()}
    act_cols = {r[0]: r[1] for r in con.execute("DESCRIBE act").fetchall()}
    if set(exp_cols) != set(act_cols):
        return (f"{os.path.basename(actual)}: columns {sorted(act_cols)} "
                f"!= expected {sorted(exp_cols)}")
    n_act = con.execute("SELECT count(*) FROM act").fetchone()[0]
    n_exp = con.execute(f"SELECT count(*) FROM {expected}").fetchone()[0]
    if n_act != n_exp:
        return f"{os.path.basename(actual)}: {n_act} rows, expected {n_exp}"
    conds = []
    for c, t in exp_cols.items():
        if c in keys:
            continue
        if t in ("DOUBLE", "FLOAT"):
            conds.append(f"NOT (a.{c} IS NOT DISTINCT FROM e.{c} OR "
                         f"abs(a.{c} - e.{c}) <= 1e-9 * greatest(1.0, abs(e.{c})))")
        else:
            conds.append(f"a.{c} IS DISTINCT FROM e.{c}")
    join = " AND ".join(f"a.{k} = e.{k}" for k in keys)
    bad = con.execute(f"""
      SELECT count(*) FROM (SELECT *, 1 AS _a FROM act) a
      FULL OUTER JOIN (SELECT *, 1 AS _e FROM {expected}) e ON {join}
      WHERE a._a IS NULL OR e._e IS NULL OR {' OR '.join(conds) or 'false'}""").fetchone()[0]
    if bad:
        return f"{os.path.basename(actual)}: {bad} rows differ from the oracle"
    return ""


def check(workload: str, in_dir: str, record: dict, tmp_dir: str) -> dict:
    """Map each run id to '' (outputs match the oracle) or an error message."""
    with open(os.path.join(in_dir, "meta.json")) as f:
        meta = json.load(f)
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    con.execute("SET threads = 4")
    if workload == "flood_e2e":
        outputs = _flood_expected(con, in_dir, meta)
    elif workload == "deforestation_zonal":
        outputs = _deforestation_expected(con, in_dir, meta)
    else:
        outputs = _curation_expected(con, in_dir, record["oracle_sql"])
    result = {}
    for out, (table, _) in outputs.items():
        if con.execute(f"SELECT count(*) FROM {table}").fetchone()[0] == 0:
            raise RuntimeError(f"oracle for {out} is empty, so the check would be vacuous")
    for run in record["runs"]:
        if not run["ok"] or run.get("error"):
            result[run["id"]] = run.get("error") or "run failed"
            continue
        errs = [_compare(con, os.path.join(run["dir"], out), table, keys)
                for out, (table, keys) in outputs.items()]
        if workload == "curation_dedup" and not any(errs):
            con.execute(f"CREATE OR REPLACE TEMP VIEW act AS SELECT * FROM "
                        f"{_pq(os.path.join(run['dir'], 'manifest') + '/*.parquet')}")
            errs.append(_curation_extra(con, "act"))
        result[run["id"]] = "; ".join(e for e in errs if e)
    con.close()
    return result
