"""DuckDB recompute of the forecast-accuracy fact, run as a child process
by `checks.accuracy_check` so DuckDB's memory never counts toward the
benchmarked process tree.

Reads `{table: [parquet file, ...]}` as JSON on stdin; prints
`{"expected": [...], "committed": [...]}`, each `[row count, sum of
temp_absolute_error, accurate forecasts]`: `expected` recomputed from the
silver and dimension files, `committed` read from the accuracy fact's.
"""

from __future__ import annotations

import json
import sys

import duckdb

_ACTUAL = """
SELECT dl.location_key, cw.observation_time AS t, cw.temperature_celsius AS temp,
       cw.weather_condition AS cond
FROM silver_current cw
JOIN dim_location dl
  ON cw.location_name = dl.location_name AND cw.country_code = dl.country_code
 AND dl.is_current
JOIN dim_date dd ON CAST(cw.observation_date AS DATE) = dd.full_date
"""

_FORECAST = """
SELECT dl.location_key, fw.forecast_for_time AS t,
       fw.temperature_celsius_forecast AS temp,
       fw.weather_condition_forecast AS cond
FROM silver_forecast fw
JOIN dim_location dl
  ON fw.location_name = dl.location_name AND fw.country_code = dl.country_code
 AND dl.is_current
JOIN dim_date c ON CAST(fw.forecast_created_date AS DATE) = c.full_date
JOIN dim_date d ON CAST(fw.forecast_for_date AS DATE) = d.full_date
"""

# the reference's strict |dt| < 3600 s band, accurate = |err| <= 3 and
# the condition matches
_RECOMPUTE = f"""
WITH a AS ({_ACTUAL}), f AS ({_FORECAST})
SELECT COUNT(*), SUM(ABS(f.temp - a.temp)),
       COUNT(*) FILTER (WHERE ABS(f.temp - a.temp) <= 3 AND f.cond = a.cond)
FROM f JOIN a
  ON f.location_key = a.location_key
 AND ABS(epoch(f.t) - epoch(a.t)) < 3600
"""

_COMMITTED = """
SELECT COUNT(*), SUM(temp_absolute_error),
       COUNT(*) FILTER (WHERE is_accurate_forecast)
FROM fact_forecast_accuracy
"""



def aggregates(files: dict[str, list[str]]) -> dict:
    con = duckdb.connect(config={"threads": 1})
    try:
        for name, paths in files.items():
            listed = ", ".join("'" + p.replace("'", "''") + "'" for p in paths)
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet([{listed}], "
                "hive_partitioning = true, union_by_name = true)"
            )
        return {
            "expected": list(con.execute(_RECOMPUTE).fetchone()),
            "committed": list(con.execute(_COMMITTED).fetchone()),
        }
    finally:
        con.close()


if __name__ == "__main__":
    json.dump(aggregates(json.load(sys.stdin)), sys.stdout)
