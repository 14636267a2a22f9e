"""Output checks. Each runs outside the timed region of an op; a failed
check counts the op as failed.

* `accuracy_check` recomputes the forecast-accuracy band join in DuckDB
  from the silver and dimension Parquet files the transaction log lists
  (`tx_snapshot`, never a directory glob), and compares row count, the sum
  of `temp_absolute_error` and the number of accurate forecasts with the
  committed `fact_forecast_accuracy` table.
* `rows_match` compares one dashboard result with its reference.
* `packed_digest` is an order-free digest of the curation's packed output.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

from weather_data_warehouse_aws_spark.operators import txlog
from weather_data_warehouse_aws_spark.pipeline.run import SNAPSHOT_TABLES

# txlog's directory of commit records inside each table
_LOG_DIR = "_txn_log"


def table_snapshots(warehouse_dir: str, span) -> dict[str, tuple[str, dict]]:
    """{table: (path, tx_snapshot)} for every table of the warehouse."""
    out = {}
    for name, rel in SNAPSHOT_TABLES.items():
        path = os.path.join(warehouse_dir, *rel)
        with span("txlog.snapshot"):
            out[name] = (path, txlog.tx_snapshot(path))
    return out


def log_file_count(path: str) -> int:
    return len(os.listdir(os.path.join(path, _LOG_DIR)))


def _live_files(name: str, path: str, snap: dict) -> list[str]:
    if any(snap.get("dvs", {}).get(r) for r in snap["files"]):
        raise AssertionError(f"{name}: live deletion vectors; raw file reads would resurrect rows")
    if snap.get("bases"):
        raise AssertionError(f"{name}: cloned table; files live under another root")
    return [os.path.join(path, r) for r in snap["files"]]


def accuracy_check(snaps: dict[str, tuple[str, dict]]) -> dict:
    """Recompute the accuracy fact's aggregates in DuckDB (in a child
    process, `duckcheck.py`); raise AssertionError on mismatch. Returns
    the committed aggregates."""
    files = {}
    for name, (path, snap) in snaps.items():
        files[name] = _live_files(name, path, snap)
        if not files[name]:
            raise AssertionError(f"{name}: no live files")
    proc = subprocess.run(
        [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "duckcheck.py")],
        input=json.dumps(files), capture_output=True, text=True, timeout=120,
    )
    if proc.returncode != 0:
        raise AssertionError(f"DuckDB recompute failed: {proc.stderr.strip()[-2000:]}")
    out = json.loads(proc.stdout)
    expected, (rows, err_sum, accurate) = out["expected"], out["committed"]
    if (rows, accurate) != (expected[0], expected[2]) or not math.isclose(
        err_sum or 0.0, expected[1] or 0.0, rel_tol=1e-9, abs_tol=1e-6
    ):
        raise AssertionError(f"accuracy fact {out['committed']} != DuckDB recompute {expected}")
    if rows == 0:
        raise AssertionError("accuracy fact is empty")
    return {"rows": rows, "temp_absolute_error_sum": err_sum, "accurate": accurate}


def normalize(rows) -> list[tuple]:
    """Collected Spark rows as a sorted list of tuples (ORDER BY ties make
    the row order itself unstable)."""
    return sorted((tuple(r) for r in rows), key=repr)


def rows_match(got: list[tuple], want: list[tuple]) -> bool:
    """Exact on everything but floats; floats within 0.011. The panels
    keep the reference's ROUND(avg, 2), and an average that lands on a
    .005 boundary can round either way under another summation order."""
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for x, y in zip(g, w):
            if isinstance(x, float) and isinstance(y, float):
                if abs(x - y) > 0.011:
                    return False
            elif x != y:
                return False
    return True


def packed_digest(packed):
    """(row count, order-free digest) of the packed output in one job."""
    from pyspark.sql import functions as F

    row = packed.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*packed.columns).cast("decimal(38,0)")).alias("digest"),
    ).collect()[0]
    return int(row["n"]), str(row["digest"])
