"""The DuckDB answers a run checks its outputs against.

Every answer is a ``(rows, hash)`` pair in the form of
``tools/check_oracle.table_hash``: row count plus an order-insensitive
hash of the rows. Answers are computed at the start of every run, before
the session starts, for the steps of the workload being run; nothing is
cached between runs.
"""

from __future__ import annotations

import glob
import os
import shutil

import duckdb

from analysis_of_flight_delay_data_by_mapreduce_spark.plans import synthetic
from analysis_of_flight_delay_data_by_mapreduce_spark.schema import FLIGHT_PUNCTUALITY, SYNTHETIC_TABLES
from tools.check_oracle import table_hash

import datagen

__all__ = ["table_hash", "table_answers", "caa_inputs", "parquet_fingerprint", "tsv_rows", "dir_size"]


def _answer(con: duckdb.DuckDBPyConnection, sql: str) -> list:
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    return list(table_hash(res.fetchall(), cols))


def table_answers(sf_dir: str, queries: list[str]) -> dict:
    """Each query's ``synthetic.render_oracle`` answer over ``sf_dir``."""
    con = duckdb.connect()
    for t in SYNTHETIC_TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return {q: _answer(con, synthetic.render_oracle(q, sf_dir)) for q in queries}


# ---------------------------------------------------------------------------
# CAA CSV: the oracle is DuckDB SQL over the same CSV file.
# ---------------------------------------------------------------------------
_DUCK_TYPES = {"IntegerType()": "INTEGER", "DoubleType()": "DOUBLE"}


def _flights_csv(csv: str) -> str:
    """The CSV typed as ``sources.read_flight_csv`` types it."""
    cols = []
    for f in FLIGHT_PUNCTUALITY.fields:
        duck = _DUCK_TYPES.get(repr(f.dataType))
        cols.append(f"CAST(trim({f.name}) AS {duck or 'VARCHAR'}) AS {f.name}")
    return f"""
      (SELECT {", ".join(cols)}
       FROM read_csv('{csv}', header=true, all_varchar=true)
       WHERE trim(reporting_airport) IS NOT NULL)
    """


def _fingerprint_sql(relation: str) -> str:
    cols = ", ".join(f.name for f in FLIGHT_PUNCTUALITY.fields)
    return f"SELECT count(*), sum(hash({cols})::HUGEINT)::VARCHAR FROM {relation}"


_Q1 = """
  WITH f AS (
    SELECT trim(reporting_airport) AS airport, trim(arrival_departure) AS ad,
           CAST(trim(number_flights_matched) AS BIGINT) AS flights,
           CAST(trim(average_delay_mins) AS DOUBLE) AS delay
    FROM read_csv('{csv}', header=true, all_varchar=true)
    WHERE trim(scheduled_charter) = 'S'
      AND CAST(trim(number_flights_matched) AS BIGINT) <> 0
  )
  SELECT airport AS reporting_airport,
         CASE WHEN SUM(CASE WHEN ad='A' THEN flights ELSE 0 END) <> 0
              THEN SUM(CASE WHEN ad='A' THEN CAST(ROUND(flights*delay) AS BIGINT) ELSE 0 END)
                   / CAST(SUM(CASE WHEN ad='A' THEN flights ELSE 0 END) AS DOUBLE)
         END AS avg_arrival_delay,
         CASE WHEN SUM(CASE WHEN ad<>'A' THEN flights ELSE 0 END) <> 0
              THEN SUM(CASE WHEN ad<>'A' THEN CAST(ROUND(flights*delay) AS BIGINT) ELSE 0 END)
                   / CAST(SUM(CASE WHEN ad<>'A' THEN flights ELSE 0 END) AS DOUBLE)
         END AS avg_departure_delay
  FROM f GROUP BY airport
"""

_Q2 = """
  WITH f AS (
    SELECT trim(airline_name) AS airline,
           substr(trim(reporting_period), 1, 4) AS year,
           CAST(trim(number_flights_matched) AS BIGINT) AS flights,
           CAST(ROUND(CAST(trim(number_flights_matched) AS BIGINT) *
                ((CAST(trim(flts_31_to_60_mins_late_percent) AS DOUBLE)
                  + CAST(trim(flts_61_to_180_mins_late_percent) AS DOUBLE)
                  + CAST(trim(flts_181_to_360_mins_late_percent) AS DOUBLE)
                  + CAST(trim(more_than_360_mins_late_percent) AS DOUBLE)) / 100.0))
                AS BIGINT) AS late
    FROM read_csv('{csv}', header=true, all_varchar=true)
    WHERE trim(scheduled_charter) = 'S'
      AND CAST(trim(number_flights_matched) AS BIGINT) <> 0
      AND trim(arrival_departure) = 'D'
  )
  SELECT airline AS airline_name, year,
         SUM(late) / CAST(SUM(flights) AS DOUBLE) AS late_ratio
  FROM f GROUP BY airline, year
  HAVING SUM(flights) > 0 AND SUM(late) / CAST(SUM(flights) AS DOUBLE) >= 0.5
"""


def caa_inputs(caa_dir: str, seed: int, rows: int) -> dict:
    """A fresh CAA CSV for ``seed``, its DuckDB answers, and an empty
    output dir, all under ``caa_dir`` (emptied first)."""
    shutil.rmtree(caa_dir, ignore_errors=True)
    out = os.path.join(caa_dir, "out")
    os.makedirs(out)
    csv = os.path.join(caa_dir, "flights.csv")
    datagen.write_caa_csv(csv, rows, seed)
    con = duckdb.connect()
    n, fp = con.execute(_fingerprint_sql(_flights_csv(csv))).fetchone()
    oracle = {
        "ingest": [n, fp],
        "caa_q1_delay": _answer(con, _Q1.format(csv=csv)),
        "caa_q2_late": _answer(con, _Q2.format(csv=csv)),
    }
    return {"csv": csv, "out": out, "oracle": oracle}


def parquet_fingerprint(path: str) -> list:
    """Row count and summed row hash of a written flights parquet dir."""
    relation = f"read_parquet('{os.path.join(path, '*.parquet')}')"
    n, fp = duckdb.connect().execute(_fingerprint_sql(relation)).fetchone()
    return [n, fp]


def _data_files(path: str) -> list[str]:
    return [
        p for p in glob.glob(os.path.join(path, "**", "*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith(("_", "."))
    ]


def tsv_rows(path: str) -> int:
    n = 0
    for p in _data_files(path):
        with open(p) as f:
            n += sum(1 for line in f if line.strip())
    return n


def dir_size(path: str) -> dict:
    files = _data_files(path)
    return {"bytes": sum(os.path.getsize(p) for p in files), "files": len(files)}
