"""In-repo replica of the driver's oracle-differential gate, run at sf0.001
so the suite stays fast. Every registered query with an oracle must match
DuckDB on row count, column names, and order-insensitive value hash."""

from __future__ import annotations

import os

import duckdb
import pytest

from analysis_of_flight_delay_data_by_mapreduce_spark.plans import synthetic
from analysis_of_flight_delay_data_by_mapreduce_spark.schema import SYNTHETIC_TABLES

from conftest import SF_DIR

import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from tools.check_oracle import table_hash  # noqa: E402


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in SYNTHETIC_TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(synthetic.ORACLES))
def test_oracle_match(spark, duck, name):
    sdf = synthetic.QUERIES[name](spark, SF_DIR)
    sn, sh = table_hash([tuple(r) for r in sdf.collect()], list(sdf.columns))
    res = duck.execute(synthetic.render_oracle(name, SF_DIR))
    ocols = [d[0] for d in res.description]
    on, oh = table_hash(res.fetchall(), ocols)
    assert sorted(sdf.columns) == sorted(ocols)
    assert (sn, sh) == (on, oh)


@pytest.mark.parametrize("name", sorted(synthetic.QUERIES))
def test_query_runs(name):
    """Every registered query runs in ``test_oracle_match``, which
    collects and hashes it; a query without an oracle fails here."""
    assert name in synthetic.ORACLES


def test_approx_aggregates_within_tolerance(spark):
    """HLL distinct and approximate percentile stay within documented error
    of the exact answers (the scale path for distinct/quantile at 100 TB)."""
    from pyspark.sql import functions as F

    from analysis_of_flight_delay_data_by_mapreduce_spark.sources import (
        read_parquet_table,
    )

    ev = read_parquet_table(spark, SF_DIR, "events")
    row = ev.agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id", rsd=0.05).alias("approx_users"),
        F.expr("percentile(value, 0.5)").alias("exact_p50"),
        F.expr("percentile_approx(value, 0.5, 1000)").alias("approx_p50"),
    ).first()
    assert abs(row.approx_users - row.exact_users) <= 0.1 * row.exact_users
    assert abs(row.approx_p50 - row.exact_p50) <= 0.05 * max(row.exact_p50, 1.0)
