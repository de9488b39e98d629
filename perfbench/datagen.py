"""The benchmark's generated input: a UK-CAA-punctuality-shaped CSV.

``codec_udf`` reads ``data/sf0.01/documents.parquet``, a byte-for-byte
copy of the repo's sf0.01 test table (see TESTDATA.md). Only the CAA CSV
has no existing input, so ``write_caa_csv`` makes one from the run's
``--seed``, in the reference's own dialect: space-padded numerics,
charter and zero-flight rows, a trailing blank line. It is vectorised
numpy/pyarrow: a million rows take about 3 s.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pcsv

from analysis_of_flight_delay_data_by_mapreduce_spark.schema import FLIGHT_PUNCTUALITY

def _padded(values: np.ndarray) -> pa.Array:
    """Numbers as the reference's CSV prints them: `` <value> ``."""
    text = pc.cast(pa.array(values), pa.string())
    return pc.binary_join_element_wise(" ", text, " ", "")


def _pick(rng: np.random.Generator, names: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(names, dtype=object)[rng.integers(0, len(names), n)])


def write_caa_csv(path: str, rows: int, seed: int) -> None:
    """Write ``rows`` punctuality rows: ~10% charter and ~0.5% zero-flight
    rows (both filtered by the queries), the late buckets drawn so about
    half of the (airline, year) groups cross Q2's 50% threshold."""
    rng = np.random.default_rng(seed)
    n = rows
    late = np.round(rng.uniform(0.0, 25.0, (4, n)), 1)
    early = np.round(np.maximum(0.0, 100.0 - late.sum(axis=0)), 1)
    flights = rng.integers(1, 201, n)
    flights[rng.random(n) < 0.005] = 0
    cols = [
        pa.array(np.full(n, "05-Apr-2011 13:31", dtype=object)),
        pc.cast(pa.array(rng.integers(2011, 2018, n) * 100 + rng.integers(1, 13, n)), pa.string()),
        _pick(rng, [f"AIRPORT {i}" for i in range(25)], n),
        _pick(rng, [f"COUNTRY {i}" for i in range(40)], n),
        _pick(rng, [f"CITY {i}" for i in range(200)], n),
        _pick(rng, [f"AIRLINE {chr(65 + i)} LTD" for i in range(30)], n),
        _pick(rng, ["A", "D"], n),
        pa.array(np.where(rng.random(n) < 0.1, "C", "S").astype(object)),
        _padded(flights),
        _padded(rng.integers(0, 5, n)),
        _padded(early),
        _padded(np.zeros(n)),
        *(_padded(late[i]) for i in range(4)),
        _padded(np.round(rng.uniform(0.0, 60.0, n), 2)),
        _padded(np.zeros(n, dtype=np.int64)),
        _padded(rng.integers(0, 201, n)),
        _padded(np.round(rng.uniform(0.0, 100.0, n), 1)),
        _padded(np.round(rng.uniform(0.0, 60.0, n), 2)),
    ]
    names = [f.name for f in FLIGHT_PUNCTUALITY.fields]
    tmp = path + ".tmp"
    with open(tmp, "wb") as f:
        f.write((",".join(names) + "\n").encode())
        pcsv.write_csv(
            pa.table(cols, names=names), f,
            pcsv.WriteOptions(include_header=False, quoting_style="none"),
        )
        f.write(b"\n")  # trailing blank line, as the reference tolerates
    os.replace(tmp, path)
