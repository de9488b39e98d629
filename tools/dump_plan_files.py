"""Dump `.explain("formatted")` for named queries into per-query files.

Usage:
    python tools/dump_plan_files.py <out_dir> <suffix> <query> [query ...]

Writes ``<out_dir>/<query>_<suffix>.txt``. Plans are built at sf0.001 by
default (``SPARK_GRAFT_SF_DIR`` names another scale-factor directory;
iterative queries execute their fixpoint loops during construction, so
the smallest SF keeps this fast).

The ids that differ between two builds of the same plan are stripped:
expression ids (``#<n>``), ``plan_id=<n>`` and RDD ids (``RDD[<n>]``,
the checkpointed frames). Two dumps of the same queries — one per
checkout, same suffix — are then compared with ``diff -r``: an empty
diff means identical formatted plans.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from analysis_of_flight_delay_data_by_mapreduce_spark.plans import synthetic
from analysis_of_flight_delay_data_by_mapreduce_spark.plans.inspect import plan_text
from analysis_of_flight_delay_data_by_mapreduce_spark.session import get_spark

_BUILD_IDS = [
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
]


def strip_build_ids(text: str) -> str:
    """``text`` with every per-build id replaced by its bare marker."""
    for pat, repl in _BUILD_IDS:
        text = pat.sub(repl, text)
    return text


def main() -> None:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump-plan-files")
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    for name in names:
        df = synthetic.QUERIES[name](spark, sf)
        text = strip_build_ids(plan_text(df, "formatted"))
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(text)
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
