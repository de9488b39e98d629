"""Sync the query/oracle/test totals in README.md / COVERAGE.md
with the actual registry and test collection.

Run after adding queries or tests: ``python tools/update_totals.py``.
Counts come from the source of truth (plans.synthetic registry; pytest
--collect-only), so the docs can't drift.
"""

from __future__ import annotations

import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from analysis_of_flight_delay_data_by_mapreduce_spark.plans import synthetic  # noqa: E402


def n_tests() -> int:
    out = subprocess.run(
        [sys.executable, "-m", "pytest", "tests/", "-q", "--collect-only"],
        capture_output=True,
        text=True,
        cwd=ROOT,
    ).stdout
    m = re.search(r"(\d+) tests collected", out)
    return int(m.group(1)) if m else 0


def main() -> None:
    nq = len(synthetic.QUERIES)
    no = len(synthetic.ORACLES)
    nr = nq - no
    nt = n_tests()
    subs = [
        (
            "README.md",
            r"Current surface: \*\*\d+ registered queries\*\* in `__spark_entry__\.queries\(\)` —\n\d+ hash-checked against DuckDB oracles, \d+ rows-only",
            f"Current surface: **{nq} registered queries** in `__spark_entry__.queries()` —\n{no} hash-checked against DuckDB oracles, {nr} rows-only",
        ),
        (
            "COVERAGE.md",
            r"\*\*Totals: \d+ registered queries — \d+ DuckDB-oracle hash-checked, \d+\nrows-only by design",
            f"**Totals: {nq} registered queries — {no} DuckDB-oracle hash-checked, {nr}\nrows-only by design",
        ),
        (
            "README.md",
            r"# \d+ unit/golden/property/oracle tests",
            f"# {nt} unit/golden/property/oracle tests",
        ),
        (
            "COVERAGE.md",
            r"\d+ pytest cases \(golden,",
            f"{nt} pytest cases (golden,",
        ),
    ]
    for fname, pat, rep in subs:
        path = os.path.join(ROOT, fname)
        text = open(path).read()
        new, n = re.subn(pat, rep, text)
        open(path, "w").write(new)
        print(f"{fname}: {'updated' if n else 'PATTERN NOT FOUND'}")
    print(f"queries={nq} oracles={no} rows_only={nr} tests={nt}")


if __name__ == "__main__":
    main()
