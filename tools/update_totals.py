"""Sync the query/oracle/test totals in README.md / COVERAGE.md
with the actual registry and test collection.

Run after adding queries or tests: ``python tools/update_totals.py``.
Counts come from the source of truth (plans.synthetic registry; pytest
--collect-only), so the docs can't drift. Exits non-zero when a pattern
no longer matches its document, so a reworded total is noticed.
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
    if not m:
        sys.exit("update_totals: pytest --collect-only printed no test count")
    return int(m.group(1))


def main() -> None:
    nq = len(synthetic.QUERIES)
    no = len(synthetic.ORACLES)
    nr = nq - no
    nt = n_tests()
    # (file, pattern, values): each pattern's capture groups are exactly
    # the numbers to rewrite, in order; the text between them is kept.
    subs = [
        (
            "README.md",
            r"Current surface: \*\*(\d+) registered queries\*\* in "
            r"`__spark_entry__\.queries\(\)` —\s+(ALL \d+|\d+) hash-checked "
            r"against DuckDB oracles, (zero|\d+) rows-only",
            [nq, no if nr else f"ALL {no}", nr or "zero"],
        ),
        (
            "COVERAGE.md",
            r"\*\*Totals: (\d+) registered queries — (\d+) DuckDB-oracle "
            r"hash-checked,\s+(ZERO|\d+) rows-only",
            [nq, no, nr or "ZERO"],
        ),
        ("README.md", r"# (\d+) unit/golden/property/oracle tests", [nt]),
        ("COVERAGE.md", r"(\d+) pytest cases \(golden,", [nt]),
    ]
    missed = []
    for fname, pat, values in subs:
        path = os.path.join(ROOT, fname)
        text = open(path).read()

        def fill(m, values=values):
            out, last = [], m.start()
            for i, v in enumerate(values, 1):
                out += [m.string[last : m.start(i)], str(v)]
                last = m.end(i)
            return "".join(out) + m.string[last : m.end()]

        new, n = re.subn(pat, fill, text)
        if n:
            open(path, "w").write(new)
        else:
            missed.append(fname)
        print(f"{fname}: {'updated' if n else 'PATTERN NOT FOUND: ' + pat}")
    print(f"queries={nq} oracles={no} rows_only={nr} tests={nt}")
    if missed:
        sys.exit(f"update_totals: {len(missed)} pattern(s) not found")


if __name__ == "__main__":
    main()
