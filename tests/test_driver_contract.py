"""Driver-contract resilience: the harness hands queries a SparkSession we
did not configure. A bare session (no nanosAsLong, no UTC) must still run
every table's read path — exercised in a clean subprocess because a bare
session can't coexist with the configured one in this JVM."""

from __future__ import annotations

import subprocess
import sys

import pytest

_SCRIPT = """
import sys
sys.path.insert(0, "/root/repo")
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[4]").appName("driver-sim")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as e

rows = e.entry(spark).collect()
assert len(rows) > 0, "entry returned no rows"

# the nano-timestamp table is the schema-level hazard: run an events query
df = e.queries()["q5_dup_dates"](spark, "/root/testdata/sf0.001")
assert df.count() >= 0
df2 = e.queries()["events_windowed"](spark, "/root/testdata/sf0.001")
assert df2.count() > 0
print("DRIVER_SIM_OK")
spark.stop()
"""


def test_bare_session_driver_simulation():
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT],
        capture_output=True,
        text=True,
        timeout=240,
    )
    assert "DRIVER_SIM_OK" in proc.stdout, proc.stderr[-2000:]


def test_bench_stdout_line_fits_driver_tail_buffer():
    """The bench stdout JSON line must stay well under the driver's 2 kB
    tail buffer AT ANY REGISTRY SIZE AND ANY CONTENTION LEVEL — the
    r1/r5/r6 clipping regression (parsed: null) pinned structurally:
    per-query maps are stripped and the requeue list is capped (ADVICE
    r7), so the line size is bounded even when EVERY query requeues."""
    import json

    from bench import slim_stdout_payload

    n = 1000
    long_names = [f"very_long_query_name_that_could_requeue_{i}" for i in range(n)]
    payload = {
        "metric": "sum of per-query median wall-clock",
        "value": 123.4567,
        "unit": "sec",
        "queries": {q: 0.1234 for q in long_names},
        "cold": {q: 1.1234 for q in long_names},
        "cold_total": 1234.5,
        "load1_start": 0.12,
        "load1_end": 3.45,
        "load1_per_query": {q: 1.0 for q in long_names},
        "spread_per_query": {q: 1.5 for q in long_names},
        # worst case: heavy contention requeues the WHOLE registry
        "requeued": long_names,
        "requeue_medians": {q: {"first": 1.0} for q in long_names},
        "sf": 0.1,
    }
    slim = slim_stdout_payload(payload)
    line = json.dumps(slim, separators=(",", ":"))
    assert len(line) < 1024, len(line)
    parsed = json.loads(line)
    assert parsed["n_queries"] == n
    assert parsed["value"] == 123.4567 and parsed["sf"] == 0.1
    assert "queries" not in parsed and "cold" not in parsed
    # the adjudication headline survives: count + capped preview
    assert parsed["n_requeued"] == n
    assert parsed["requeued"] == long_names[:10]


def test_bench_requeue_never_keeps_stamped_worse_sample():
    """VERDICT r7 item 2: when BOTH the first batch and the retry carry a
    contention stamp (the trigger condition never clears), the keep rule
    must take the MIN of the two medians and self-label the row
    ``contaminated`` — never preserve a known-worse sample (r7 kept 33.9s
    over an 18.8s retry on events_value_mad_outliers)."""
    from bench import adjudicate_requeue

    limit = 3.0

    # Case 1 (the r7 failure): both batches contended, retry better.
    # first spread > 3 AND retry spread > 3 (trigger fires in both).
    first = [30.0, 34.0, 120.0]  # median 34.0, spread 4.0
    retry = [15.0, 18.8, 60.0]  # median 18.8, spread 4.0
    chosen, rec = adjudicate_requeue(first, retry, cold_s=40.0, spread_limit=limit)
    assert rec["kept"] == "retry" and rec["contaminated"] is True
    assert chosen == retry
    assert rec["first"] == 34.0 and rec["retry"] == 18.8

    # Case 2: both contended, FIRST better — keep first, still labeled.
    chosen, rec = adjudicate_requeue(retry, first, cold_s=40.0, spread_limit=limit)
    assert rec["kept"] == "first" and rec["contaminated"] is True
    assert chosen == retry  # retry was passed as `samples` here

    # Case 3 (ADVICE r5 rule unchanged): retry clears the trigger — keep
    # it and do NOT label, even if slightly slower than the first median.
    first = [0.1, 0.11, 5.0]  # bursty: spread 50
    clean = [0.12, 0.13, 0.14]  # spread ~1.2, median below cold*1.2
    chosen, rec = adjudicate_requeue(first, clean, cold_s=0.5, spread_limit=limit)
    assert rec["kept"] == "retry" and rec["contaminated"] is False
    assert chosen == clean

    # Case 4: a steady CODE REGRESSION is not masked — both batches agree
    # on the slow median (low spread but median > cold*1.2 trips the
    # trigger both times); the kept value is still the regressed time.
    first = [10.0, 10.1, 10.2]
    retry = [10.0, 10.05, 10.1]
    chosen, rec = adjudicate_requeue(first, retry, cold_s=2.0, spread_limit=limit)
    assert rec["contaminated"] is True
    import statistics

    assert statistics.median(chosen) >= 10.0  # regression still visible


def test_bench_ledger_trigger_adjudication():
    """VERDICT r9 item 3: the third requeue trigger — warm median above
    3x the query's own BASELINE.md ledger row — and its adjudication:
    a retry that stays above the ledger cap is contaminated even with a
    clean spread and a plausible cold ratio (the steady-contention
    profile the spread/cold triggers miss)."""
    from bench import adjudicate_requeue

    limit = 3.0

    # Steady contention: tight spread, median < cold*1.2, but 38x the
    # ledger row (the r9 text_decontaminate shape). Retry identical.
    first = [23.0, 23.5, 24.0]
    retry = [22.0, 23.0, 23.8]
    chosen, rec = adjudicate_requeue(
        first, retry, cold_s=25.0, spread_limit=limit, ledger_cap=0.618 * 3
    )
    assert rec["contaminated"] is True
    assert rec["kept"] == "retry"  # min of two contaminated medians
    assert rec["ledger_cap"] == round(0.618 * 3, 4)

    # Contention burst that clears: retry lands back under the cap.
    first = [23.0, 23.5, 24.0]
    clean = [0.55, 0.6, 0.65]
    chosen, rec = adjudicate_requeue(
        first, clean, cold_s=25.0, spread_limit=limit, ledger_cap=0.618 * 3
    )
    assert rec["contaminated"] is False and rec["kept"] == "retry"
    assert chosen == clean

    # No ledger row (new query): cap None, behavior unchanged from the
    # two-trigger rule; no ledger_cap key is recorded.
    first = [0.1, 0.11, 0.12]
    retry = [0.1, 0.11, 0.12]
    _chosen, rec = adjudicate_requeue(
        first, retry, cold_s=0.5, spread_limit=limit, ledger_cap=None
    )
    assert "ledger_cap" not in rec


def test_bench_load_ledger_parses_baseline_block():
    """load_ledger reads the generated BASELINE.md block: per-query rows
    at the requested sf, skipping the header and the total row; an
    absent block or file arms no trigger (empty dict)."""
    import bench

    led = bench.load_ledger(0.1)
    assert led, "expected the checked-in sf0.1 ledger to parse"
    assert "q1_delay" in led and all(v > 0 for v in led.values())
    assert "**total**" not in led and "query" not in led
    # a scale factor never recorded yields no rows, not garbage
    assert bench.load_ledger(123.0) == {}


def test_bench_wait_for_idle_gate():
    """VERDICT r10 item 6 + r11 item 6: the sweep start gate waits
    (bounded) for BOTH load1 and load5 to drop under their gates —
    load1 decays minutes before load5, and an early start poisons rows
    — records the wait, and proceeds anyway after wait_max so a driver
    sweep can't hang forever."""
    import bench

    # already idle: no sleeping at all
    sleeps = []
    l1, l5, waited = bench.wait_for_idle(
        2.0, 600, 2.5, load_fn=lambda: (0.5, 0.4), sleep_fn=sleeps.append
    )
    assert (l1, l5, waited, sleeps) == (0.5, 0.4, 0.0, [])

    # contended then clearing: waits in 15s steps until under the gate
    seq = iter([(9.0, 9.5), (6.0, 7.0), (3.0, 4.0), (1.2, 1.5)])
    l1, l5, waited = bench.wait_for_idle(
        2.0, 600, 2.5, load_fn=lambda: next(seq), sleep_fn=sleeps.append
    )
    assert (l1, l5, waited) == (1.2, 1.5, 45.0) and sleeps == [15.0] * 3

    # the r11 phantom-row regime: load1 already clean but load5 still
    # draining MUST keep the gate closed
    seq = iter([(1.7, 6.2), (1.5, 3.1), (1.4, 2.0)])
    l1, l5, waited = bench.wait_for_idle(
        2.0, 600, 2.5, load_fn=lambda: next(seq), sleep_fn=lambda s: None
    )
    assert (l1, l5, waited) == (1.4, 2.0, 30.0)

    # never clears: gives up at wait_max with the contended load visible
    l1, l5, waited = bench.wait_for_idle(
        2.0, 30, 2.5, load_fn=lambda: (8.8, 9.0), sleep_fn=lambda s: None
    )
    assert (l1, l5, waited) == (8.8, 9.0, 30.0)

    # default load5 gate derives from the load1 gate (1.25x)
    seq = iter([(0.5, 2.6), (0.5, 2.4)])
    l1, l5, waited = bench.wait_for_idle(
        2.0, 600, load_fn=lambda: next(seq), sleep_fn=lambda s: None
    )
    assert (l1, l5, waited) == (0.5, 2.4, 15.0)


def test_bench_load_ledger_reads_sf1_block_too():
    """ADVICE r10: the non-greedy single-search always matched the FIRST
    ledger block, so sf1 lookups returned {} and the ledger requeue
    trigger never armed during scale-point sweeps. load_ledger must now
    walk every LEDGER block in BASELINE.md."""
    import bench

    led1 = bench.load_ledger(1.0)
    assert led1, "expected the checked-in SF1_LEDGER block to parse"
    assert all(v > 0 for v in led1.values())
    # sf1 rows must come from the SF1 block, not leak from sf0.1
    led01 = bench.load_ledger(0.1)
    assert set(led1) <= set(led01)  # headline subset
    assert led1 != {k: led01[k] for k in led1}


def test_bench_round_tag_stamps_next_round_and_core_count(tmp_path, monkeypatch):
    """VERDICT r12 item 1: BENCH_FULL.json is overwritten every sweep, so
    no per-query map survived a round boundary and PERF_r12 diffed nothing
    (per_query: {}, null geomean). Full sweeps now ALSO persist a
    round+core-count-stamped copy; the stamp must be one past the newest
    driver-written BENCH_r{N}.json and must separate the driver's low-core
    scaling run from the 32-core map."""
    import bench

    monkeypatch.delenv("BENCH_ROUND", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    # fresh checkout with driver artifacts through round 12
    for n in (1, 11, 12):
        (tmp_path / f"BENCH_r{n:02d}.json").write_text("{}")
    assert bench.round_tag(str(tmp_path)) == "r13_c32"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    assert bench.round_tag(str(tmp_path)) == "r13_c8"
    # no driver artifacts at all (fresh repo): stamps round 1
    empty = tmp_path / "empty"
    empty.mkdir()
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert bench.round_tag(str(empty)) == "r01_c32"
    # explicit override wins (ledger tooling)
    monkeypatch.setenv("BENCH_ROUND", "7")
    assert bench.round_tag(str(tmp_path)) == "r07_c32"


def test_bench_stamped_artifact_is_never_overwritten(tmp_path, monkeypatch):
    """A stamped sweep artifact lands in the first free ``_k`` file
    instead of overwriting an earlier one (BENCH_FULL_r14_c8.json already
    holds r13's c8 sweep), and a non-integer BENCH_ROUND fails loudly."""
    import bench

    earlier = tmp_path / "BENCH_FULL_r14_c8.json"
    earlier.write_text("r13 c8 sweep")
    for want in ("BENCH_FULL_r14_c8_2.json", "BENCH_FULL_r14_c8_3.json"):
        with bench.open_unclaimed(str(tmp_path / "BENCH_FULL_r14_c8")) as f:
            f.write("{}")
        assert f.name == str(tmp_path / want)
    assert earlier.read_text() == "r13 c8 sweep"
    with bench.open_unclaimed(str(tmp_path / "BENCH_FULL_r15_c8")) as f:
        assert f.name == str(tmp_path / "BENCH_FULL_r15_c8.json")
    monkeypatch.setenv("BENCH_ROUND", "r14")
    with pytest.raises(ValueError, match="BENCH_ROUND"):
        bench.round_tag(str(tmp_path))
