"""Self-test of the span arithmetic and the event-log fold (no Spark).

    python3 perfbench/selftest.py

The fixture ``fixtures/eventlog.jsonl`` is a hand-written Spark event log:
one inference job under a ``sources.read`` span, one eager job under a
``plans.build`` span (with Python-worker time that must not count toward
``operators.*``), two overlapping jobs under an ``exec.action`` span
(one task of which reports a Python init time above its own wall time),
and one job with no benchmark job group.
"""

from __future__ import annotations

import math
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from spans import Span, Tracer, fold_events, layer_metrics, self_times, union_length  # noqa: E402


def close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)


def test_union_length() -> None:
    assert union_length([]) == 0.0
    assert union_length([(5, 6), (0, 2), (1, 3)]) == 4.0
    assert union_length([(0, 10), (2, 3)]) == 10.0


def _fixture_spans() -> list[Span]:
    # pass ⊃ query ⊃ (plans.build ⊃ sources.read, exec.action); seconds
    return [
        Span(0, "pass", None, 0.0, 10.0),
        Span(1, "query", 0, 0.0, 10.0),
        Span(2, "plans.build", 1, 0.5, 3.5),
        Span(3, "sources.read", 2, 1.0, 2.0),
        Span(4, "exec.action", 1, 3.5, 9.5),
    ]


def test_self_times() -> None:
    own = self_times(_fixture_spans())
    assert close(own[0], 0.0)  # the query covers the whole pass
    assert close(own[1], 1.0)  # 10 - build 3 - action 6
    assert close(own[2], 2.0)  # build 3 minus its read 1
    assert close(own[3], 1.0)
    assert close(own[4], 6.0)


def test_tracer_nesting_and_groups() -> None:
    groups: list = []
    t = Tracer(groups.append)
    with t.span("pass"):
        pass  # inactive: records nothing, sets no group
    assert t.spans == [] and groups == []
    t.active = True
    with t.span("pass"):
        with t.span("plans.build"):
            pass
    assert [(s.layer, s.parent) for s in t.spans] == [("pass", None), ("plans.build", 0)]
    assert groups == ["perfbench-0", "perfbench-1", "perfbench-0", None]


def test_fold() -> None:
    with open(os.path.join(HERE, "fixtures", "eventlog.jsonl")) as f:
        jobs, rejected = fold_events(f)
    assert sorted(jobs) == [0, 1, 2, 3, 4]
    assert [jobs[j].group for j in range(5)] == [3, 2, 4, 4, None]
    j2 = jobs[2]
    assert (j2.stages, j2.tasks, j2.tasks_failed) == (2, 3, 1)
    assert close(j2.counters["cpu_ms"], 1600.0)
    assert j2.counters["shuffle_write_bytes"] == 1500
    assert j2.counters["shuffle_read_bytes"] == 1500
    assert j2.counters["spill_bytes"] == 64
    # the 5000 ms init time of a 990 ms task is dropped, the 10 ms one kept
    assert rejected == {"python_init_ms": 1}
    assert j2.counters["python_init_ms"] == 10
    assert j2.counters["python_run_ms"] == 1300

    m = layer_metrics(_fixture_spans(), jobs, n_passes=1)
    assert m["sources.read_calls"] == 1 and m["sources.read_jobs"] == 1
    assert close(m["sources.read_s"], 1.0)
    assert m["plans.build_jobs"] == 1
    assert close(m["plans.build_s"], 2.0)
    assert close(m["exec.action_s"], 6.0)
    assert (m["exec.jobs"], m["exec.stages"], m["exec.tasks"], m["exec.tasks_failed"]) == (2, 3, 4, 1)
    assert close(m["exec.task_run_s"], (900 + 1000 + 790 + 1470) / 1e3)
    assert close(m["exec.task_cpu_s"], 2.6)
    assert close(m["exec.gc_s"], 0.02)
    # jobs 2 and 3 cover 4000..7000 ms: 3 s of the 6 s action
    assert close(m["exec.driver_residual_s"], 3.0)
    # Python time of the build job stays out: operators.* and exec.* cover
    # the same (action) jobs, so their ratio compares like with like
    assert jobs[1].counters["python_run_ms"] == 300
    assert close(m["operators.python_run_s"], 1.3)
    assert m["operators.python_bytes_in"] == 111
    assert m["operators.python_bytes_out"] == 222
    # the ungrouped job's shuffle bytes never reach a layer
    assert m["exec.shuffle_write_bytes"] == 1500
    # per-pass averaging
    half = layer_metrics(_fixture_spans(), jobs, n_passes=2)
    assert close(half["exec.action_s"], 3.0)


def main() -> int:
    tests = [v for k, v in sorted(globals().items()) if k.startswith("test_")]
    for t in tests:
        t()
        print(f"ok {t.__name__}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
