"""The repo benchmark: one closed-loop client on ``local[nproc]``.

    python3 perfbench/run.py --workload codec_udf --seed 1 \\
        --seconds 15 --trace 0

Per run it starts one fresh Spark session (``session.get_spark``), runs
one cold pass over the workload's fixed step list, then an untimed check
of each step's output against DuckDB (row count plus an order-insensitive
hash) and one untimed warm-up pass, then timed warm passes in a
seed-permuted order until ``--seconds`` have passed. Each step is timed from the outside in two parts: the call
into the query builder and a full-materialization action (the ``noop``
sink, or the workload's own sink).

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` turns on
Spark's event log and alternates warm passes with and without layer
spans (see ``spans.py``), then prints the per-layer metrics and the
traced-vs-untraced overhead.

``codec_udf`` reads ``data/sf0.01/documents.parquet``, a copy of the
repo's sf0.01 test table. The CAA CSV is generated from the seed under
``.perfbench/`` (see ``datagen.py``), and the DuckDB answers for the
workload's steps are computed, before the session starts, outside every
timed region. The last stdout line is the JSON result; the lines above it
are a readable summary and the run's stamp.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)
# local[nproc] with nproc shuffle partitions; session.py reads this at import.
os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))

# The program under test. Without it the benchmark must fail, not pass.
from analysis_of_flight_delay_data_by_mapreduce_spark import sources  # noqa: E402
from analysis_of_flight_delay_data_by_mapreduce_spark.plans import flight_queries  # noqa: E402
from analysis_of_flight_delay_data_by_mapreduce_spark.plans import synthetic  # noqa: E402
from analysis_of_flight_delay_data_by_mapreduce_spark.session import get_spark  # noqa: E402

import oracle  # noqa: E402
from spans import Tracer, fold_events, layer_metrics  # noqa: E402

PACKAGE = "analysis_of_flight_delay_data_by_mapreduce_spark"

WORKLOADS = {
    "codec_udf": (
        "multimodal_jpeg_decode_check multimodal_gif_decode_check "
        "multimodal_mp4_meta_check multimodal_png_decode_check"
    ).split(),
    "caa_csv_etl": ["caa_ingest", "caa_q1_delay", "caa_q2_late"],
}
#: Steps that are not queries: their time counts in the passes but not in
#: ``query_p50_s``. A pass of ``caa_csv_etl`` is one ~3.5 s ingest and two
#: ~0.8 s queries, so a pooled median over all three would sit in the tail
#: of the queries.
NOT_QUERIES = {"caa_ingest"}
#: Rows of the generated CAA CSV.
CAA_ROWS = 1_000_000
#: Timed warm passes a run makes even when ``--seconds`` is already used up.
MIN_WARM_PASSES = 3
#: The tables ``codec_udf`` reads (only ``documents``).
TABLES = os.path.join(HERE, "data", "sf0.01")


# ---------------------------------------------------------------------------
# Environment
# ---------------------------------------------------------------------------
def _configure_env() -> dict[str, str]:
    """Point every scratch location of Spark, the JVM and the Python
    workers into the checkout, and return the session conf to add.

    Only scratch locations are set; the package's own memory and JVM
    settings stand. ``-XX:-UsePerfData`` only stops the JVM from writing
    its monitoring file under ``/tmp`` (whatever ``java.io.tmpdir`` says).
    """
    for d in ("tmp", "spark-local", "warehouse", "derby", "events"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    return {
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Dderby.system.home={os.path.join(WORK, 'derby')} -Djava.io.tmpdir={tmp}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }


def _steal_jiffies() -> int:
    """CPU time the hypervisor gave to others so far, from ``/proc/stat``."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def _stamp(seed: int) -> dict:
    import pyspark

    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True
        ).stdout.strip() or None
    digest = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(ROOT, PACKAGE, "**", "*.py"), recursive=True)):
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    return {
        "commit": commit,
        "source_sha256": digest.hexdigest()[:16],
        "seed": seed,
        "nproc": len(os.sched_getaffinity(0)),
        "load1_start": os.getloadavg()[0],
        "steal_start": _steal_jiffies(),
        "spark": pyspark.__version__,
        "python": sys.version.split()[0],
    }


class RssSampler(threading.Thread):
    """Summed RSS of this process's descendants (the driver JVM and its
    Python workers), read from ``/proc`` every 500 ms (not more often: the
    sampler shares the client's interpreter); ``take_peak`` returns the
    peak since its previous call."""

    def __init__(self):
        super().__init__(daemon=True)
        self._peak_kb = 0
        self._lock = threading.Lock()
        self._done = threading.Event()

    @staticmethod
    def _sample() -> int:
        parent, rss = {}, {}
        for stat in glob.glob("/proc/[0-9]*/stat"):
            try:
                with open(stat) as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                pid = int(stat.split("/")[2])
                parent[pid] = int(fields[1])
                rss[pid] = int(fields[21]) * os.sysconf("SC_PAGE_SIZE") // 1024
            except (OSError, IndexError, ValueError):
                continue
        me, total = os.getpid(), 0
        for pid in rss:
            p = parent.get(pid)
            while p and p != me:
                p = parent.get(p)
            if p == me:
                total += rss[pid]
        return total

    def run(self):
        while not self._done.wait(0.5):
            kb = self._sample()
            with self._lock:
                self._peak_kb = max(self._peak_kb, kb)

    def take_peak(self) -> float:
        """Peak MB since the previous call."""
        kb = self._sample()
        with self._lock:
            peak, self._peak_kb = max(self._peak_kb, kb), 0
        return peak / 1024.0

    def stop(self) -> None:
        self._done.set()
        self.join()


# ---------------------------------------------------------------------------
# Steps: (build, action, check) per workload step
# ---------------------------------------------------------------------------
class Steps:
    """The workload's steps bound to one session and its inputs."""

    def __init__(self, spark, workload: str, inputs: dict):
        self.spark = spark
        self.inputs = inputs
        self.names = WORKLOADS[workload]

    def build(self, name: str):
        if name.startswith("caa_"):
            caa = self.inputs
            if name == "caa_ingest":
                return sources.read_flight_csv(self.spark, caa["csv"])
            flights = sources.read_parquet_table(self.spark, caa["out"], "flights")
            q = flight_queries.q1_delay if name == "caa_q1_delay" else flight_queries.q2_late
            return q(flights)
        return synthetic.QUERIES[name](self.spark, TABLES)

    def action(self, name: str, df) -> None:
        if name == "caa_ingest":
            sources.write_parquet(df, os.path.join(self.inputs["out"], "flights.parquet"))
        elif name.startswith("caa_"):
            sources.write_tsv(df, os.path.join(self.inputs["out"], name))
        else:
            df.write.format("noop").mode("overwrite").save()

    def check(self, name: str) -> str | None:
        """``None`` if the step's output matches the oracle, else why not."""
        if name == "caa_ingest":
            got = oracle.parquet_fingerprint(os.path.join(self.inputs["out"], "flights.parquet"))
            want = self.inputs["oracle"]["ingest"]
            return None if got == want else f"ingest {got} != {want}"
        df = self.build(name)
        got = list(oracle.table_hash([tuple(r) for r in df.collect()], list(df.columns)))
        want = self.inputs["oracle"][name]
        if got != want:
            return f"{name} (rows, hash) {got} != {want}"
        if name.startswith("caa_"):
            lines = oracle.tsv_rows(os.path.join(self.inputs["out"], name))
            if lines != got[0]:
                return f"{name} tsv has {lines} rows, result has {got[0]}"
        return None


# ---------------------------------------------------------------------------
# Inputs and their answers (made before the session starts)
# ---------------------------------------------------------------------------
def _prepare_inputs(workload: str, seed: int) -> dict:
    if workload == "caa_csv_etl":
        return oracle.caa_inputs(os.path.join(WORK, "caa"), seed, CAA_ROWS)
    return {"oracle": oracle.table_answers(TABLES, WORKLOADS[workload])}


# ---------------------------------------------------------------------------
# Tracing hooks
# ---------------------------------------------------------------------------
def _install_source_spans(tracer: Tracer) -> None:
    """Wrap the ``sources`` entry points the workloads reach, in every
    package module that imported them, with a span of their layer."""
    import functools

    def wrap(fn, layer, sink=False):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(layer) as s:
                out = fn(*args, **kwargs)
                if sink and s is not None:
                    s.attrs.update(oracle.dir_size(args[1]))
                return out
        return traced

    targets = {
        sources.read_parquet_table: wrap(sources.read_parquet_table, "sources.read"),
        sources.read_flight_csv: wrap(sources.read_flight_csv, "sources.csv_read"),
        sources.write_parquet: wrap(sources.write_parquet, "sources.write", sink=True),
        sources.write_tsv: wrap(sources.write_tsv, "sources.write", sink=True),
    }
    for name, mod in list(sys.modules.items()):
        if mod is None or not (name == PACKAGE or name.startswith(PACKAGE + ".")):
            continue
        for attr, val in list(vars(mod).items()):
            if callable(val) and val in targets:
                setattr(mod, attr, targets[val])


# ---------------------------------------------------------------------------
# The run
# ---------------------------------------------------------------------------
def _failure(exc: Exception) -> str:
    """A one-line summary, then the traceback."""
    first = (str(exc).strip().splitlines() or [""])[0][:300]
    return f"{type(exc).__name__}: {first}\n{traceback.format_exc()}"


def _run_pass(steps: Steps, order: list[str], tracer: Tracer, execs: list) -> float:
    """One pass over ``order``; appends ``(name, seconds, error or None)``
    per step execution."""
    t0 = time.perf_counter()
    with tracer.span("pass"):
        for name in order:
            with tracer.span("query", name=name):
                a, error = time.perf_counter(), None
                try:
                    with tracer.span("plans.build"):
                        df = steps.build(name)
                    with tracer.span("exec.action"):
                        steps.action(name, df)
                except Exception as exc:  # counted as a failure, never fatal
                    error = _failure(exc)
                execs.append((name, time.perf_counter() - a, error))
    return time.perf_counter() - t0


def _check_pass(steps: Steps) -> dict[str, str | None]:
    """Check each step's output once, untimed: ``None`` per step if it
    matched, else why not. It runs after the cold pass and before the
    timed warm passes, so it is also part of the JIT's warm-up."""
    checks = {}
    for name in steps.names:
        try:
            checks[name] = steps.check(name)
        except Exception as exc:  # counted as a failure, never fatal
            checks[name] = _failure(exc)
    return checks


def run(workload: str, seed: int, seconds: float, traced: bool) -> dict:
    t_start = time.perf_counter()
    conf = _configure_env()
    stamp = _stamp(seed)
    inputs = _prepare_inputs(workload, seed)
    event_dir = os.path.join(WORK, "events", f"{workload}-{seed}-{os.getpid()}")
    if traced:
        shutil.rmtree(event_dir, ignore_errors=True)
        os.makedirs(event_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })

    rss = RssSampler()
    rss.start()
    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{workload}", extra_conf=conf)
    setup_s = time.perf_counter() - t0
    try:
        sc = spark.sparkContext
        tracer = Tracer(lambda g: sc.setLocalProperty("spark.jobGroup.id", g))
        if traced:
            _install_source_spans(tracer)
        steps = Steps(spark, workload, inputs)
        untimed: list = []
        cold_pass_s = _run_pass(steps, steps.names, tracer, untimed)
        t0 = time.perf_counter()
        checks = _check_pass(steps)
        check_pass_s = time.perf_counter() - t0
        # One more untimed pass: the check runs no sink, and without this
        # pass the first timed pass of caa_csv_etl (ingest and all) was
        # still 15-30% slower than the ones after it.
        _run_pass(steps, steps.names, tracer, untimed)

        # Closed loop: the next pass starts when the previous one ends. A
        # traced run interleaves untraced and traced passes as U T T U U T T
        # U ..., and stops after a whole U T T U block, so a drift over the
        # run (JIT warm-up) cancels out of the overhead.
        rng = random.Random(seed)
        # executions and pass times of the untraced (False) and traced passes
        warm: dict[bool, list] = {False: [], True: []}
        passes: dict[bool, list[float]] = {False: [], True: []}
        rss_peaks: list[float] = []
        deadline = time.perf_counter() + seconds
        rss.take_peak()
        n = 0
        while n < MIN_WARM_PASSES or time.perf_counter() < deadline or (traced and n % 4):
            tracer.active = traced and n % 4 in (1, 2)
            n += 1
            order = rng.sample(steps.names, len(steps.names))
            passes[tracer.active].append(_run_pass(steps, order, tracer, warm[tracer.active]))
            rss_peaks.append(rss.take_peak())
        tracer.active = False
    finally:
        rss.stop()
        spark.stop()
        _stop_jvm()
    stamp["load1_end"] = os.getloadavg()[0]
    # share of the machine's CPU time taken by the hypervisor during the run
    busy = time.perf_counter() - t_start
    stamp["steal_share"] = round(
        (_steal_jiffies() - stamp.pop("steal_start"))
        / (os.sysconf("SC_CLK_TCK") * os.cpu_count() * busy), 4
    )

    execs = untimed + warm[False] + warm[True]
    qt = sorted(t for n, t, _ in warm[False] if n not in NOT_QUERIES)
    errors = [f"{n}: {e}" for n, _, e in execs if e]
    errors += [f"{n}: output check: {why}" for n, why in checks.items() if why]
    result = {
        "workload": workload,
        "stamp": stamp,
        "errors": errors,
        "attempted": len(execs),
        # an execution fails if it raised or if its step's output is wrong
        "failed": sum(1 for n, _, e in execs if e or checks[n]),
        "executions": [(n, round(t, 4)) for n, t, _ in execs],
    }
    if not traced:
        result["metrics"] = {
            "setup_s": (setup_s, "s"),
            "warm_pass_s": (statistics.median(passes[False]), "s"),
        }
        result["info"] = {
            # no bound on these two: see README.md
            "cold_pass_s": round(cold_pass_s, 4),
            "query_p50_s": round(statistics.median(qt), 4),
            "check_pass_s": round(check_pass_s, 4),
            # printed, not a bounded metric: it follows the JVM's heap
            # growth under the package's heap setting, which varies by run
            "peak_rss_mb": round(statistics.median(rss_peaks), 1),
            "warm_passes": [round(x, 4) for x in passes[False]],
            "warm_executions": len(qt),
            "query_tail_s": _tail(qt),
            "failed_ratio": result["failed"] / len(execs),
        }
    else:
        result["metrics"] = _traced_metrics(tracer, event_dir, passes, setup_s, cold_pass_s, qt)
        result["spans"] = [vars(sp) for sp in tracer.spans]
    return result


def _stop_jvm() -> None:
    """End the JVM this process launched and wait for it (it exits when
    its stdin closes), so nothing the run started outlives it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _tail(times: list[float]) -> dict | None:
    """The highest whole percentile with at least ten executions above it."""
    p = 100 * (len(times) - 10) // len(times) if len(times) > 10 else 0
    if p <= 50:
        return None
    return {"percentile": p, "value": statistics.quantiles(times, n=100)[p - 1], "n": len(times)}


def _traced_metrics(
    tracer: Tracer, event_dir: str, passes: dict, setup_s: float, cold_pass_s: float,
    query_times: list[float],
) -> dict:
    (log,) = [p for p in glob.glob(os.path.join(event_dir, "*")) if os.path.isfile(p)]
    with open(log) as f:
        jobs, rejected = fold_events(f)
    shutil.rmtree(event_dir)
    per_layer = layer_metrics(tracer.spans, jobs, len(passes[True]))
    traced_s = statistics.median(passes[True])
    untraced_s = statistics.median(passes[False])
    metrics = {
        "session.get_spark_s": (setup_s, "s"),
        "cold_pass_s": (cold_pass_s, "s"),
        # over the untraced warm passes only
        "query_p50_s": (statistics.median(query_times), "s"),
    }
    for key, unit in UNITS.items():
        if key.startswith(("sources.", "plans.", "exec.", "operators.")):
            metrics[key] = (per_layer.get(key, 0.0), unit)
    run_s = per_layer.get("exec.task_run_s", 0.0)
    python_s = per_layer.get("operators.python_run_s", 0.0)
    metrics.update({
        "operators.python_share": (python_s / run_s if run_s else 0.0, "ratio"),
        "fold.rejected_task_metrics": (float(sum(rejected.values())), "count"),
        "trace.traced_pass_s": (traced_s, "s"),
        "trace.untraced_pass_s": (untraced_s, "s"),
        "trace.overhead": (traced_s / untraced_s - 1.0, "ratio"),
    })
    return metrics


#: Units of the per-layer metrics reported by a traced run.
UNITS = {
    "sources.read_calls": "count",
    "sources.read_s": "s",
    "sources.read_jobs": "count",
    "sources.csv_read_s": "s",
    "sources.write_s": "s",
    "sources.write_bytes": "bytes",
    "sources.write_files": "count",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "exec.action_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.tasks_failed": "count",
    "exec.task_cpu_s": "s",
    "exec.task_run_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.driver_residual_s": "s",
    "operators.python_run_s": "s",
    "operators.python_bytes_in": "bytes",
    "operators.python_bytes_out": "bytes",
}


#: What a traced run of each workload must show about the layer it stresses.
STRESS = {
    "codec_udf": (
        "operators.python_run_s is most of exec.task_run_s",
        lambda m: m["operators.python_share"] > 0.5,
    ),
    "caa_csv_etl": ("sources.write_bytes > 0", lambda m: m["sources.write_bytes"] > 0),
}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    res = run(args.workload, args.seed, args.seconds, bool(args.trace))
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{args.workload}-{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(res, f, indent=1, default=list)

    print(f"# {res['workload']} stamp {json.dumps(res['stamp'])}")
    for k, (v, unit) in res["metrics"].items():
        print(f"# {k:32s} {v:14.6f} {unit}")
    for k, v in res.get("info", {}).items():
        print(f"# {k:32s} {v}")
    if args.trace:
        what, holds = STRESS[args.workload]
        values = {k: v for k, (v, _) in res["metrics"].items()}
        print(f"# stress check: {what}: {'yes' if holds(values) else 'NO'}")
    for e in res["errors"]:
        print(f"# FAILED {e.splitlines()[0]}")
    print(json.dumps({
        "correct": not res["errors"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in res["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
