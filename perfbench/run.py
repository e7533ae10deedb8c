"""Benchmark for modlyn_spark: point-in-time features and corpus curation.

Run from the repository root:

    python3 perfbench/run.py --workload pit_features --seed 1 --seconds 10 --trace 0

One run is one fresh process on ``local[k]``, k = min(SLOTS, cores
available), with the library's default session. It

1. generates the workload's inputs from ``--seed`` (perfbench/inputs.py),
   writes them once per content hash under ``.perfbench_cache/`` and fails
   with exit code 3 if they differ from their pinned hash;
2. computes the oracle answers (perfbench/oracles.py), untimed;
3. with ``--trace 0``: builds the session twice (the first is torn down
   with its JVM) and reports the median as ``setup_s`` (a setup takes
   ~11 s on a shared 4-core host, so a third would stretch a run well past
   a minute); runs a
   first pass (``first_pass_s``), then warm passes for ``--seconds``
   seconds (``rows_per_s`` = input rows / median pass seconds,
   ``pass_s.p90``);
   with ``--trace 1``: one setup, an untraced first pass and warm passes for
   half of ``--seconds``, then traced passes for the other half; reports the
   per-layer metrics (medians over traced passes) and the tracing overhead
   (median traced pass minus median untraced pass, both over the same timed
   segments of a pass; the checks and the standalone ``functions.text``
   call lie outside them), stamps each span's share of the traced pass
   (``self_share``) and writes every span to ``.perfbench_cache/traces/``.
   ``process.peak_rss_mb`` is the summed peak RSS of the driver, the JVM
   and the Python workers; it is a traced metric, not an end-to-end one,
   because G1 sizes the 8 GB-capped heap
   differently from run to run (a 14-28% quartile spread over five seeds on
   a shared 4-core host, wider than any bound);
4. checks every pass against the oracle; a failed or wrong pass counts in
   ``failed`` and makes the exit code 1.

The last stdout line is the JSON result; the lines before it name every
metric with its unit, the run's stamp (cores, k, input rows, seed, 1-minute
load average before and after, the share of CPU time stolen by other guests
of the host) and the error rate. ``--size tiny`` runs the same code on
inputs small enough for the benchmark's own tests.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")
SETUPS = 2
# Two executor slots: a pass runs ~50 small jobs and keeps fewer than one
# core busy on average, so on a 4-core host local[2] runs as fast as
# local[4] and leaves the driver JVM and Python two cores of their own.
SLOTS = 2

END_TO_END = {
    "setup_s": "s",
    "first_pass_s": "s",
    "rows_per_s": "rows/s",
    "pass_s.p90": "s",
}

# core set on every span; session and eval.jaccard run no data jobs worth
# the core set, so they keep only what they can move
CORE = ["wall_s", "self_s", "jobs", "tasks", "exec_cpu_s", "shuffle_write_bytes",
        "task_skew", "core_util"]
LAYER_SPANS = {
    "sources.scan": [m for m in CORE if m != "shuffle_write_bytes"],
    "operators.windows": CORE + ["spill_bytes"],
    "operators.asof": CORE + ["spill_bytes"],
    "sources.checkpoint.write": CORE,
    "sources.checkpoint.resume": CORE,
    "scoring.stats": CORE + ["python_s"],
    "scoring.logreg": CORE + ["python_s", "driver_s"],
    "scoring.wilcoxon": CORE + ["spill_bytes"],
    "eval.jaccard": ["wall_s"],
    "functions.text": CORE + ["python_s"],
    "operators.dedup": CORE + ["spill_bytes", "python_s"],
    "operators.connected_components": CORE + ["driver_s"],
    "plans.curation": CORE + ["driver_s"],
}
UNITS = {
    "wall_s": "s", "self_s": "s", "jobs": "count", "tasks": "count",
    "exec_cpu_s": "s", "shuffle_write_bytes": "bytes", "task_skew": "ratio",
    "core_util": "ratio", "spill_bytes": "bytes", "python_s": "s", "driver_s": "s",
}
EXTRAS = {
    "session.get_spark.wall_s": "s",
    "session.get_spark.driver_s": "s",
    "session.worker_warm_s": "s",
    "first_pass.compile_ms": "ms",
    "scoring.logreg.jobs_per_step": "ratio",
    "scoring.logreg.driver_gap_s": "s",
    "scoring.logreg.scan_yield": "ratio",
    "scoring.logreg.step_s.p50": "s",
    "scoring.logreg.step_s.p95": "s",
    "operators.dedup.verify_yield": "ratio",
    "operators.connected_components.rounds": "count",
    "sources.checkpoint.resume_s": "s",
    "sources.checkpoint.resume_yield": "ratio",
    "trace.overhead_s": "s",
    "process.peak_rss_mb": "MB",
}
PER_LAYER = {
    **{f"{span}.{m}": UNITS[m] for span, ms in LAYER_SPANS.items() for m in ms},
    **EXTRAS,
}


def _fail(msg: str, code: int) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return code


def _prepare_environment(k: int) -> None:
    """Keep every file the run writes inside the checkout."""
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(k)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # no console progress bars: stderr stays readable, nothing else changes
    os.environ["SPARK_GRAFT_CONF"] = "spark.ui.showConsoleProgress=false"
    # Python workers import the package by its path, like this process does
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def _cpu_ticks() -> list[int]:
    """The machine-wide "cpu" line of /proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal, ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _median(values: list[float]) -> float:
    """NaN when a failed pass left no samples (the run then exits 1)."""
    return statistics.median(values) if values else math.nan


def _percentile(values: list[float], q: int) -> float:
    if len(values) < 2:
        return _median(values)
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


class Session:
    """Builds and tears down sessions; teardown stops the JVM and waits."""

    def __init__(self):
        from modlyn_spark.session import get_spark

        self._get_spark = get_spark
        self.spark = None

    def build(self) -> float:
        t = time.perf_counter()
        self.spark = self._get_spark("perfbench")
        return time.perf_counter() - t

    def teardown(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def run(args) -> tuple[dict, dict]:
    from perfbench import inputs, oracles
    from perfbench.trace import (
        NullRecorder,
        Recorder,
        SparkCounters,
        covered_seconds,
        job_seconds,
        process_tree_peak_rss_mb,
    )
    from perfbench.workloads import WORKLOADS

    k = min(SLOTS, len(os.sched_getaffinity(0)))
    _prepare_environment(k)
    stamp = {
        "workload": args.workload,
        "seed": args.seed,
        "size": args.size,
        "nproc": os.cpu_count(),
        "k": k,
        "load1_before": os.getloadavg()[0],
    }
    ticks0 = _cpu_ticks()
    paths, tables, digest = inputs.materialize(args.workload, args.seed, args.size, CACHE)
    stamp["input_rows"] = {name: len(df) for name, df in tables.items()}
    stamp["input_sha256"] = digest
    if args.workload == "pit_features":
        oracle = oracles.pit_oracle(tables)
    else:
        oracle = oracles.curation_oracle(tables, args.seed)

    session = Session()
    metrics: dict[str, float] = {}
    attempted = failed = 0
    failures: list[str] = []
    workdir = os.path.join(CACHE, "work", f"{args.workload}-{os.getpid()}")
    try:
        setups = []
        n_setups = 1 if args.trace else SETUPS
        for _ in range(n_setups - 1):
            setups.append(session.build())
            session.teardown()
        rec_setup = time.perf_counter()
        setups.append(session.build())
        setup_wall = time.perf_counter() - rec_setup
        spark = session.spark
        counters = SparkCounters(spark)
        setup_jobs = counters.jobs()
        wl = WORKLOADS[args.workload](spark, counters, paths, tables, oracle, args.seed, workdir)

        def one_pass(rec, i, traced):
            nonlocal attempted, failed
            attempted += 1
            try:
                with rec.span("pass"):
                    out = wl.run_pass(rec, i, traced)
                bad = wl.check(out)
            except Exception:
                traceback.print_exc()
                failed += 1
                failures.append(f"pass {i}: raised")
                return None
            if bad:
                failed += 1
                failures.append(f"pass {i}: {', '.join(bad)}")
            return out

        compile0 = counters.compile_ms()
        first = one_pass(NullRecorder(), 0, False)
        compile_ms = counters.compile_ms() - compile0
        if first is not None:
            wl.cleanup(first)
        budget = args.seconds / 2 if args.trace else args.seconds
        passes, steps, resumes = [], [], []
        t_end = time.perf_counter() + budget
        i = 1
        while not passes or time.perf_counter() < t_end:
            out = one_pass(NullRecorder(), i, False)
            i += 1
            if out is None:
                break
            passes.append(out["seconds"])
            steps.extend(out.get("step_s", []))
            if "resume_s" in out:
                resumes.append(out["resume_s"])
            wl.cleanup(out)
        stamp["warm_passes"] = len(passes)

        if not args.trace:
            metrics = {
                "setup_s": statistics.median(setups),
                "first_pass_s": first["seconds"] if first else math.nan,
                "rows_per_s": wl.input_rows / _median(passes),
                "pass_s.p90": _percentile(passes, 90),
            }
            stamp["peak_rss_mb"] = process_tree_peak_rss_mb()
            stamp["setups_s"] = setups
            stamp["passes_s"] = passes
        else:
            rec = Recorder(counters, run_id=f"{args.workload}-{args.seed}-{os.getpid()}")
            traced, extras = [], []
            t_end = time.perf_counter() + budget
            while not traced or time.perf_counter() < t_end:
                rec.run_id = f"{args.workload}-{args.seed}-{os.getpid()}-pass{i}"
                out = one_pass(rec, i, True)
                i += 1
                if out is None:
                    break
                traced.append(out["seconds"])
                extras.append(wl.layer_extras(out))
                wl.cleanup(out)
            metrics = _layer_metrics(rec, extras)
            warm = [j for j in setup_jobs if j.get("completionTime")]
            metrics["session.get_spark.wall_s"] = setup_wall
            metrics["session.worker_warm_s"] = sum(job_seconds(j) for j in warm)
            metrics["session.get_spark.driver_s"] = max(
                setup_wall - covered_seconds(
                    [(j["submissionTime"], j["completionTime"]) for j in warm]
                ),
                0.0,
            )
            metrics["first_pass.compile_ms"] = float(compile_ms)
            if steps:
                metrics["scoring.logreg.step_s.p50"] = statistics.median(steps)
                metrics["scoring.logreg.step_s.p95"] = _percentile(steps, 95)
            if resumes:
                metrics["sources.checkpoint.resume_s"] = statistics.median(resumes)
            metrics["trace.overhead_s"] = _median(traced) - _median(passes)
            metrics["process.peak_rss_mb"] = process_tree_peak_rss_mb()
            stamp["traced_passes"] = len(traced)
            stamp["step_samples"] = len(steps)
            stamp["nonrepeating_counters"] = _nonrepeating(rec)
            stamp["self_share"] = _self_shares(rec)
            trace_path = os.path.join(CACHE, "traces", f"{rec.run_id.rsplit('-pass', 1)[0]}.json")
            rec.dump(trace_path)
            stamp["trace_file"] = os.path.relpath(trace_path, ROOT)
            metrics = {name: metrics.get(name, 0.0) for name in PER_LAYER}
    finally:
        session.teardown()
        shutil.rmtree(workdir, ignore_errors=True)
    stamp["load1_after"] = os.getloadavg()[0]
    # share of CPU time the hypervisor gave to other guests during the run
    ticks = [b - a for a, b in zip(ticks0, _cpu_ticks())]
    stamp["steal_share"] = round(ticks[7] / max(sum(ticks[:8]), 1), 4)
    stamp["failures"] = failures
    result = {
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    return result, stamp


def _spans_by_pass(rec) -> dict[str, dict[str, list]]:
    out: dict[str, dict[str, list]] = {}
    for sp in rec.spans:
        out.setdefault(sp.run_id, {}).setdefault(sp.name, []).append(sp)
    return out


def _layer_metrics(rec, extras: list[dict]) -> dict:
    """Per pass, sum each span name's counters; then the median over passes."""
    per_pass = []
    for spans in _spans_by_pass(rec).values():
        row = {}
        for name, group in spans.items():
            if name not in LAYER_SPANS:
                continue
            row[f"{name}.wall_s"] = sum(s.wall_s for s in group)
            row[f"{name}.self_s"] = sum(rec.self_seconds(s) for s in group)
            for m in LAYER_SPANS[name]:
                if m in ("wall_s", "self_s"):
                    continue
                vals = [s.counters.get(m, 0.0) for s in group]
                row[f"{name}.{m}"] = max(vals) if m in ("task_skew", "core_util") else sum(vals)
        per_pass.append(row)
    for row, extra in zip(per_pass, extras):
        row.update(extra)
    keys = {k for row in per_pass for k in row}
    return {k: statistics.median(row.get(k, 0.0) for row in per_pass) for k in keys}


def _self_shares(rec) -> dict[str, float]:
    """Each span name's share of the traced pass wall time (self seconds,
    medians over passes); "pass" is the time no layer span covers."""
    shares = []
    for spans in _spans_by_pass(rec).values():
        wall = spans["pass"][0].wall_s
        shares.append({n: sum(rec.self_seconds(s) for s in g) / wall for n, g in spans.items()})
    names = {n for row in shares for n in row}
    return {n: round(statistics.median(r.get(n, 0.0) for r in shares), 3) for n in sorted(names)}


EXACT = ("jobs", "tasks", "shuffle_write_bytes", "input_records", "stages")


def _nonrepeating(rec) -> list[str]:
    """Exact counters that differed between traced passes of this run."""
    seen: dict[str, set] = {}
    for spans in _spans_by_pass(rec).values():
        for name, group in spans.items():
            for m in EXACT:
                seen.setdefault(f"{name}.{m}", set()).add(
                    sum(s.counters.get(m, 0) for s in group)
                )
    return sorted(k for k, v in seen.items() if len(v) > 1)


def report(result: dict, values: dict, stamp: dict, units: dict) -> None:
    """The human-readable lines before the JSON result."""
    print(f"perfbench stamp: {json.dumps(stamp, sort_keys=True)}")
    attempted = result["attempted"]
    print(f"  error_rate = {result['failed'] / max(attempted, 1):.4f} "
          f"({result['failed']} failed of {attempted} passes)")
    for name, unit in units.items():
        print(f"  {name} = {values[name]:.6g} {unit}")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["pit_features", "corpus_curation"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["full", "tiny"], default="full")
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "modlyn_spark")):
        return _fail(f"no modlyn_spark package next to {os.path.basename(HERE)}/", 2)
    sys.path.insert(0, ROOT)
    from perfbench.inputs import InputMismatch

    try:
        result, stamp = run(args)
    except InputMismatch as e:
        return _fail(f"input changed: {e}", 3)
    units = PER_LAYER if args.trace else END_TO_END
    values = result.pop("metrics")
    report(result, values, stamp, units)
    result["metrics"] = {name: {"value": values[name], "unit": unit} for name, unit in units.items()}
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
