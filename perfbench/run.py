"""Run one benchmark workload in this fresh process and print its metrics.

    python3 perfbench/run.py --workload corpus_dedup --seed 1 --seconds 15 --trace 0

Run it from the root of a checkout: it imports the engine package that
sits next to ``perfbench/``. It makes its inputs from ``--seed`` under
``perfbench/.work``, starts the engine's session at ``local[<cpus>]``,
runs the workload's passes one after another from a single client for
at least ``--seconds`` seconds (always at least one whole pass), checks
the outputs, and prints as the last line of stdout one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` spans and
Spark's own counters are recorded and the metrics are the per-layer
ones. A human-readable summary goes to stderr, and a full report
(passes, steps, spans, checks) to ``perfbench/.work/results``.

Exit code: 0 when every check passed, 1 when any check or step failed
(the JSON line is still printed), 2 when the engine cannot be imported.
"""

from __future__ import annotations

import time

_T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")


def _configure_environment() -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    ``perfbench/.work``, and size the session to this process's CPUs."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    # the launcher JVM spark-submit starts first takes its options here
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--conf", f"spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
        "--conf", "spark.ui.showConsoleProgress=false",
        "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "pyspark-shell",
    ])
    sys.path[:0] = [ROOT, HERE]


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


class Run:
    """State of one run: spans, counters, checks and per-pass records.

    Workloads call ``step``/``span`` around every engine call, and
    ``check`` for every correctness check. Counters are read only when
    tracing.
    """

    def __init__(self, spark, traced: bool) -> None:
        from sparkstats import SparkCounters
        from spans import NoTracer, Tracer

        self.spark = spark
        self.traced = traced
        self.tracer = Tracer() if traced else NoTracer()
        self.counters = SparkCounters(spark) if traced else None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.steps: list[dict] = []
        self.storage_peak = 0
        self.persisted_after = 0
        self.written: list[int] = []

    def span(self, name: str):
        return self.tracer.span(name)

    @contextlib.contextmanager
    def step(self, name: str):
        self.attempted += 1
        before = self.snapshot()
        t0 = time.perf_counter()
        try:
            with self.span(f"step.{name}"):
                yield
        except Exception:
            self.failed += 1
            self.failures.append(f"step {name}: {traceback.format_exc()}")
            raise
        record = {"pass": self.tracer.pass_id, "step": name,
                  "seconds": time.perf_counter() - t0}
        after = self.snapshot()
        if after is not None:
            record["counts"] = {k: after[k] - before[k] for k in after}
        self.steps.append(record)

    def snapshot(self) -> dict | None:
        if not self.traced:
            return None
        with self.span("trace.counters"):
            return self.counters.snapshot()

    def check(self, name: str, error: str | None) -> None:
        self.attempted += 1
        if error is not None:
            self.failed += 1
            self.failures.append(f"check {name}: {error}")

    def sample_storage(self) -> None:
        if self.traced:
            with self.span("trace.storage"):
                self.storage_peak = max(self.storage_peak,
                                        self.counters.storage_bytes())

    def after_cleanup(self) -> None:
        if self.traced:
            with self.span("trace.cache"):
                self.persisted_after = max(self.persisted_after,
                                           self.counters.persisted_rdds())

    def bytes_written(self, n: int) -> None:
        self.written.append(n)


def _median(values):
    return statistics.median(values) if values else 0.0


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM the client launched, and wait
    for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="tiny inputs, for the self-test only")
    args = ap.parse_args(argv)

    _configure_environment()
    try:
        from bigdata_spark_assignment_spark.session import get_session
        from proctree import tree_usage
        from sparkstats import covered_seconds
        from workloads import WORKLOADS
    except ImportError as exc:
        log(f"perfbench: cannot import the engine from {ROOT}: {exc}")
        return 2
    if args.workload not in WORKLOADS:
        log(f"perfbench: unknown workload {args.workload!r}; "
            f"choose from {sorted(WORKLOADS)}")
        return 2
    import_s = time.perf_counter() - _T_PROCESS

    workload = WORKLOADS[args.workload](WORK, args.seed, args.tiny)

    t0 = time.perf_counter()
    spark = get_session(app_name=f"perfbench-{args.workload}")
    session_start_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    spark.range(1).count()
    first_job_s = time.perf_counter() - t0

    run = Run(spark, traced=bool(args.trace))
    passes: list[dict] = []
    rss = 0
    setup_s = 0.0
    try:
        run.check("inputs.same_seed_same_inputs", workload.make_inputs(spark))
        workload.compute_oracles()
        warm_s = 0.0
        if workload.warm_pass:
            t0 = time.perf_counter()
            with run.span("setup.warm_pass"):
                workload.run_pass(run, check=True)
            warm_s = time.perf_counter() - t0
        setup_s = import_s + session_start_s + first_job_s + warm_s

        t_measure = time.perf_counter()
        while not passes or time.perf_counter() - t_measure < args.seconds:
            # pass-level counters are read outside the pass's spans
            before = run.counters.snapshot() if run.traced else None
            cpu0, _ = tree_usage()
            run.tracer.pass_id = len(passes)
            wall0, t0 = time.time(), time.perf_counter()
            with run.span("pass"):
                workload.run_pass(run)
            seconds = time.perf_counter() - t0
            wall1 = time.time()
            run.tracer.pass_id = -1
            cpu1, hwm = tree_usage()
            rss = max(rss, hwm)
            record = {"pass": len(passes), "seconds": seconds,
                      "cpu_s": cpu1 - cpu0}
            if run.traced:
                after = run.counters.snapshot()
                counts = {k: after[k] - before[k] for k in after}
                jobs = run.counters.job_intervals(before["jobs"], after["jobs"])
                record["counts"] = counts
                record["no_job_s"] = seconds - covered_seconds(jobs, wall0, wall1)
            passes.append(record)
        workload.final_checks(run)
    except Exception:
        log(traceback.format_exc())
        if not run.failures:
            run.attempted += 1
            run.failed += 1
            run.failures.append(traceback.format_exc())
    finally:
        _stop_spark(spark)

    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    pass_s = _median([p["seconds"] for p in passes])
    cpu_s = _median([p["cpu_s"] for p in passes])
    if args.trace:
        # a span's layer is the part of its name before the first dot
        layer_self = _self_times_by(run.tracer, len(passes),
                                    lambda name: name.split(".", 1)[0])
        metrics = _per_layer(run, passes, cores, layer_self)
        metrics["session.start_s"] = (session_start_s, "s")
        metrics["session.first_job_s"] = (first_job_s, "s")
        metrics["memory.peak_rss_mb"] = (rss / 1e6, "MB")
    else:
        metrics = {
            "pass_cpu_s": (cpu_s, "s"),
            "rows_per_cpu_s": (workload.rows_per_pass / cpu_s if cpu_s else 0.0,
                               "rows/cpu-s"),
            "setup_s": (setup_s, "s"),
        }
    correct = run.failed == 0 and bool(passes)
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "tiny": args.tiny, "cores": cores,
        "correct": correct, "attempted": run.attempted, "failed": run.failed,
        "fail_ratio": run.failed / max(run.attempted, 1),
        "pass_s": pass_s,
        "failures": run.failures,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "passes": passes, "steps": run.steps,
        "bytes_written": run.written,
    }
    if args.trace:
        report["layer_self_s"] = layer_self
        report["span_self_s"] = _self_times_by(run.tracer, len(passes),
                                               lambda name: name)
    _write_report(report, run)
    _summarise(report)
    print(json.dumps({
        "correct": correct, "attempted": run.attempted, "failed": run.failed,
        "metrics": report["metrics"]}), flush=True)
    return 0 if correct else 1


def _per_layer(run: Run, passes: list[dict], cores: int,
               layer_self: dict[str, float]) -> dict:
    def med(key):
        return _median([p["counts"][key] for p in passes])

    pass_s = _median([p["seconds"] for p in passes])
    task_s = med("task_ms") / 1000.0
    return {
        "trace.pass_s": (pass_s, "s"),
        "trace.pass_cpu_s": (_median([p["cpu_s"] for p in passes]), "s"),
        "trace.overhead_s": (layer_self.get("trace", 0.0), "s"),
        "driver.no_job_s": (_median([p["no_job_s"] for p in passes]), "s"),
        "engine.jobs": (med("jobs"), "count"),
        "engine.tasks": (med("tasks"), "count"),
        "engine.failed_tasks": (med("failed_tasks"), "count"),
        "engine.shuffle_read_bytes": (med("shuffle_read_bytes"), "bytes"),
        "engine.shuffle_write_bytes": (med("shuffle_write_bytes"), "bytes"),
        "engine.input_bytes": (med("input_bytes"), "bytes"),
        "engine.task_s": (task_s, "s"),
        "engine.gc_s": (med("gc_ms") / 1000.0, "s"),
        "engine.busy_ratio": (task_s / (pass_s * cores) if pass_s else 0.0,
                              "ratio"),
        "cache.persisted_rdds_after": (run.persisted_after, "count"),
        "cache.storage_bytes_peak": (run.storage_peak, "bytes"),
    }


def _self_times_by(tracer, n_passes: int, key) -> dict[str, float]:
    """Median over passes of the summed self time of the spans that
    ``key(span name)`` maps to the same group."""
    per_pass: dict[str, list[float]] = {}
    for i in range(n_passes):
        totals: dict[str, float] = {}
        for sid, v in tracer.self_times({i}).items():
            group = key(tracer.spans[sid].name)
            totals[group] = totals.get(group, 0.0) + v
        for group, v in totals.items():
            per_pass.setdefault(group, []).append(v)
    return {group: _median(v) for group, v in sorted(per_pass.items())}


def _step_counts(report: dict) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = {}
    for s in report["steps"]:
        if s["pass"] >= 0 and "counts" in s:
            out.setdefault(s["step"], []).append(s["counts"])
    return out


def _write_report(report: dict, run: Run) -> None:
    """Write the run's report (and spans when traced) under
    ``.work/results``. A traced run is compared with the previous
    traced run of the same workload and seed (which engine counts
    repeat exactly) and with the untraced one (tracing overhead)."""
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, f"{report['workload']}-seed{report['seed']}"
                                 f"{'-tiny' if report['tiny'] else ''}")
    path = f"{stem}-trace{report['trace']}.json"
    if report["trace"]:
        if os.path.exists(path):
            with open(path) as f:
                report["repeat"] = _compare_counts(_step_counts(json.load(f)),
                                                   _step_counts(report))
        untraced = f"{stem}-trace0.json"
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["pass_s"]
            report["overhead_vs_untraced_s"] = report["pass_s"] - base
        run.tracer.dump(f"{stem}-spans.json")
    with open(path, "w") as f:
        json.dump(report, f, indent=1)


def _compare_counts(prev: dict, cur: dict) -> dict:
    """Per step and engine count: whether every pass of this run read
    the same value as every pass of the previous run; otherwise the
    values seen, as their min and max."""
    out = {}
    for step in sorted(set(prev) & set(cur)):
        for key in ("jobs", "tasks", "shuffle_read_bytes",
                    "shuffle_write_bytes", "input_bytes"):
            seen = [c[key] for c in prev[step] + cur[step]]
            out[f"{step}.{key}"] = (
                "exact" if min(seen) == max(seen)
                else {"min": min(seen), "max": max(seen)})
    return out


def _summarise(report: dict) -> None:
    log(f"perfbench {report['workload']} seed={report['seed']} "
        f"trace={report['trace']} passes={len(report['passes'])} "
        f"fail_ratio={report['fail_ratio']:.4f} "
        f"({report['failed']}/{report['attempted']}) "
        f"pass wall time {report['pass_s']:.4f} s")
    for name, m in report["metrics"].items():
        log(f"  {name:28s} {m['value']:.6g} {m['unit']}")
    for layer, v in report.get("layer_self_s", {}).items():
        log(f"  self time {layer:18s} {v:.4f} s")
    for name, v in report.get("span_self_s", {}).items():
        log(f"    {name:40s} {v:.4f} s")
    if "overhead_vs_untraced_s" in report:
        log(f"  traced - untraced pass_s       "
            f"{report['overhead_vs_untraced_s']:.4f} s")
    repeat = report.get("repeat", {})
    if repeat:
        exact = sorted(k for k, v in repeat.items() if v == "exact")
        log(f"  counts repeating exactly vs the previous traced run: "
            f"{len(exact)}/{len(repeat)}")
        for k, v in sorted(repeat.items()):
            if v != "exact":
                log(f"    differs {k}: {v}")
    for f in report["failures"]:
        log(f"  FAILED {f}")


if __name__ == "__main__":
    sys.exit(main())
