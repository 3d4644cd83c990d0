"""Deterministic cost shape of one bench slot: jobs, stages, tasks.

Timing on this host swings 2x between windows (BASELINE.md variance
dossiers), but the job/stage/task COUNTS of a slot are deterministic
given code + config — the right witness for task-storm/job-count
optimizations (guide §1.4: count your jobs). Runs the slot once
(after the standard bench warmups) and prints the counts plus wall
time. Jobs are counted by job id, so jobs submitted from helper
threads (CrossValidator's fit pool) are included.

``flight_ml`` is a pseudo-slot that needs no SF directory: the E1
pipeline on ``make_flights_expo(10000)`` / ``make_planes(3000)``
(seed 1) written as CSV and read back, counted per step —
``flight_ml.prepare`` (``FlightDelayPipeline.prepare``, which returns
the prepared table cached and counted) and ``flight_ml.fit_evaluate``
(LR + RF, 2-fold CV).

Usage: SPARK_GRAFT_CPUS=32 python tools/count_jobs.py q30_sessionization [...]
       python tools/count_jobs.py flight_ml
"""
import json
import os
import sys
import tempfile
import time
from contextlib import contextmanager

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
FLIGHT_SLOT = "flight_ml"


@contextmanager
def counted(spark, name: str, out: dict):
    """Record jobs/stages/tasks/wall of everything run in the block."""
    jsc = spark.sparkContext._jsc.sc()
    first = jsc.dagScheduler().nextJobId()
    t0 = time.perf_counter()
    yield
    wall = round(time.perf_counter() - t0, 3)
    end = jsc.dagScheduler().nextJobId()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    n_stages = n_tasks = 0
    for jid in range(first, end):
        job = store.job(jid)
        n_stages += job.stageIds().size() - job.numSkippedStages()
        n_tasks += job.numTasks() - job.numSkippedTasks()
    out[name] = {"jobs": end - first, "stages": n_stages,
                 "tasks": n_tasks, "wall": wall}


def count_flight_ml(spark, out: dict) -> None:
    from bigdata_spark_assignment_spark import io
    from bigdata_spark_assignment_spark.fixtures import (
        make_flights_expo,
        make_planes,
    )
    from bigdata_spark_assignment_spark.ml.flight_delay import (
        FlightDelayPipeline,
    )

    with tempfile.TemporaryDirectory() as d:
        make_flights_expo(spark, n=10_000, seed=1) \
            .coalesce(1).write.csv(os.path.join(d, "flights"), header=True)
        make_planes(spark, n=3000, seed=1) \
            .coalesce(1).write.csv(os.path.join(d, "planes"), header=True)
        flights = io.read_csv(spark, os.path.join(d, "flights"))
        planes = io.read_csv(spark, os.path.join(d, "planes"))
        pipe = FlightDelayPipeline(cv_folds=2)
        with counted(spark, f"{FLIGHT_SLOT}.prepare", out):
            prepared = pipe.prepare(flights, planes)
        with counted(spark, f"{FLIGHT_SLOT}.fit_evaluate", out):
            pipe.fit_evaluate(prepared, models=("lr", "rf"))
        prepared.unpersist()


def main() -> None:
    names = sys.argv[1:]
    import bench
    from bigdata_spark_assignment_spark.operators.dedup import (
        unpersist_dedup_caches,
    )
    from bigdata_spark_assignment_spark.plans import REGISTRY
    from bigdata_spark_assignment_spark.session import get_session

    spark = get_session(app_name="count-jobs")
    bench._warmup(spark)
    slots = [n for n in names if n != FLIGHT_SLOT]
    if any(n.startswith(("q40", "q42", "q67")) for n in slots):
        bench._warm_ivf_index(spark, SF_DIR)
    if slots:
        bench._warm_plans(spark, {n: REGISTRY[n] for n in slots}, set(),
                          SF_DIR)
    out = {}
    for name in names:
        if name == FLIGHT_SLOT:
            count_flight_ml(spark, out)
            continue
        with counted(spark, name, out):
            REGISTRY[name].fn(spark, SF_DIR) \
                .write.format("noop").mode("overwrite").save()
        unpersist_dedup_caches()
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
