"""E1 batch-CLI driver — the reference's actual entry point, replayed
(``Main.scala:41-76``): args → CSV load + union → clean → featurize →
select → CV-train → console metrics.

The reference takes dataset names, loads one CSV per name (header-only
read, all strings), *intends* to union them (the ``:70-76`` loop
overwrites instead — S5; we implement the documented union), joins the
planes dimension, and runs the cleaning + ML lifecycle. Here:

    python -m bigdata_spark_assignment_spark data/2000.csv data/2001.csv \
        --planes data/plane-data.csv
    python -m bigdata_spark_assignment_spark --fixture   # synthetic run

``--fixture`` substitutes the reference-shaped synthetic tables
(fixtures.py) so the full lifecycle runs with no external data — the
CI/driver-visible path.
"""

from __future__ import annotations

import argparse
import sys
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def _parse_args(argv: Sequence[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(
        prog="bigdata_spark_assignment_spark",
        description="Flight-delay pipeline (reference E1 lifecycle)")
    p.add_argument("datasets", nargs="*",
                   help="flight CSV paths (header row, string columns); "
                        "multiple paths are unioned by name (S5 intent)")
    p.add_argument("--planes", default=None,
                   help="plane-data CSV path (the lookup dimension)")
    p.add_argument("--fixture", action="store_true",
                   help="use the synthetic reference-shaped fixtures "
                        "instead of CSV inputs")
    p.add_argument("--fixture-rows", type=int, default=4000)
    p.add_argument("--models", default="lr,dtr,rf",
                   help="comma list from {lr,dtr,rf}")
    p.add_argument("--selector", default="fdr",
                   choices=["fdr", "fwe", "none"])
    p.add_argument("--cv-folds", type=int, default=5)
    return p.parse_args(argv)


def _load_inputs(spark: SparkSession,
                 args: argparse.Namespace) -> tuple[DataFrame, DataFrame]:
    from .fixtures import make_flights, make_planes
    from .io import read_csv, union_all

    if args.fixture:
        return (make_flights(spark, n=args.fixture_rows),
                make_planes(spark))
    if not args.datasets or not args.planes:
        raise SystemExit(
            "need at least one flight CSV and --planes (or --fixture)")
    # S1/S2/S5: header-only CSV reads (all StringType, the reference's
    # convention) unioned BY NAME — the documented intent of the
    # reference's overwrite-bug loop (Main.scala:70-76)
    frames = [read_csv(spark, path) for path in args.datasets]
    return union_all(frames), read_csv(spark, args.planes)


def main(argv: Sequence[str] | None = None) -> dict[str, dict[str, float]]:
    from .ml.flight_delay import FlightDelayPipeline
    from .session import get_session

    args = _parse_args(argv)
    spark = get_session(app_name="flight-delay-pipeline")
    flights, planes = _load_inputs(spark, args)

    pipe = FlightDelayPipeline(
        selector_mode=None if args.selector == "none" else args.selector,
        cv_folds=args.cv_folds)
    prepared = pipe.prepare(flights, planes)
    models = tuple(m.strip() for m in args.models.split(",") if m.strip())
    metrics = pipe.fit_evaluate(prepared, models=models)
    prepared.unpersist()

    # the reference's closing console summary (Main.scala:641-665)
    print(f"{'model':<6} {'rmse':>10} {'r2':>10}")
    for name, m in metrics.items():
        print(f"{name:<6} {m['rmse']:>10.3f} {m['r2']:>10.3f}")
    return metrics


if __name__ == "__main__":
    main(sys.argv[1:])
