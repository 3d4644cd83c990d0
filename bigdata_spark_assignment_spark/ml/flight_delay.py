"""Flight-delay regression pipeline — reference E1 end-to-end
(SURVEY.md §3/§2.7; reference ``Main.scala:94-666``).

The reference is a single 670-line script; here the same dataflow is
three composable layers, each a plain function over DataFrames:

1. ``clean_flights``   — the relational cleaning chain (§2.2-2.5),
   built from the engine's M2 operators (one ``withColumns`` pass per
   concern instead of the reference's per-column loops).
2. ``featurize``       — StringIndexer → OneHotEncoder →
   VectorAssembler → L1 Normalizer (M3-M7, ``Main.scala:336-376``),
   pure ``pyspark.ml`` composition.
3. ``FlightDelayPipeline.fit_evaluate`` — UnivariateFeatureSelector
   (FDR/FWE 0.05, M8-M9) → {LinearRegression, DecisionTree,
   RandomForest} × k-fold CV × {RMSE, R²} (M10-M14,
   ``Main.scala:392-666``).

Golden-range contract: §6 of SURVEY.md records the reference's
published metrics on real year-2000 data (LR RMSE ≈ 12.75 / R² ≈
0.89). Those exact values are data-dependent; the portable invariant —
asserted in tests/test_flight_pipeline.py on the synthetic fixture
with a planted linear signal — is that LR recovers the signal
(R² ≫ 0) and RMSE lands near the planted noise σ.

100 TB notes: the cleaning chain is narrow except the plane join
(broadcast — planes is a bounded dimension) and two eager global
aggregates that exchange only one partial row per task: the join
guard and ONE statistics pass for constant-prune + mode + mean
imputation (min/max/count/mode/avg; no ``Expand``, no shuffle of data
rows). The statistics come back as literals, so the cleaned plan
stays narrow; ``prepare`` caches it once for the indexer and selector
fits, which run many small jobs each, and CV reads the cached
prepared table. StringIndexer collects per-column distinct labels to
the driver — bounded by categorical cardinality, not data
size. CrossValidator multiplies the training cost by folds×grid;
``parallelism`` is exposed so fits run concurrently.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.ml import Pipeline
from pyspark.ml.evaluation import RegressionEvaluator
from pyspark.ml.feature import (
    Normalizer,
    OneHotEncoder,
    StringIndexer,
    UnivariateFeatureSelector,
    VectorAssembler,
)
from pyspark.ml.regression import (
    DecisionTreeRegressor,
    LinearRegression,
    RandomForestRegressor,
)
from pyspark.ml.tuning import CrossValidator, ParamGridBuilder
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..fixtures import FORBIDDEN_COLUMNS
from ..operators.cleaning import (
    day_part_expr,
    derived_age_expr,
    na_to_null,
    null_to_unknown,
    prune_and_impute,
)
from ..operators.relational import join_guarded

LABEL = "ArrDelay"

# Columns cast string→int (Main.scala:217-222), minus forbidden ones.
NUMERIC_COLS = ["Year", "Month", "DayofMonth", "DayOfWeek", "DepTime",
                "CRSDepTime", "CRSArrTime", "ArrDelay", "DepDelay",
                "Distance", "TaxiOut"]
MODE_IMPUTE_COLS = ["Year", "Month", "DayofMonth", "DayOfWeek"]
# Reference numColsMean (Main.scala:273-275): DepTime, CRSArrTime,
# DepDelay, Distance, TaxiOut. CRSArrTime matters for ORDER semantics:
# impute BEFORE the <=2400 range filter, so an NA-sourced null becomes
# the mean and survives, instead of silently failing the predicate
# (ADVICE r1). CRSDepTime is kept additionally so no numeric feature
# reaches VectorAssembler nullable.
MEAN_IMPUTE_COLS = ["DepTime", "CRSDepTime", "CRSArrTime", "DepDelay",
                    "Distance", "TaxiOut"]
CATEGORICAL_COLS = ["UniqueCarrier", "Origin", "Dest", "type", "manufacturer",
                    "model", "aircraft_type", "engine_type",
                    "DepTimeDayPart", "CRSArrTimeDayPart"]


def clean_flights(flights: DataFrame, planes: DataFrame) -> DataFrame:
    """Reference cleaning chain (``Main.scala:94-316``), Spark-first.

    Steps (reference line refs in parens):

    * drop the 10 leakage columns (:96-97) and post-outcome bookkeeping
      (:113-119 Cancelled path);
    * keep only rows with a usable label (:104) and non-cancelled (:113);
    * broadcast-join the planes dimension on TailNum (:136; J1) after
      dropping bare/dirty plane rows (:153,:162);
    * NA→null everywhere, then cast numerics to int (:168-222);
    * constant-column prune, force-keeping Year (:184-208), then
      mode-impute calendar ints and mean-impute continuous ints
      (:262-275) — all three from ONE eager statistics aggregate whose
      results enter the plan as literals (``prune_and_impute``);
    * PlaneAge = Year − year(issue_date) clamped at 0 (:283-285);
    * categorical null→"unknown" (:294-297);
    * drop dirty hhmm rows (>2400, :303) and bucketize times into
      day-part categoricals (:310-311; U3).

    Runs two small eager aggregates (the join guard and the statistics
    pass); the returned plan is a narrow scan → filter → broadcast
    join → project with no ``Expand``, ``Window`` or cross join.
    """
    df = flights.drop(*FORBIDDEN_COLUMNS)
    df = df.filter(F.col(LABEL).isNotNull() & (F.col(LABEL) != "NA"))
    df = df.filter(F.col("Cancelled") == "0").drop("Cancelled", "CancellationCode")

    dim = planes.drop("status", "year")
    dim = dim.filter(
        F.col("issue_date").isNotNull()
        & ~F.col("issue_date").isin("None", "NA")
        & F.col("manufacturer").isNotNull())
    # J2 join guard (Main.scala:132-139): only join when TailNum
    # actually discriminates (>1 distinct value)
    df = join_guarded(df, dim.withColumnRenamed("tailnum", "TailNum"),
                      "TailNum")

    df = na_to_null(df)
    df = df.withColumns({c: F.col(c).cast("int") for c in NUMERIC_COLS})
    df = prune_and_impute(
        df, force_keep=("Year",),
        mode_cols=[c for c in MODE_IMPUTE_COLS if c in df.columns],
        mean_cols=[c for c in MEAN_IMPUTE_COLS if c in df.columns])

    df = df.withColumn(
        "PlaneAge", derived_age_expr(F.col("Year"), F.col("issue_date"))) \
        .drop("issue_date")
    df = df.filter(F.col("PlaneAge").isNotNull())

    df = null_to_unknown(df, [c for c in ("UniqueCarrier", "Origin", "Dest",
                                          "type", "manufacturer", "model",
                                          "aircraft_type", "engine_type")
                              if c in df.columns])

    df = df.filter((F.col("DepTime") <= 2400) & (F.col("CRSArrTime") <= 2400))
    df = df.withColumns({
        "DepTimeDayPart": day_part_expr(F.col("DepTime")),
        "CRSArrTimeDayPart": day_part_expr(F.col("CRSArrTime")),
    }).drop("DepTime", "CRSArrTime")
    # ids carry no signal and explode OHE cardinality (:382-388 intent)
    return df.drop("FlightNum", "TailNum")


def featurize(df: DataFrame, label: str = LABEL) -> DataFrame:
    """M3-M7 (``Main.scala:336-376``): index → one-hot → assemble →
    L1-normalize, as one ``pyspark.ml.Pipeline``."""
    cats = [c for c in CATEGORICAL_COLS if c in df.columns]
    nums = [c for c in df.columns
            if c not in cats and c != label
            and dict(df.dtypes)[c] in ("int", "bigint", "double")]
    stages = []
    if cats:
        stages.append(StringIndexer(
            inputCols=cats, outputCols=[f"{c}Indexed" for c in cats],
            handleInvalid="keep"))
        stages.append(OneHotEncoder(
            inputCols=[f"{c}Indexed" for c in cats],
            outputCols=[f"{c}Cat" for c in cats]))
    stages.append(VectorAssembler(
        inputCols=nums + [f"{c}Cat" for c in cats], outputCol="features"))
    stages.append(Normalizer(inputCol="features", outputCol="normFeatures", p=1.0))
    model = Pipeline(stages=stages).fit(df)
    return model.transform(df)


@dataclass
class FlightDelayPipeline:
    """E1 orchestration: clean → featurize → select → CV-train → eval.

    ``selector_mode``: "fdr" | "fwe" | None (M8/M9, threshold 0.05 —
    the reference found no measurable difference between the two,
    SURVEY.md §6). ``cv_folds=5`` matches the reference
    (``Main.scala:470-474``); tests lower it for speed.
    """

    selector_mode: str | None = "fdr"
    selection_threshold: float = 0.05
    cv_folds: int = 5
    seed: int = 10
    parallelism: int = 4
    metrics: dict[str, dict[str, float]] = field(default_factory=dict)

    def prepare(self, flights: DataFrame, planes: DataFrame) -> DataFrame:
        """Clean → featurize → select, returned CACHED and materialized.

        The cleaned table is cached once, so the StringIndexer fit and
        the selector fit (many small jobs) read it instead of
        re-running CSV parse and plane join each. The final frame is
        cached and counted before the cleaned cache is released; its
        buffers are loaded, so that non-cascading ``unpersist`` keeps
        them. The caller owns the result and must ``unpersist()`` it.
        """
        cleaned = clean_flights(flights, planes).cache()
        try:
            df = featurize(cleaned)
            df = df.withColumn(LABEL, F.col(LABEL).cast("double"))
            if self.selector_mode:
                selector = UnivariateFeatureSelector(
                    featuresCol="normFeatures", outputCol="selectedFeatures",
                    labelCol=LABEL, selectionMode=self.selector_mode)
                selector.setFeatureType("continuous").setLabelType("continuous")
                selector.setSelectionThreshold(self.selection_threshold)
                df = selector.fit(df).transform(df)
                self.features_col = "selectedFeatures"
            else:
                self.features_col = "normFeatures"
            df = df.cache()
            df.count()
        finally:
            cleaned.unpersist()
        return df

    def _estimators(self, which: tuple[str, ...]):
        fc = self.features_col
        out = {}
        if "lr" in which:
            lr = LinearRegression(featuresCol=fc, labelCol=LABEL)
            out["lr"] = (lr, ParamGridBuilder()
                         .addGrid(lr.regParam, [0.01])
                         .addGrid(lr.elasticNetParam, [0.25])
                         .addGrid(lr.maxIter, [10]).build())
        if "dtr" in which:
            dtr = DecisionTreeRegressor(featuresCol=fc, labelCol=LABEL,
                                        seed=self.seed)
            out["dtr"] = (dtr, ParamGridBuilder().build())
        if "rf" in which:
            rf = RandomForestRegressor(featuresCol=fc, labelCol=LABEL,
                                       seed=self.seed)
            out["rf"] = (rf, ParamGridBuilder().build())
        return out

    def fit_evaluate(self, prepared: DataFrame,
                     models: tuple[str, ...] = ("lr", "dtr", "rf")
                     ) -> dict[str, dict[str, float]]:
        """70/30 split seed 10 (``Main.scala:434-435``), k-fold CV per
        model (RMSE selector), RMSE + R² on the held-out 30%."""
        train, test = prepared.randomSplit([0.7, 0.3], seed=self.seed)
        train = train.cache()
        rmse_eval = RegressionEvaluator(labelCol=LABEL,
                                        predictionCol="prediction",
                                        metricName="rmse")
        r2_eval = RegressionEvaluator(labelCol=LABEL,
                                      predictionCol="prediction",
                                      metricName="r2")
        for name, (est, grid) in self._estimators(models).items():
            cv = CrossValidator(estimator=est, estimatorParamMaps=grid,
                                evaluator=rmse_eval, numFolds=self.cv_folds,
                                parallelism=self.parallelism, seed=self.seed)
            model = cv.fit(train)
            pred = model.transform(test)
            self.metrics[name] = {
                "rmse": rmse_eval.evaluate(pred),
                "r2": r2_eval.evaluate(pred),
            }
        train.unpersist()
        return self.metrics
