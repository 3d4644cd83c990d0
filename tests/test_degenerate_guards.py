"""Degenerate-input guards (ADVICE r4): sink parameter validation,
grouped-OLS on constant columns, zero-late-row stream replay, and the
constant-key join guard."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from bigdata_spark_assignment_spark.io import load_table, write_compacted
from bigdata_spark_assignment_spark.operators.cleaning import distinct_counts
from bigdata_spark_assignment_spark.operators.relational import join_guarded


def test_write_compacted_rejects_nonpositive_rows_per_file(spark, tmp_path):
    df = spark.range(10)
    for bad in (0, -5):
        with pytest.raises(ValueError, match="rows_per_file"):
            write_compacted(df, str(tmp_path / "out"), rows_per_file=bad)


@pytest.mark.parametrize("keys,joins", [
    ([None, None], False),       # all NULL: one distinct value
    (["a", None, "a"], True),    # one value + NULL: two distinct values
    (["a", "a", "a"], False),    # one value, no NULL
    (["a", "b", "a"], True),     # two values
])
def test_join_guarded_joins_iff_key_discriminates(spark, keys, joins):
    """J2 (Main.scala:132-139): join only when the fact key has more
    than one distinct value, NULL counted as a value."""
    fact = spark.createDataFrame(list(enumerate(keys)), "i int, k string")
    dim = spark.createDataFrame([("a", 10), ("b", 20)], "k string, v int")
    assert (distinct_counts(fact, ["k"]).first().k > 1) == joins
    out = join_guarded(fact, dim, "k")
    assert ("v" in out.columns) == joins
    if not joins:
        assert sorted(out.collect()) == sorted(fact.collect())


def test_q07_grouped_ols_degenerate_groups(spark, sf_smoke, tmp_path):
    """Constant x (l_quantity) in a group must yield NULL
    slope/intercept/R² — matching the oracle's covar/var closed form
    (division by zero → NULL) instead of crashing or emitting a
    least-norm fit; constant y (l_extendedprice) must yield NULL R²
    with a well-defined flat fit."""
    from bigdata_spark_assignment_spark.plans import REGISTRY

    li = load_table(spark, sf_smoke, "lineitem")
    q_type = dict(li.dtypes)["l_quantity"]
    p_type = dict(li.dtypes)["l_extendedprice"]
    degenerate = (
        li.withColumn(
            "l_quantity",
            F.when(F.col("l_returnflag") == "A", F.lit(5.0))
             .otherwise(F.col("l_quantity")).cast(q_type))
        .withColumn(
            "l_extendedprice",
            F.when(F.col("l_returnflag") == "R", F.lit(7.0))
             .otherwise(F.col("l_extendedprice")).cast(p_type)))
    sf_dir = str(tmp_path)
    degenerate.write.mode("overwrite").parquet(
        os.path.join(sf_dir, "lineitem.parquet"))

    out = REGISTRY["q07_correlation"].fn(spark, sf_dir)
    ols = {r.grp: r for r in out.filter(F.col("part") == "ols").collect()}
    # constant x: no defined fit at all
    assert ols["A"].m1 is None and ols["A"].m2 is None and ols["A"].m3 is None
    # constant y: flat fit (slope 0, intercept = y), undefined R²
    assert ols["R"].m1 == 0.0 and ols["R"].m2 == 7.0 and ols["R"].m3 is None
    # untouched group still fits normally
    assert ols["N"].m1 is not None and ols["N"].m3 is not None


def test_replay_with_late_chunk_empty_late_df(spark, sf_smoke):
    """An empty late_df must degrade to a plain replay (no IndexError
    on the missing staged part file): the stream converges to the
    batch aggregate with no watermark-dropped rows."""
    from bigdata_spark_assignment_spark.streaming.ops import (
        tumbling_counts,
        with_watermark,
    )
    from bigdata_spark_assignment_spark.streaming.replay import (
        replay_with_late_chunk,
        run_to_memory_sink,
    )

    events = load_table(spark, sf_smoke, "events").orderBy("ts").limit(300)
    empty_late = events.limit(0)
    stream = replay_with_late_chunk(spark, events, empty_late, n_chunks=4)
    got = run_to_memory_sink(
        tumbling_counts(with_watermark(stream, delay="10 minutes")),
        "empty_late_sink", output_mode="append")
    batch = tumbling_counts(
        events.withColumn("ts", F.col("ts").cast("timestamp")))
    # append mode only finalizes watermark-closed windows — every
    # emitted row must exist identically in the batch aggregate
    assert got.count() > 0
    assert got.exceptAll(batch).count() == 0


def test_neardup_vectorized_autosize_degenerate_corpora(spark, sf_smoke):
    """r9: the occupancy-pinned auto chunk count (ceil(n / 512)) must
    degrade cleanly at the edges — an EMPTY corpus sizes to one chunk
    and returns zero rows (no division/explode error), and a singleton
    corpus has no pairs."""
    from bigdata_spark_assignment_spark.io import load_table
    from bigdata_spark_assignment_spark.operators.similarity import (
        neardup_pairs_cosine_vectorized,
    )

    emb = load_table(spark, sf_smoke, "embeddings")
    assert neardup_pairs_cosine_vectorized(emb.limit(0)).count() == 0
    assert neardup_pairs_cosine_vectorized(emb.limit(1)).count() == 0
    # a 2-row corpus exercises the single diagonal block exactly once
    two = neardup_pairs_cosine_vectorized(emb.limit(2), threshold=-1.0)
    assert two.count() == 1
