"""Unit/property tests for dedup operators on controlled corpora."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdata_spark_assignment_spark.operators.dedup import (
    dedup_exact,
    jaccard_expr,
    neardup_pairs_exact_jaccard,
    neardup_pairs_minhash,
    neardup_pairs_simhash,
    simhash_expr,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "the quick brown fox jumps over the lazy dog near the river bend"),  # near-dup of 1
    (3, "completely different content about distributed query engines and shuffles"),
    (4, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 1
    (5, "ab"),                                                               # < 3 words
]


def _docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_dedup_exact_picks_min_id(spark):
    out = dedup_exact(_docs_df(spark), ["text"],
                      canonical_order=[F.col("doc_id").asc()],
                      copies_col="n")
    rows = {r.doc_id: r.n for r in out.collect()}
    assert 1 in rows and rows[1] == 2     # doc 4 collapsed into doc 1
    assert 4 not in rows
    assert len(rows) == 4


def test_neardup_bruteforce_finds_pair(spark):
    out = neardup_pairs_exact_jaccard(_docs_df(spark), "doc_id", "text",
                                      threshold=0.5)
    pairs = {(r.id_a, r.id_b): r.jaccard for r in out.collect()}
    assert (1, 4) in pairs and pairs[(1, 4)] == 1.0
    assert (1, 2) in pairs and 0.5 <= pairs[(1, 2)] < 1.0
    assert not any(3 in p or 5 in p for p in pairs)


def test_minhash_matches_bruteforce(spark):
    df = _docs_df(spark)
    exact = {(r.id_a, r.id_b) for r in
             neardup_pairs_exact_jaccard(df, "doc_id", "text", 0.5).collect()}
    lsh = {(r.id_a, r.id_b) for r in
           neardup_pairs_minhash(df, "doc_id", "text", 0.5).collect()}
    assert lsh == exact


def test_simhash_identical_docs_distance_zero(spark):
    df = _docs_df(spark)
    out = {(r.id_a, r.id_b): r.hamming
           for r in neardup_pairs_simhash(df, "doc_id", "text", 10).collect()}
    assert out.get((1, 4)) == 0            # identical text → identical simhash
    if (1, 2) in out:                      # near-dup should be close if found
        assert out[(1, 2)] <= 10
    assert not any(3 in p for p in out)    # unrelated doc stays unpaired


def test_simhash_deterministic(spark):
    df = _docs_df(spark).select(
        simhash_expr(F.split(F.lower("text"), r"\s+")).alias("h"))
    a = [r.h for r in df.collect()]
    b = [r.h for r in df.collect()]
    assert a == b


def test_simhash_udf_matches_expression(spark, sf_oracle):
    """The vectorized numpy signature (the hot path) must be
    bit-identical to the reference expression form on real corpus
    text — including empty token arrays."""
    from bigdata_spark_assignment_spark.operators.dedup import (
        _simhash_pandas_udf,
    )

    docs = spark.read.parquet(f"{sf_oracle}/documents.parquet") \
        .select("doc_id", "text").limit(200)
    extra = spark.createDataFrame(
        [(9001, ""), (9002, "one"), (9003, "a b c a b c")],
        "doc_id long, text string")
    df = docs.unionByName(extra)
    tokens = F.split(F.lower("text"), r"\s+")
    udf = _simhash_pandas_udf()
    out = df.select(
        "doc_id",
        simhash_expr(tokens).alias("expr_sig"),
        udf(F.transform(tokens, lambda t: F.xxhash64(t))).alias("udf_sig"))
    bad = out.filter(F.col("expr_sig") != F.col("udf_sig")).count()
    assert bad == 0


def test_jaccard_expr_basics(spark):
    df = spark.createDataFrame(
        [(["a", "b", "c"], ["a", "b", "c"]),
         (["a", "b"], ["c", "d"])],
        "x array<string>, y array<string>")
    vals = [r.j for r in df.select(jaccard_expr(F.col("x"), F.col("y")).alias("j")).collect()]
    assert vals[0] == 1.0 and vals[1] == 0.0


def test_neardup_clusters_transitive(spark):
    """A~B and B~C (but never A~C directly) must land in ONE cluster —
    the property pair-dropping can't give you."""
    from bigdata_spark_assignment_spark.operators.dedup import (
        neardup_clusters,
    )
    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.8),        # chain 1-2-3
         (10, 11, 0.95),                   # pair
         (20, 21, 0.7), (21, 22, 0.7), (22, 23, 0.7), (20, 23, 0.9)],
        "id_a long, id_b long, jaccard double")
    out = {r.id: r.cluster_id
           for r in neardup_clusters(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20, 23: 20}


def test_neardup_clusters_reliable_checkpoint(spark, tmp_path):
    """checkpoint_dir switches the per-round lineage cut to RELIABLE
    checkpoint() (cluster fault-tolerance); results must be identical
    to the localCheckpoint default, checkpoint files must actually
    land in the directory, and the caller's checkpoint config must be
    restored."""
    import os

    from pyspark.errors import SparkRuntimeException

    from bigdata_spark_assignment_spark.operators.dedup import (
        neardup_clusters,
    )
    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.8), (10, 11, 0.95)],
        "id_a long, id_b long, jaccard double")
    ckpt = str(tmp_path / "cc_ckpt")
    # a prior checkpoint config must survive the call (Spark cannot
    # UNSET a dir, so restoration is only defined when one existed)
    sentinel = str(tmp_path / "caller_ckpt")
    spark.sparkContext.setCheckpointDir(sentinel)
    before = spark.sparkContext.getCheckpointDir()
    local = {r.id: r.cluster_id for r in neardup_clusters(pairs).collect()}
    reliable = {r.id: r.cluster_id
                for r in neardup_clusters(
                    pairs, checkpoint_dir=ckpt).collect()}
    assert reliable == local == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    assert os.path.isdir(ckpt) and os.listdir(ckpt)  # files written
    # restored into the caller's tree (Spark nests a fresh UUID subdir
    # per setCheckpointDir, so compare by prefix)
    assert spark.sparkContext.getCheckpointDir().startswith(before)
    # ... also when a round raises after the directory was switched
    failing = pairs.withColumn(
        "id_b", F.when(F.col("id_a") == 10, F.raise_error(F.lit("boom")))
        .otherwise(F.col("id_b")))
    with pytest.raises(SparkRuntimeException, match="boom"):
        neardup_clusters(failing, checkpoint_dir=ckpt)
    assert spark.sparkContext.getCheckpointDir().startswith(before)


def test_graph_suite_builds_only_requested_legs(spark, sf_smoke,
                                                monkeypatch):
    """q53 and q15 share one leg builder; each must build only its own
    legs. With the q15-only operators made to raise, q53 still builds;
    with the star contraction made to raise, q15 still builds."""
    from bigdata_spark_assignment_spark.operators import dedup
    from bigdata_spark_assignment_spark.plans import REGISTRY

    def boom(*args, **kwargs):
        raise AssertionError("built a leg the query does not return")

    with monkeypatch.context() as m:
        for name in ("pagerank_by_component", "kcore_by_component",
                     "bfs_hops_by_component", "sssp_by_component",
                     "lpa_by_component", "modularity_nano"):
            m.setattr(dedup, name, boom)
        q53 = REGISTRY["q53_neardup_clusters"].fn(spark, sf_smoke)
    with monkeypatch.context() as m:
        m.setattr(dedup, "neardup_clusters_star", boom)
        q15 = REGISTRY["q15_graph_extras"].fn(spark, sf_smoke)
    assert q53.columns == q15.columns == ["method", "id", "cluster_id", "v"]
    dedup.unpersist_dedup_caches()


def test_neardup_clusters_star_matches_propagation(spark):
    """Large-star/small-star must produce the same (id, min-id label)
    map as plain propagation on blob-shaped graphs (the near-dup
    case), including transitivity-only links."""
    from bigdata_spark_assignment_spark.operators.dedup import (
        neardup_clusters,
        neardup_clusters_star,
    )
    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.8),
         (10, 11, 0.95),
         (20, 21, 0.7), (21, 22, 0.7), (22, 23, 0.7), (20, 23, 0.9),
         (30, 31, 0.9), (32, 31, 0.9), (33, 30, 0.9), (33, 32, 0.9)],
        "id_a long, id_b long, jaccard double")
    prop = {r.id: r.cluster_id for r in neardup_clusters(pairs).collect()}
    star = {r.id: r.cluster_id
            for r in neardup_clusters_star(pairs).collect()}
    assert star == prop
    assert star[33] == 30 and star[3] == 1


def test_neardup_clusters_star_high_diameter_path(spark):
    """The reason the second algorithm exists: a 200-node path has
    diameter 199, far beyond propagation's default 20 rounds — star
    contraction must converge in O(log² n) rounds (well under 15) with
    every node labeled by the path minimum."""
    from bigdata_spark_assignment_spark.operators.dedup import (
        neardup_clusters_star,
    )
    n = 200
    pairs = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(n - 1)],
        "id_a long, id_b long, jaccard double")
    out = {r.id: r.cluster_id
           for r in neardup_clusters_star(pairs, max_iter=15).collect()}
    assert out == {i: 0 for i in range(n)}


def test_neardup_clusters_star_reliable_checkpoint(spark, tmp_path):
    import os

    from bigdata_spark_assignment_spark.operators.dedup import (
        neardup_clusters_star,
    )
    pairs = spark.createDataFrame(
        [(5, 4, 0.9), (3, 4, 0.8), (10, 11, 0.95)],
        "id_a long, id_b long, jaccard double")
    ckpt = str(tmp_path / "star_ckpt")
    sentinel = str(tmp_path / "caller_ckpt")
    spark.sparkContext.setCheckpointDir(sentinel)
    before = spark.sparkContext.getCheckpointDir()
    out = {r.id: r.cluster_id
           for r in neardup_clusters_star(
               pairs, checkpoint_dir=ckpt).collect()}
    assert out == {3: 3, 4: 3, 5: 3, 10: 10, 11: 10}
    assert os.path.isdir(ckpt) and os.listdir(ckpt)
    assert spark.sparkContext.getCheckpointDir().startswith(before)


def test_decontaminate_planted_and_clean(spark):
    from bigdata_spark_assignment_spark.operators.dedup import decontaminate

    train = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "completely unrelated text about database engines"),
         (3, "another disjoint document mentioning spark plans")],
        "doc_id long, text string")
    test = spark.createDataFrame(
        [(100, "quick brown fox jumps high today"),  # shares 3-grams w/ 1
         (101, "nothing in common whatsoever here")],
        "doc_id long, text string")
    out = {r.train_id: r for r in decontaminate(train, test).collect()}
    assert set(out) == {1}
    assert out[1].n_test_docs_hit == 1
    # fully disjoint corpora → nothing flagged
    clean_test = spark.createDataFrame(
        [(200, "zzz yyy xxx www vvv uuu")], "doc_id long, text string")
    assert decontaminate(train, clean_test).count() == 0


def test_leakage_safe_split_keeps_families_together(spark):
    from bigdata_spark_assignment_spark.operators.cleaning import (
        hash_split_expr,
    )
    from bigdata_spark_assignment_spark.operators.dedup import (
        leakage_safe_split,
    )

    # a 40-doc corpus of 20 near-dup pairs (ids 2k, 2k+1)
    docs = spark.createDataFrame(
        [(i, f"doc family {i // 2}") for i in range(40)],
        "doc_id long, text string")
    pairs = spark.createDataFrame(
        [(2 * k, 2 * k + 1, 1.0) for k in range(20)],
        "id_a long, id_b long, jaccard double")
    out = leakage_safe_split(docs, pairs, train_pct=50)
    side = {r.doc_id: r.split for r in out.collect()}
    assert len(side) == 40
    for k in range(20):
        assert side[2 * k] == side[2 * k + 1]  # family never straddles
    assert {"train", "eval"} == set(side.values())  # both sides populated
    # contrast: the per-DOC hash split DOES straddle some family
    per_doc = {r.doc_id: r.s for r in docs.select(
        "doc_id",
        F.when(hash_split_expr(F.col("doc_id")) < 50, "train")
         .otherwise("eval").alias("s")).collect()}
    assert any(per_doc[2 * k] != per_doc[2 * k + 1] for k in range(20))


def test_shared_window_stats_planted(spark):
    from bigdata_spark_assignment_spark.operators.dedup import (
        shared_window_stats,
    )

    run = "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"          # exactly 10 tokens
    rows = [
        (1, "intro words " + run + " outro one"),    # run at offset 2
        (2, "zzz " + run),                           # same run, offset 1
        (3, "totally different words with no overlap at all here ok"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = shared_window_stats(docs, window_tokens=10).first()
    # the only 10-token window occurring in two distinct docs is `run`
    assert out.n_shared_windows == 1
    assert out.n_docs_with_shared == 2
    assert out.n_shared_occurrences == 2

    solo = spark.createDataFrame([(1, "a b c d e f g h i j")],
                                 "doc_id long, text string")
    empty = shared_window_stats(solo, window_tokens=10).first()
    assert (empty.n_shared_windows, empty.n_docs_with_shared,
            empty.n_shared_occurrences) == (0, 0, 0)


def test_shared_window_stats_hash_matches_text_path(spark):
    """The Arrow window-HASH path must reproduce the group-by-window-
    TEXT counts (the relational witness via positional_ngrams) on a
    corpus with within-doc repeats, shifted copies, and short docs."""
    import random

    from bigdata_spark_assignment_spark.operators.dedup import (
        shared_window_stats,
    )
    from bigdata_spark_assignment_spark.operators.textual import (
        positional_ngrams,
    )

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(30)]
    rows = []
    for i in range(60):
        words = [rng.choice(vocab) for _ in range(rng.randint(3, 40))]
        rows.append((i, " ".join(words)))
        if i % 3 == 0:  # shifted near-copy
            rows.append((1000 + i, "pad " + " ".join(words)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    n = 5
    got = shared_window_stats(docs, window_tokens=n).first()
    wins = positional_ngrams(docs, n)
    gs = (wins.groupBy("gram")
          .agg(F.countDistinct("doc_id").alias("nd"),
               F.count(F.lit(1)).alias("no"))
          .filter(F.col("nd") >= 2))
    want_windows, want_occ = (gs.agg(
        F.count(F.lit(1)), F.coalesce(F.sum("no"), F.lit(0))).first())
    want_docs = (wins.join(gs.select("gram"), "gram", "leftsemi")
                 .agg(F.countDistinct("doc_id")).first()[0])
    assert got.n_shared_windows == want_windows
    assert got.n_shared_occurrences == want_occ
    assert got.n_docs_with_shared == want_docs


# ---------------------------------------------------------------------------
# Hot-band frequency cap (stop-shingle trick) — VERDICT r4 #3
# ---------------------------------------------------------------------------

BOILER_HEADER = " ".join(f"h{i}" for i in range(40))


def _boiler_docs(spark, n: int = 200):
    """Boilerplate-pathology corpus: every doc = the same 40-token
    header + a 12-token unique body; every even doc 2i has a planted
    near-copy 2i+1 (one body token changed → jaccard ≈ 0.89, while
    cross-pair jaccard ≈ 0.58 from the shared header alone)."""
    rows = []
    for i in range(n):
        base = i - (i % 2)
        body = [f"u{base}x{k}" for k in range(12)]
        if i % 2:
            body[7] = f"mut{i}"
        rows.append((i, BOILER_HEADER + " " + " ".join(body)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_hot_band_corpus_really_has_hot_buckets(spark):
    # precondition for the cap test: the shared header drives band
    # buckets far above any genuine near-dup group size (2), i.e. the
    # pathology the cap exists for is actually present.
    from collections import Counter

    import pandas as pd

    from bigdata_spark_assignment_spark.operators.dedup import (
        _band_mins_pandas_udf,
    )
    from bigdata_spark_assignment_spark.operators.textual import shingles_expr

    # shingle hashes JVM-side (pure expressions), band mins through the
    # SAME numpy closure the operator ships (same seed-0 constants) —
    # run locally so the check is plan-independent and exact
    rows = (_boiler_docs(spark)
            .select(F.transform(shingles_expr(F.col("text"), 3),
                                lambda s: F.xxhash64(s)).alias("hs"))
            .collect())
    bh = _band_mins_pandas_udf(24, 2).func(
        pd.Series([list(r.hs) for r in rows]))
    buckets = Counter((band, v) for arr in bh for band, v in enumerate(arr))
    top = max(buckets.values())
    assert top > 50, f"expected a hot bucket, max bucket size {top}"


def test_hot_band_cap_preserves_planted_recall(spark):
    docs = _boiler_docs(spark)
    capped = {(r.id_a, r.id_b) for r in
              neardup_pairs_minhash(docs, "doc_id", "text", threshold=0.8,
                                    max_band_size=10).collect()}
    planted = {(i, i + 1) for i in range(0, 200, 2)}
    # recall: every planted pair survives the cap (each still meets in
    # a body-derived band whose bucket size is 2); precision: the
    # exact-verify stage keeps cross-pairs (j≈0.58) out at 0.8.
    assert capped == planted


def test_hot_band_cap_noop_on_clean_data(spark):
    # clean corpus: no bucket exceeds the cap, so results are identical
    df = _docs_df(spark)
    uncapped = {(r.id_a, r.id_b) for r in
                neardup_pairs_minhash(df, "doc_id", "text", 0.5).collect()}
    capped = {(r.id_a, r.id_b) for r in
              neardup_pairs_minhash(df, "doc_id", "text", 0.5,
                                    max_band_size=10).collect()}
    assert capped == uncapped


@pytest.mark.slow
def test_fuzzy_join_edit_distance_matches_bruteforce(spark):
    """r5 session 3: the deletion-neighborhood blocked join must equal
    the brute-force cross-join truth at d=1 AND d=2 on a corpus with
    planted insert/delete/substitute/transpose mutations (a transpose
    is TWO unit edits under plain Levenshtein — present to prove the
    d=1 run correctly excludes it and the d=2 run finds it)."""
    from pyspark.sql import functions as F

    from bigdata_spark_assignment_spark.operators.dedup import (
        fuzzy_join_edit_distance,
    )
    base = ["gradient", "descent", "attention", "tokenizer",
            "embedding", "transformer", "checkpoint", "optimizer"]
    rows, i = [], 0
    for w in base:
        for s in (w,                      # exact
                  w[1:],                  # delete (d=1)
                  w + "x",                # insert (d=1)
                  "q" + w[1:],            # substitute (d=1)
                  w[1] + w[0] + w[2:]):   # transpose (d=2 plain-lev)
            rows.append((i, s)); i += 1
    df = spark.createDataFrame(rows, ["id", "s"])
    truth_df = (df.alias("a").crossJoin(df.alias("b"))
                .filter(F.col("a.id") < F.col("b.id"))
                .withColumn("dist", F.levenshtein("a.s", "b.s"))
                .select(F.col("a.id").alias("id_a"),
                        F.col("b.id").alias("id_b"), "dist"))
    for d in (1, 2):
        got = {(r.id_a, r.id_b, r.dist) for r in
               fuzzy_join_edit_distance(df, "id", "s", max_dist=d)
               .collect()}
        want = {(r.id_a, r.id_b, r.dist) for r in
                truth_df.filter(F.col("dist") <= d).collect()}
        assert got == want and len(want) > 0
    # the transpose pair exists at d=2 but not d=1
    t2 = {(r.id_a, r.id_b) for r in
          truth_df.filter(F.col("dist") == 2).collect()}
    assert t2, "planted transposes should be distance-2 pairs"


def test_pagerank_grouped_equals_iterative(spark):
    """r5 session 3: the grouped per-component numpy PageRank must
    equal the iterative DataFrame power iteration to 6 decimals on a
    multi-component graph with asymmetric degrees (star + chain +
    triangle), and ranks must sum to 1 (teleport + damped mass
    conservation)."""
    from pyspark.sql import functions as F

    from bigdata_spark_assignment_spark.operators.dedup import (
        neardup_clusters,
        pagerank,
        pagerank_by_component,
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (1, 5),          # star around 1
         (10, 11), (11, 12), (12, 13), (13, 14),  # chain
         (20, 21), (21, 22), (22, 20)],           # triangle
        ["id_a", "id_b"])
    labels = neardup_clusters(pairs)
    it = {r.id: round(r.rank, 6) for r in
          pagerank(pairs, iters=10, damping=0.85,
                   broadcast_ranks=True).collect()}
    gr = {r.id: round(r.rank, 6) for r in
          pagerank_by_component(pairs, labels, iters=10,
                                damping=0.85).collect()}
    assert it == gr and len(it) == 13
    assert abs(sum(it.values()) - 1.0) < 1e-9
    # star hub out-ranks its leaves; chain ends under chain middles
    assert it[1] > it[2] and it[11] > it[10]


def test_prefix_jaccard_equals_full_index_and_prunes(spark):
    """r5 session 3: on a boilerplate-heavy corpus the prefix-filtered
    join must (a) return EXACTLY the full-index pair set and (b) index
    strictly fewer postings than the full inverted index (the
    rarest-first prefix excludes the boilerplate head)."""
    from pyspark.sql import functions as F

    from bigdata_spark_assignment_spark.operators.dedup import (
        neardup_pairs_exact_jaccard,
        neardup_pairs_prefix_jaccard,
    )
    from bigdata_spark_assignment_spark.operators.textual import (
        shingles_expr,
    )
    header = "terms of service apply to all content here"
    rows = [(i, f"{header} unique words {i} alpha beta gamma delta "
                f"epsilon zeta eta theta {i}") for i in range(30)]
    rows += [(100 + i, rows[i][1]) for i in range(5)]       # exact dups
    rows += [(200, rows[0][1] + " tail"), (201, rows[1][1] + " tail")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    want = {(r.id_a, r.id_b, round(r.jaccard, 6)) for r in
            neardup_pairs_exact_jaccard(docs, "doc_id", "text",
                                        threshold=0.6).collect()}
    got = {(r.id_a, r.id_b, round(r.jaccard, 6)) for r in
           neardup_pairs_prefix_jaccard(docs, "doc_id", "text",
                                        threshold=0.6).collect()}
    assert got == want and len(want) >= 7

    # posting-count reduction: prefix length is sz - ceil(0.6*sz) + 1
    sh = docs.select(shingles_expr(F.col("text"), 3).alias("sh")) \
        .select(F.size("sh").alias("sz"))
    full, prefix = sh.agg(
        F.sum("sz"),
        F.sum(F.col("sz") - F.ceil(F.lit(0.6) * F.col("sz")).cast("int")
              + 1)).first()
    assert prefix < 0.5 * full


def test_pagerank_weighted_forms_agree_and_scale_invariant(spark):
    """r5 session 3 weighted PageRank: (a) grouped and iterative forms
    agree on a weighted multi-component graph; (b) globally scaling
    every weight leaves ranks unchanged; (c) shifting weight toward a
    vertex raises its rank vs the unweighted run."""
    from pyspark.sql import functions as F

    from bigdata_spark_assignment_spark.operators.dedup import (
        neardup_clusters,
        pagerank,
        pagerank_by_component,
    )
    pairs = spark.createDataFrame(
        [(1, 2, 10.0), (1, 3, 1.0), (2, 3, 1.0),   # triangle, 2 favored
         (7, 8, 5.0), (8, 9, 5.0)],                # chain
        ["id_a", "id_b", "wt"])
    labels = neardup_clusters(pairs)
    it = {r.id: round(r.rank, 9) for r in
          pagerank(pairs, broadcast_ranks=True, weight_col="wt")
          .collect()}
    gr = {r.id: round(r.rank, 9) for r in
          pagerank_by_component(pairs, labels, weight_col="wt")
          .collect()}
    assert set(it) == set(gr) == {1, 2, 3, 7, 8, 9}
    assert all(abs(it[k] - gr[k]) < 1e-9 for k in it)

    scaled = pairs.withColumn("wt", F.col("wt") * 1000.0)
    sc = {r.id: round(r.rank, 9) for r in
          pagerank_by_component(scaled, labels, weight_col="wt")
          .collect()}
    assert all(abs(sc[k] - gr[k]) < 1e-9 for k in gr)

    unw = {r.id: r.rank for r in
           pagerank_by_component(pairs, labels).collect()}
    # vertices 1 and 2 share the heavy edge; both gain over uniform
    assert gr[2] > unw[2] and gr[3] < unw[3]


def test_triangle_counts_known_graph(spark):
    """r5 session 3: hand-checked triangle counts — K4 (every vertex in
    3 triangles), one extra triangle sharing a vertex, a path (zero),
    reversed/duplicate edge inputs normalized."""
    from bigdata_spark_assignment_spark.operators.dedup import (
        triangle_counts,
    )
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    extra = [(4, 10), (10, 11), (11, 4)]      # triangle at vertex 4
    path = [(20, 21), (21, 22)]
    dups = [(2, 1), (1, 2)]                   # reversed + duplicate
    df = spark.createDataFrame(k4 + extra + path + dups,
                               ["id_a", "id_b"])
    got = {r.id: r.n_triangles for r in triangle_counts(df).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 4, 10: 1, 11: 1,
                   20: 0, 21: 0, 22: 0}


def test_bfs_hops_hand_graph_and_forms_agree(spark):
    """r5 session 4: hop distances on a hand-checkable multi-component
    graph — the grouped per-component BFS and the per-level distributed
    frontier BFS must agree exactly, and the distances are the known
    ones (star: all 1; chain: position; triangle: ≤1)."""
    from bigdata_spark_assignment_spark.operators.dedup import (
        bfs_hops,
        bfs_hops_by_component,
        neardup_clusters,
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (1, 5),          # star around 1
         (10, 11), (11, 12), (12, 13), (13, 14),  # chain from 10
         (20, 21), (21, 22), (22, 20)],           # triangle
        ["id_a", "id_b"])
    labels = neardup_clusters(pairs)
    grouped = {r.id: r.hops for r in
               bfs_hops_by_component(pairs, labels).collect()}
    seeds = labels.select("cluster_id").distinct() \
                  .withColumnRenamed("cluster_id", "id")
    iterative = {r.id: r.hops for r in bfs_hops(pairs, seeds).collect()}
    assert grouped == iterative
    expect = {1: 0, 2: 1, 3: 1, 4: 1, 5: 1,
              10: 0, 11: 1, 12: 2, 13: 3, 14: 4,
              20: 0, 21: 1, 22: 1}
    assert grouped == expect


def test_bfs_max_hops_truncates_both_forms(spark):
    """Vertices beyond max_hops are omitted — identically by both
    forms (the oracle mirrors the same recursion bound)."""
    from bigdata_spark_assignment_spark.operators.dedup import (
        bfs_hops,
        bfs_hops_by_component,
        neardup_clusters,
    )
    chain = [(i, i + 1) for i in range(1, 8)]   # 1-2-...-8, seed 1
    pairs = spark.createDataFrame(chain, ["id_a", "id_b"])
    labels = neardup_clusters(pairs)
    grouped = {r.id: r.hops for r in
               bfs_hops_by_component(pairs, labels, max_hops=3).collect()}
    seeds = labels.select("cluster_id").distinct() \
                  .withColumnRenamed("cluster_id", "id")
    iterative = {r.id: r.hops for r in
                 bfs_hops(pairs, seeds, max_hops=3).collect()}
    assert grouped == iterative == {1: 0, 2: 1, 3: 2, 4: 3}


def test_sssp_hand_graph_and_forms_agree(spark):
    """r5 session 5: weighted shortest paths — a graph where the
    cheapest path is NOT the fewest-hop path, grouped Bellman-Ford ==
    distributed per-round relaxation, multi-component isolation."""
    from bigdata_spark_assignment_spark.operators.dedup import (
        neardup_clusters,
        sssp,
        sssp_by_component,
    )
    pairs = spark.createDataFrame(
        [(1, 2, 10), (2, 3, 10), (1, 3, 50),   # 1→3: 20 via 2, not 50
         (1, 4, 1), (4, 5, 1), (5, 3, 1),      # and 3 via 4,5 costs 3
         (20, 21, 7)],                         # second component
        ["id_a", "id_b", "weight"])
    labels = neardup_clusters(pairs.select("id_a", "id_b"))
    grouped = {r.id: r.dist for r in
               sssp_by_component(pairs, labels).collect()}
    seeds = labels.select("cluster_id").distinct() \
                  .withColumnRenamed("cluster_id", "id")
    iterative = {r.id: r.dist for r in sssp(pairs, seeds).collect()}
    assert grouped == iterative
    assert grouped == {1: 0, 2: 10, 3: 3, 4: 1, 5: 2, 20: 0, 21: 7}


def test_sssp_hop_bound_contract_both_forms(spark):
    """The documented semantics: min weight over paths of at most
    max_rounds edges. With a bound of 2, the cheap 3-edge detour is
    invisible and the direct edge wins — identically in both forms."""
    from bigdata_spark_assignment_spark.operators.dedup import (
        neardup_clusters,
        sssp,
        sssp_by_component,
    )
    pairs = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 1), (3, 4, 1),      # 3-edge path cost 3
         (1, 4, 100)],                          # 1-edge path cost 100
        ["id_a", "id_b", "weight"])
    labels = neardup_clusters(pairs.select("id_a", "id_b"))
    grouped = {r.id: r.dist for r in
               sssp_by_component(pairs, labels, max_rounds=2).collect()}
    seeds = labels.select("cluster_id").distinct() \
                  .withColumnRenamed("cluster_id", "id")
    iterative = {r.id: r.dist for r in
                 sssp(pairs, seeds, max_rounds=2).collect()}
    assert grouped == iterative
    assert grouped[4] == 100 and grouped[3] == 2


def test_kcore_hand_graph_and_forms_agree(spark):
    """r6: bounded coreness on a hand-checkable graph — chain
    appendages peel to 1, cycle vertices to 2, K4 vertices to 3; the
    grouped per-component peel and the distributed peel agree."""
    from bigdata_spark_assignment_spark.operators.dedup import (
        kcore_by_component,
        kcore_membership,
        neardup_clusters,
    )
    pairs = spark.createDataFrame(
        # K4 (coreness 3) with a tail 5-6 (coreness 1)
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5),
         (5, 6),
         # 4-cycle (coreness 2) with a pendant 24
         (10, 11), (11, 12), (12, 13), (13, 10), (13, 24),
         # bare chain (all coreness 1)
         (30, 31), (31, 32)],
        ["id_a", "id_b"])
    labels = neardup_clusters(pairs)
    grouped = {r.id: r.coreness for r in
               kcore_by_component(pairs, labels, k_max=3).collect()}
    expect = {1: 3, 2: 3, 3: 3, 4: 3, 5: 1, 6: 1,
              10: 2, 11: 2, 12: 2, 13: 2, 24: 1,
              30: 1, 31: 1, 32: 1}
    assert grouped == expect
    in2 = {r.id for r in kcore_membership(pairs, 2).collect()}
    in3 = {r.id for r in kcore_membership(pairs, 3).collect()}
    distributed = {v: 1 + (v in in2) + (v in in3) for v in grouped}
    assert distributed == expect


def test_kcore_membership_round_bound_raises(spark):
    """The distributed peel must refuse (not silently disagree with
    the bounded-round oracle) when the fixpoint needs more rounds
    than the bound: a 9-chain peels from both ends in 4 rounds, so
    max_rounds=2 raises and max_rounds=4 converges to empty."""
    import pytest as _pytest

    from bigdata_spark_assignment_spark.operators.dedup import (
        kcore_membership,
    )
    chain = [(i, i + 1) for i in range(1, 10)]
    pairs = spark.createDataFrame(chain, ["id_a", "id_b"])
    with _pytest.raises(RuntimeError, match="did not converge"):
        kcore_membership(pairs, 2, max_rounds=2).collect()
    stats = []
    assert kcore_membership(pairs, 2, max_rounds=8,
                            round_stats=stats).count() == 0
    assert stats[-1]["converged"] and len(stats) <= 6


def test_dbscan_from_pairs_core_border_noise(spark):
    """Hand graph: a 4-clique + attached border point, a triangle, and
    a sparse 2-chain — DBSCAN must keep the dense parts and drop the
    chain as noise, unlike plain CC which would keep it."""
    from bigdata_spark_assignment_spark.operators.dedup import (
        dbscan_from_pairs,
        neardup_clusters,
    )

    clique = [(a, b) for i, a in enumerate([1, 2, 3, 4])
              for b in [1, 2, 3, 4][i + 1:]]
    pairs = clique + [(1, 5)] + [(20, 21), (20, 22), (21, 22)] + [(10, 11)]
    pdf = spark.createDataFrame(pairs, "id_a long, id_b long")
    labels = neardup_clusters(pdf)
    dbs = dbscan_from_pairs(pdf, labels, min_pts=3)

    core = {r["id"]: r["cl"] for r in dbs["core"].collect()}
    border = {r["id"]: r["cl"] for r in dbs["border"].collect()}
    assert core == {1: 1, 2: 1, 3: 1, 4: 1, 20: 20, 21: 20, 22: 20}
    assert border == {5: 1}
    # chain members are neither core nor border -> noise
    assert 10 not in core and 10 not in border
    assert 11 not in core and 11 not in border
    # plain CC, by contrast, keeps the chain as a cluster
    cc = {r["id"]: r["cluster_id"] for r in labels.collect()}
    assert cc[10] == cc[11] == 10


def test_dbscan_isolated_core_is_singleton_cluster(spark):
    """A star center with min_pts=2 whose spokes are non-core: the
    center forms a singleton density cluster, spokes become border."""
    from bigdata_spark_assignment_spark.operators.dedup import (
        dbscan_from_pairs,
        neardup_clusters,
    )

    pdf = spark.createDataFrame([(7, 8), (7, 9), (7, 10)],
                                "id_a long, id_b long")
    labels = neardup_clusters(pdf)
    dbs = dbscan_from_pairs(pdf, labels, min_pts=4)
    core = {r["id"]: r["cl"] for r in dbs["core"].collect()}
    border = {r["id"]: r["cl"] for r in dbs["border"].collect()}
    assert core == {7: 7}          # deg 3 + 1 >= 4, no core neighbors
    assert border == {8: 7, 9: 7, 10: 7}


def test_label_propagation_splits_bridged_communities(spark):
    """Two 4-cliques bridged by one edge: CC glues them into one
    component, 4-round synchronous LPA keeps two plurality
    communities (each clique's min id)."""
    from bigdata_spark_assignment_spark.operators.dedup import (
        label_propagation,
        neardup_clusters,
    )

    c1 = [(a, b) for i, a in enumerate([1, 2, 3, 4])
          for b in [1, 2, 3, 4][i + 1:]]
    c2 = [(a, b) for i, a in enumerate([10, 11, 12, 13])
          for b in [10, 11, 12, 13][i + 1:]]
    pairs = spark.createDataFrame(c1 + c2 + [(4, 10)],
                                  "id_a long, id_b long")
    cc = {r["id"]: r["cluster_id"]
          for r in neardup_clusters(pairs).collect()}
    assert len(set(cc.values())) == 1          # one reachable blob
    lpa = {r["id"]: r["label"]
           for r in label_propagation(pairs, rounds=4).collect()}
    assert {lpa[i] for i in (1, 2, 3)} == {1}
    assert {lpa[i] for i in (11, 12, 13)} == {10}
    assert len(set(lpa.values())) == 2         # two communities


def test_lpa_grouped_equals_iterative(spark):
    """lpa_by_component (grouped numpy) must be row-identical to the
    distributed iterative label_propagation on a mixed graph."""
    from bigdata_spark_assignment_spark.operators.dedup import (
        label_propagation,
        lpa_by_component,
        neardup_clusters,
    )

    import random
    rng = random.Random(11)
    edges = {(a, a + 1) for a in range(0, 20, 2)}          # 2-chains
    edges |= {(30 + a, 30 + b) for a in range(5)
              for b in range(a + 1, 5)}                    # 5-clique
    edges |= {(rng.randrange(50, 70), rng.randrange(50, 70))
              for _ in range(40)}
    edges = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    pairs = spark.createDataFrame(sorted(edges), "id_a long, id_b long")
    it = sorted((r["id"], r["label"])
                for r in label_propagation(pairs, rounds=4).collect())
    gr = sorted((r["id"], r["label"])
                for r in lpa_by_component(
                    pairs, neardup_clusters(pairs), rounds=4).collect())
    assert it == gr and len(it) > 0


def test_modularity_nano_two_triangles(spark):
    """Two triangles bridged by one edge, perfectly partitioned:
    Q = 2·(3/7 − (7/14)²) = 0.357142857…, nano-rounded per community
    term (178571429 each)."""
    from bigdata_spark_assignment_spark.operators.dedup import (
        modularity_nano,
    )

    edges = [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    labels = spark.createDataFrame(
        [(i, 1) for i in (1, 2, 3)] + [(i, 4) for i in (4, 5, 6)],
        "id long, label long")
    row = modularity_nano(pairs, labels).collect()[0]
    assert (row["n_communities"], row["m_edges"]) == (2, 7)
    assert row["q_nano"] == 2 * 178571429
    # one-community partition scores Q = 0 exactly
    one = spark.createDataFrame([(i, 1) for i in range(1, 7)],
                                "id long, label long")
    assert modularity_nano(pairs, one).collect()[0]["q_nano"] == 0
