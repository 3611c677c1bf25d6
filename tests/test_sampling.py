"""Unit tests for deterministic sampling/splitting
(operators/sampling.py): reproducibility, stability under
repartitioning, weight normalization, and seed independence.
"""

from flink_user_behavior_analysis_spark.operators import (
    hash_sample,
    hash_split,
)

SPLITS = [("train", 8.0), ("val", 1.0), ("test", 1.0)]  # unnormalized


def _ids(spark, n=500):
    return spark.range(n).withColumnRenamed("id", "doc_id")


def test_split_deterministic_and_partition_stable(spark):
    df = _ids(spark)
    a = {r["doc_id"]: r["split"]
         for r in hash_split(df, SPLITS, "doc_id").collect()}
    b = {r["doc_id"]: r["split"]
         for r in hash_split(df.repartition(17), SPLITS, "doc_id").collect()}
    assert a == b
    # unnormalized weights behave as 0.8/0.1/0.1
    from collections import Counter
    c = Counter(a.values())
    assert set(c) == {"train", "val", "test"}
    assert c["train"] > c["val"] and c["train"] > c["test"]


def test_subset_rows_keep_assignments(spark):
    # adding/removing rows never migrates existing ids between splits
    full = {r["doc_id"]: r["split"]
            for r in hash_split(_ids(spark, 500), SPLITS, "doc_id").collect()}
    half = {r["doc_id"]: r["split"]
            for r in hash_split(_ids(spark, 250), SPLITS, "doc_id").collect()}
    assert all(full[i] == s for i, s in half.items())


def test_sample_rate_and_seed(spark):
    df = _ids(spark, 1000)
    kept = hash_sample(df, 0.3, "doc_id").count()
    assert 200 < kept < 400
    s1 = {r["doc_id"] for r in hash_sample(df, 0.3, "doc_id", "a").collect()}
    s2 = {r["doc_id"] for r in hash_sample(df, 0.3, "doc_id", "b").collect()}
    assert s1 != s2  # different seeds give different samples


def test_gumbel_topk_is_weight_biased_and_seed_reproducible(spark, sf_dir):
    """weighted_sample_k semantics: same seed reproduces the exact
    sample; a different seed redraws; and across seeds the sample is
    BIASED toward high weights (softmax sampling, not uniform) while
    not just the deterministic head (diversity: some sampled rows sit
    outside the top-k by weight at a warm temperature)."""
    from pyspark.sql import functions as F

    from flink_user_behavior_analysis_spark.operators.sampling import (
        weighted_sample_k,
    )
    from flink_user_behavior_analysis_spark.operators.text import (
        dsir_weights,
    )
    from flink_user_behavior_analysis_spark.queries_pipeline import _docs

    docs = _docs(spark, sf_dir)
    w = dsir_weights(docs, F.col("source").isin("src0", "src1")).persist()
    try:
        k = 40
        s1 = {r.doc_id for r in
              weighted_sample_k(w, "logw", k, temperature=1.0,
                                seed="a").collect()}
        s1b = {r.doc_id for r in
               weighted_sample_k(w, "logw", k, temperature=1.0,
                                 seed="a").collect()}
        s2 = {r.doc_id for r in
              weighted_sample_k(w, "logw", k, temperature=1.0,
                                seed="b").collect()}
        assert s1 == s1b and len(s1) == k
        assert s1 != s2, "different seeds must redraw"

        rows = {r.doc_id: r.logw for r in w.collect()}
        corpus_mean = sum(rows.values()) / len(rows)
        head = set(sorted(rows, key=lambda d: (-rows[d], d))[:k])
        for s in (s1, s2):
            samp_mean = sum(rows[d] for d in s) / k
            assert samp_mean > corpus_mean, (
                "weighted sample is not biased toward high weights")
            assert s - head, (
                "sample equals the deterministic head — no diversity; "
                "temperature too cold for the weight scale")
    finally:
        w.unpersist()


def test_temperature_mixture_rates_and_flattening(spark, sf_dir):
    """mT5 alpha-sampling properties on the zipf-skewed lang column
    (source sizes are uniform in the testdata — alpha-sampling over
    them is a no-op, which is why the registered query groups by
    lang): the smallest language keeps everything (rate 1.0 after
    normalization), alpha=1 reproduces the corpus (all rates 1), and
    decreasing alpha FLATTENS the kept mixture — the max/min language
    share ratio strictly shrinks."""
    from pyspark.sql import functions as F

    from flink_user_behavior_analysis_spark.operators.sampling import (
        temperature_mixture,
    )
    from flink_user_behavior_analysis_spark.queries_pipeline import _docs

    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    n_docs = docs.count()

    # alpha=1: r_g = n_g^0 = 1 for every group -> keeps everything
    kept_all = temperature_mixture(docs, alpha=1.0, group_col="lang")
    assert kept_all.count() == n_docs
    assert {float(r.rate) for r in
            kept_all.select("rate").distinct().collect()} == {1.0}

    counts = {r.lang: r.cnt for r in
              docs.groupBy("lang").agg(
                  F.count(F.lit(1)).alias("cnt")).collect()}
    smallest = min(counts, key=counts.get)

    def share_ratio(alpha):
        kept = temperature_mixture(docs, alpha=alpha, group_col="lang")
        by = {r.lang: (r.cnt, r.rate) for r in
              kept.groupBy("lang", "rate").agg(
                  F.count(F.lit(1)).alias("cnt")).collect()}
        # smallest language's rate normalizes to 1.0 -> fully kept
        assert by[smallest][1] == 1.0
        assert by[smallest][0] == counts[smallest]
        shares = [c for c, _r in by.values()]
        return max(shares) / min(shares)

    raw_ratio = max(counts.values()) / min(counts.values())
    assert raw_ratio > 1.5, "lang column lost its skew — fix the test"
    r_07, r_03 = share_ratio(0.7), share_ratio(0.3)
    assert raw_ratio > r_07 > r_03, (raw_ratio, r_07, r_03)

    # determinism: same alpha+seed reproduces the exact kept set
    a = {r.doc_id for r in
         temperature_mixture(docs, 0.5, group_col="lang").collect()}
    b = {r.doc_id for r in
         temperature_mixture(docs.repartition(13), 0.5,
                             group_col="lang").collect()}
    assert a == b
