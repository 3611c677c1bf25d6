"""The r15 Arrow assignment kernel must be BIT-EQUAL to the JVM
expression form it replaced (_semdedup_assigned_sql, retained as the
reference): same cells, same 6-dp cent_sims, same _v/_n doubles. The
kernel accumulates dots and squared norms column-by-column, which
reproduces the JVM left fold's exact IEEE add order — this test pins
that contract on real data and on the zero-norm / zero-centroid /
tie branches."""

from flink_user_behavior_analysis_spark.operators.similarity import (
    _semdedup_assigned,
    _semdedup_assigned_sql,
)


def _assert_bit_equal(a, b, msg):
    assert a.exceptAll(b).count() == 0, f"{msg}: kernel-only rows"
    assert b.exceptAll(a).count() == 0, f"{msg}: sql-only rows"


def test_assign_kernel_equals_sql_on_corpus(spark, sf_dir):
    from flink_user_behavior_analysis_spark.queries_pipeline import (
        _embs,
        _semdedup_read_centroids_or_fit,
    )

    cents = _semdedup_read_centroids_or_fit(spark)
    embs = _embs(spark, sf_dir)
    _assert_bit_equal(
        _semdedup_assigned(embs, cents, "vec_id", "embedding"),
        _semdedup_assigned_sql(embs, cents, "vec_id", "embedding"),
        "corpus")


def test_assign_kernel_edge_branches(spark):
    # zero centroid (whole column pinned 0.0), zero vector (sim 0.0),
    # exact ties (argmax must take the FIRST max both sides), NULL
    # vector (only the zero centroid's 0.0 survives array_max) and a
    # ragged vector (a length mismatch is a NULL cosine, not a
    # truncated dot); without the zero centroid both of the last two
    # give a NULL cell and cent_sim
    cents = [[0.0, 0.0, 0.0, 0.0],
             [1.0, 0.0, 0.0, 0.0],
             [1.0, 0.0, 0.0, 0.0]]
    vecs = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0, 0.0]),
         (2, [0.5, 0.25, -0.125, 1.0]),
         (3, [1.0, 0.0, 0.0, 0.0]),
         (4, [-1.0, 0.03125, 0.0, 0.0]),
         (5, None),
         (6, [1.0, 0.5])],
        "vec_id long, embedding array<double>")
    for name, cs in (("edge", cents), ("edge-no-zero-centroid", cents[1:])):
        _assert_bit_equal(
            _semdedup_assigned(vecs, cs, "vec_id", "embedding"),
            _semdedup_assigned_sql(vecs, cs, "vec_id", "embedding"),
            name)
