"""Driver-gate replica: every registered query with an oracle must
hash-match the DuckDB formulation on sf0.001 (fast inner loop; the
driver runs the same comparison at sf0.01)."""

import pytest

from flink_user_behavior_analysis_spark import queries as Q
from flink_user_behavior_analysis_spark.sources import with_item

from .oracle_util import compare

ORACLED = sorted(Q.ORACLES)


def test_oracle_keys_subset_of_queries():
    assert set(Q.ORACLES) <= set(Q.QUERIES)


@pytest.mark.parametrize("name", ORACLED)
def test_query_matches_oracle(spark, sf_dir, name):
    df = Q.QUERIES[name](spark, sf_dir)
    compare(df, Q.ORACLES[name], sf_dir)


def test_every_query_runs(spark, sf_dir):
    for name, fn in Q.QUERIES.items():
        df = fn(spark, sf_dir)
        assert df.count() >= 0, name


def test_nonempty_results(spark, sf_dir):
    """Queries should produce rows on the smoke data (guards against
    vacuous filters making the oracle comparison trivially pass)."""
    must_be_nonempty = [
        "hot_items", "hot_pages", "page_views", "unique_visitors",
        "marketing_by_channel", "marketing_total", "ad_stats_by_province",
        "login_fail", "order_timeout", "tx_match",
        "sessionize_users", "pricing_summary", "revenue_by_nation",
        "top_customers_per_segment",
        "dedup_exact", "dedup_ngram_jaccard", "dedup_minhash_lsh",
        "ann_topk", "ann_topk_lsh", "text_stats", "language_id",
        "doc_fingerprints", "multimodal_meta", "multimodal_decode",
        "frame_sample",
    ]
    for name in must_be_nonempty:
        assert Q.QUERIES[name](spark, sf_dir).count() > 0, name


@pytest.mark.parametrize("name", ["tx_interval_join", "tx_match"])
def test_self_join_needs_no_ambiguity_rewrite(spark, sf_dir, name):
    """Pays and receipts both derive from one ``events`` frame, so the
    join condition must name its sides (the ``left``/``right`` aliases of
    operators/joins.py). Comparing ``pays[k] == receipts[k]`` instead
    is ``k == k`` on one attribute, right only while
    ``selfJoinAutoResolveAmbiguity`` rewrites it; with the rewrite off
    it joins every pay to every receipt."""
    key = "spark.sql.selfJoinAutoResolveAmbiguity"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        compare(Q.QUERIES[name](spark, sf_dir), Q.ORACLES[name], sf_dir)
    finally:
        spark.conf.set(key, prev)


def test_item_id_is_null_without_k(spark):
    """item_id is the long after ``"k":`` in props, NULL when props is
    NULL or has no ``"k"`` entry, as DuckDB's TRY_CAST (DUCK_ITEM) reads
    it; under ANSI mode a plain cast raises CAST_INVALID_INPUT instead."""
    import duckdb

    props = ['{"x": 1}', '{"k": 87}', None]
    df = spark.createDataFrame(list(enumerate(props)),
                               "event_id long, props string")
    got = [r.item_id for r in with_item(df).orderBy("event_id").collect()]
    assert got == [None, 87, None]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INTEGER, props VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(props)))
    assert [r[0] for r in con.execute(
        f"SELECT {Q.DUCK_ITEM} FROM t ORDER BY i").fetchall()] == got
