"""Engine facade + CLI entry point."""

import os

import pytest

from flink_user_behavior_analysis_spark.__main__ import main as cli_main
from flink_user_behavior_analysis_spark.engine import Engine
from flink_user_behavior_analysis_spark.queries_reference import FIXTURES


def test_engine_query_and_sql(spark, sf_dir):
    eng = Engine(sf_dir, spark=spark)
    assert "hot_items" in eng.list_queries()
    assert eng.query("hot_items").count() > 0
    assert eng.sql("SELECT count(*) AS n FROM events").collect()[0].n > 0
    assert eng.oracle_sql("hot_items") is not None
    assert eng.oracle_sql("unique_visitors_approx") is not None
    with pytest.raises(KeyError, match="unknown query"):
        eng.query("nope")


@pytest.mark.skipif(
    not all(os.path.exists(p) for p in FIXTURES.values()),
    reason="reference fixtures not available",
)
def test_engine_reference_query(spark, sf_dir):
    eng = Engine(sf_dir, spark=spark, register_sql_views=False)
    assert eng.reference_query("ref_login_fail").count() > 0


def test_cli_list_and_run(spark, sf_dir, capsys):
    assert cli_main(["--list"]) == 0
    out = capsys.readouterr().out
    assert "hot_items" in out and "ref_hot_pages" in out
    assert cli_main(["page_views", "--sf-dir", sf_dir, "--limit", "3"]) == 0
    out = capsys.readouterr()
    assert "window_end_us" in out.out
    assert "# rows: more than 3" in out.err
    assert cli_main(
        ["--sql", "SELECT count(*) AS n FROM events", "--sf-dir", sf_dir, "--json"]
    ) == 0
    out = capsys.readouterr()
    assert '"n"' in out.out and "# rows: 1" in out.err


def test_cli_stream_drains_an_append_only_twin(spark, sf_dir, capsys):
    """--stream drains a twin in its table's output mode: an append-only
    twin (a stream-stream join) fails in complete mode."""
    assert cli_main(["tx_interval_join", "--stream", "--sf-dir", sf_dir]) == 0
    out = capsys.readouterr()
    assert "pay_us" in out.out and "# rows: 0" in out.err
