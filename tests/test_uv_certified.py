"""unique_visitors_certified deduplicates (window, user) before it
counts. These tests pin both raw numbers behind the certificate, not
only within_bound: uv_exact equals a Python set count, and _uv_approx
equals approx_count_distinct over the raw rows of each window (HLL++
ignores duplicates), on NULL users, an all-NULL window, an empty input
and sliding windows."""

from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from flink_user_behavior_analysis_spark.operators import (
    unique_visitors_certified,
    windowed_agg,
)
from flink_user_behavior_analysis_spark.operators.uv import _uv_exact_and_approx

T0_S = 1_767_225_600  # 2026-01-01 00:00:00 UTC
HOUR_US = 3600 * 1_000_000
RSD = 0.02
SCHEMA = "ts timestamp, user_id long"


def _ts(sec):
    return datetime.fromtimestamp(sec, tz=timezone.utc)


def _rows():
    """(epoch seconds, user): ~2500 users with repeats over five hours,
    every 97th user NULL, and hour 7 holding NULL users only."""
    rows = [(T0_S + 3600 * (i % 5) + i % 3571,
             None if i % 97 == 0 else (i * 7919) % 2500) for i in range(6000)]
    return rows + [(T0_S + 7 * 3600 + 60 * m, None) for m in range(4)]


def _python_exact(rows, size_h, slide_h):
    """{window_end_us: distinct non-NULL users} over epoch-aligned windows."""
    out = {}
    for sec, user in rows:
        us = sec * 1_000_000
        start = us - us % (slide_h * HOUR_US)
        while start > us - size_h * HOUR_US:
            users = out.setdefault(start + size_h * HOUR_US, set())
            if user is not None:
                users.add(user)
            start -= slide_h * HOUR_US
    return {end: len(users) for end, users in out.items()}


@pytest.mark.parametrize("size,slide", [("1 hour", None), ("2 hours", "1 hour")])
def test_exact_and_estimate_are_pinned(spark, size, slide):
    rows = _rows()
    df = spark.createDataFrame([(_ts(sec), u) for sec, u in rows], SCHEMA)
    got = {r.window_end_us: (r.uv_exact, r._uv_approx)
           for r in _uv_exact_and_approx(df, "ts", "user_id", size, slide, RSD).collect()}
    raw = {r.window_end_us: r.est for r in windowed_agg(
        df, "ts", [], size, slide,
        [F.approx_count_distinct("user_id", RSD).alias("est")]).collect()}
    size_h = int(size.split()[0])
    slide_h = int(slide.split()[0]) if slide else size_h
    assert {end: exact for end, (exact, _) in got.items()} == \
        _python_exact(rows, size_h, slide_h)
    assert {end: est for end, (_, est) in got.items()} == raw

    # the all-NULL window: exact 0, estimate 0, certificate 1
    null_end = (T0_S + 8 * 3600) * 1_000_000
    assert got[null_end] == (0, 0)
    cert = {r.window_end_us: (r.uv_exact, r.within_bound) for r in
            unique_visitors_certified(df, "ts", "user_id", size, slide, rsd=RSD).collect()}
    assert cert[null_end] == (0, 1)
    assert set(cert) == set(got)
    assert all(cert[end][0] == got[end][0] for end in got)


def test_empty_input(spark):
    df = spark.createDataFrame([], SCHEMA)
    assert _uv_exact_and_approx(df, "ts", "user_id", "1 hour", None, RSD).collect() == []
    out = unique_visitors_certified(df, "ts", "user_id", "1 hour")
    assert out.collect() == []
    assert out.columns == ["window_end_us", "uv_exact", "within_bound"]
