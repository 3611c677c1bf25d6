"""Gap-based sessionization (engine extension; not in the reference's
inventory but a first-class primitive for behavior analytics and the
batch analogue of Spark's streaming session_window).

Classic lag+cumsum: a new session starts when the gap from the
previous event of the same key exceeds the threshold. Two window
passes over one shuffle on the key.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    gap_seconds: float,
    order_tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Assign session ids and aggregate per session.

    Output: keys + session_start_us + session_end_us + n_events.
    """
    gap_us = int(gap_seconds * 1_000_000)
    order = [F.col(ts_col)] + [F.col(c) for c in order_tiebreak]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    ts_us = F.unix_micros(F.col(ts_col))
    marked = df.withColumn("_ts_us", ts_us).withColumn(
        "_new",
        F.when(
            F.col("_ts_us") - F.lag("_ts_us").over(w) > gap_us, F.lit(1)
        ).otherwise(F.lit(0)),
    )
    sessioned = marked.withColumn(
        "session_id",
        F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sessioned.groupBy(*key_cols, "session_id").agg(
        F.min("_ts_us").alias("session_start_us"),
        F.max("_ts_us").alias("session_end_us"),
        F.count(F.lit(1)).alias("n_events"),
    )


def session_aggregate(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    gap_seconds: float,
) -> DataFrame:
    """(w, keys..., session_start_us, session_end_us, n_events) per
    ``session_window`` and key; streams as it stands."""
    win = F.session_window(F.col(ts_col), f"{gap_seconds} seconds")
    return df.groupBy(win.alias("w"), *key_cols).agg(
        F.min(F.unix_micros(F.col(ts_col))).alias("session_start_us"),
        F.max(F.unix_micros(F.col(ts_col))).alias("session_end_us"),
        F.count(F.lit(1)).alias("n_events"),
    )


def sessionize_native(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    gap_seconds: float,
) -> DataFrame:
    """Same output as ``sessionize`` via Spark's built-in
    ``session_window`` — the idiomatic engine path. Its
    ``session_aggregate`` stage is the one form that also runs under
    Structured Streaming (state-store-backed session merging with
    watermark eviction; the lag+cumsum form needs a full sort per key
    and cannot stream, nor can the per-key numbering here).

    Boundary note: session_window closes a session when the next event
    is >= gap after the previous (window end = last_ts + gap,
    half-open), while the lag+cumsum form breaks on gap-STRICTLY-
    exceeded; an event at exactly prev + gap therefore starts a new
    session here but extends the old one there. Equivalence holds for
    any data without exact-boundary gaps (microsecond event times make
    collisions measure-zero; the equivalence test asserts exact
    equality on the testdata).

    session_id reproduces the cumsum numbering: the 0-based index of
    the session within its key, ordered by session start.
    """
    order = Window.partitionBy(*key_cols).orderBy("session_start_us")
    return session_aggregate(df, key_cols, ts_col, gap_seconds).select(
        *key_cols,
        (F.row_number().over(order) - 1).cast("long").alias("session_id"),
        "session_start_us", "session_end_us", "n_events",
    )
