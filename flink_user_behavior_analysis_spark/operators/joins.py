"""Two-stream joins: interval join and full-outer reconciliation
(SURVEY.md section 2.6 J1/J2).

Reference:
- J1 TxPayMatchByJoin.java:63-93 — Flink intervalJoin on txId,
  receipt.ts in [pay.ts - 3s, pay.ts + 5s], inner, emits (pay, receipt).
- J2 TxPayMatch.java:65-170 — connected keyed streams, CoProcessFunction
  with per-side ValueState + timers; unmatched sides go to
  `unmatched-pays` / `unmatched-receipts` side outputs.

Spark-first: the interval join is an equi-join with a time-band
residual predicate — Catalyst plans it as a sort-merge (or broadcast)
hash join on the equi keys with the band as a post-join filter, which
is the scalable shape (never a cross product). The reconciliation is
the same join plus two anti-joins for the unmatched sides; side
outputs become a dict of named DataFrames (engine convention,
SURVEY.md section 7b).
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _band_condition(
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    lower_seconds: float,
    upper_seconds: float,
) -> Column:
    """right.ts in [left.ts + lower, left.ts + upper] plus key equality,
    over the sides aliased ``left`` and ``right``."""
    lo_us = int(lower_seconds * 1_000_000)
    hi_us = int(upper_seconds * 1_000_000)
    eq = [F.col(f"left.{k}") == F.col(f"right.{k}") for k in on]
    l_us = F.unix_micros(F.col(f"left.{left_ts}"))
    r_us = F.unix_micros(F.col(f"right.{right_ts}"))
    band = (r_us >= l_us + F.lit(lo_us)) & (r_us <= l_us + F.lit(hi_us))
    return reduce(lambda a, b: a & b, eq + [band])


def interval_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    lower_seconds: float,
    upper_seconds: float,
    how: str = "inner",
) -> DataFrame:
    """Time-banded equi join (J1). Emits every qualifying pair, like
    Flink's intervalJoin (TxPayMatchByJoin.java:66 between(-3s, +5s)).
    The sides are aliased ``left`` and ``right``: select their columns
    as ``F.col("left.<name>")`` / ``F.col("right.<name>")``.
    """
    cond = _band_condition(on, left_ts, right_ts, lower_seconds, upper_seconds)
    return left.alias("left").join(right.alias("right"), cond, how)


def reconcile(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    lower_seconds: float,
    upper_seconds: float,
) -> dict[str, DataFrame]:
    """Full-outer two-stream match with unmatched routing (J2).

    Returns {'matched': pairs, 'unmatched_left': ..., 'unmatched_right': ...}
    mirroring the reference's main + two side outputs
    (TxPayMatch.java:71-73, 157-163). The anti-joins reuse the same
    equi keys, so all three legs share one shuffle layout of each input.
    The sides are aliased ``left`` and ``right`` as in ``interval_join``,
    so the condition names each side explicitly even when both derive
    from one frame (a self-join).
    """
    cond = _band_condition(on, left_ts, right_ts, lower_seconds, upper_seconds)
    lhs, rhs = left.alias("left"), right.alias("right")
    matched = lhs.join(rhs, cond, "inner")
    unmatched_left = lhs.join(rhs, cond, "left_anti")
    # anti-join with the band seen from the right side
    unmatched_right = rhs.join(lhs, cond, "left_anti")
    return {
        "matched": matched,
        "unmatched_left": unmatched_left,
        "unmatched_right": unmatched_right,
    }
