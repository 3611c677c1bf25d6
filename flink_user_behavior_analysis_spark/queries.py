"""Query registry: every implemented operator from SURVEY.md section 2
exposed as a named query over the driver testdata, paired with an
ANSI-SQL DuckDB oracle computing identical results.

Determinism rules (so the driver's order-insensitive value-hash
matches):
- every event-time output is epoch MICROSECONDS as bigint
  (``unix_micros`` / ``epoch_us``) — no timezone or format ambiguity;
- every ranking has a total-order tiebreak;
- money aggregates use integer-cent arithmetic (round per row to a
  bigint, sum exactly, divide once) so float associativity cannot
  flip a rounded digit;
- ints are cast to bigint on both sides (DuckDB count/sum promote to
  HUGEINT otherwise).

The reference queries run over UserBehavior/AdClick/Login/Order
streams; the driver testdata's ``events`` table (event_id, ts,
user_id, event_type, value, props) is the generic stand-in (see
FIXTURES.md "Driver testdata mapping"): item_id := props.k,
behavior := event_type, fail := event_type='error',
create/pay := view/purchase of the same (user, item).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import (
    asof_join,
    cap_filter_with_warnings,
    consecutive_events,
    followed_by,
    interval_join,
    match_create_pay,
    reconcile,
    sessionize,
    top_n_per_window,
    unique_visitors,
    windowed_count,
    windowed_global_count,
)
from .session import ensure_utc
from .sources import load_table, with_item

US = 1_000_000
HOUR_US = 3600 * US
MIN_US = 60 * US

# DuckDB twin of sources.with_item
DUCK_ITEM = (
    "TRY_CAST(regexp_extract(props, '\"k\":\\s*(\\d+)', 1) AS BIGINT)"
)


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_utc(spark)
    return load_table(spark, sf_dir, "events")


def _duck_sliding_end(size_us: int, slide_us: int, ts: str = "ts") -> str:
    """DuckDB expression producing every sliding-window end (epoch us)
    containing the row — the same epoch-aligned windows Spark's
    window() assigns."""
    return (
        f"unnest(generate_series((epoch_us({ts}) // {slide_us}) * {slide_us} + {slide_us}, "
        f"(epoch_us({ts}) // {slide_us}) * {slide_us} + {size_us}, {slide_us}))"
    )


def _duck_tumbling_end(size_us: int, ts: str = "ts") -> str:
    return f"(epoch_us({ts}) // {size_us}) * {size_us} + {size_us}"


# =====================================================================
# A1 + T1 — hot items: top-3 items per 1h sliding window (slide 15min)
# reference: HotItem.java:70-80 (agg 94-114, rank 134-192)
# =====================================================================

def hot_item_counts(events: DataFrame) -> DataFrame:
    """Per-item view counts per window (HotItem.java:70-75)."""
    ev = with_item(events.where(F.col("event_type") == "view"))
    return windowed_count(ev, "ts", ["item_id"], "1 hour", "15 minutes")


def hot_items_top(counts: DataFrame) -> DataFrame:
    ranked = top_n_per_window(
        counts,
        3,
        order_cols=[F.col("cnt").desc(), F.col("item_id").asc()],
        rank_alias="rnk",
    )
    return ranked.select(
        "window_end_us", "item_id", "cnt", F.col("rnk").cast("long").alias("rnk")
    )


def hot_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hot_items_top(hot_item_counts(_events(spark, sf_dir)))


HOT_ITEMS_SQL = f"""
WITH exploded AS (
    SELECT {DUCK_ITEM} AS item_id,
           {_duck_sliding_end(HOUR_US, 15 * MIN_US)} AS window_end_us
    FROM events WHERE event_type = 'view'
), counts AS (
    SELECT window_end_us, item_id, COUNT(*)::BIGINT AS cnt
    FROM exploded GROUP BY 1, 2
), ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY window_end_us ORDER BY cnt DESC, item_id) AS rnk
    FROM counts
)
SELECT window_end_us, item_id, cnt, rnk::BIGINT AS rnk
FROM ranked WHERE rnk <= 3
"""


# =====================================================================
# A2 + T2 + F3 — hot pages: top-5 event types per 30min window
# (slide 10min), regex-negation filter
# reference: HotPage.java:68-83 (filters 69-73, rank 140-204)
# =====================================================================

def hot_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).where(~F.col("event_type").rlike("^err"))
    counts = windowed_count(ev, "ts", ["event_type"], "30 minutes", "10 minutes")
    ranked = top_n_per_window(
        counts,
        5,
        order_cols=[F.col("cnt").desc(), F.col("event_type").asc()],
        rank_alias="rnk",
    )
    return ranked.select(
        "window_end_us", "event_type", "cnt", F.col("rnk").cast("long").alias("rnk")
    )


HOT_PAGES_SQL = f"""
WITH exploded AS (
    SELECT event_type,
           {_duck_sliding_end(30 * MIN_US, 10 * MIN_US)} AS window_end_us
    FROM events WHERE NOT regexp_matches(event_type, '^err')
), counts AS (
    SELECT window_end_us, event_type, COUNT(*)::BIGINT AS cnt
    FROM exploded GROUP BY 1, 2
), ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY window_end_us ORDER BY cnt DESC, event_type) AS rnk
    FROM counts
)
SELECT window_end_us, event_type, cnt, rnk::BIGINT AS rnk
FROM ranked WHERE rnk <= 5
"""


# =====================================================================
# A6/F1 — page views: tumbling 1h global count of 'click' events
# reference: PageView.java:66-80 (salted two-stage total collapses to
# one Spark aggregate; partial agg handles the hot constant key)
# =====================================================================

def page_view_counts(events: DataFrame) -> DataFrame:
    ev = events.where(F.col("event_type") == "click")
    return windowed_global_count(ev, "ts", "1 hour", count_alias="pv")


def page_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    return page_view_counts(_events(spark, sf_dir))


PAGE_VIEWS_SQL = f"""
SELECT {_duck_tumbling_end(HOUR_US)} AS window_end_us, COUNT(*)::BIGINT AS pv
FROM events WHERE event_type = 'click' GROUP BY 1
"""


# =====================================================================
# A7 — unique visitors: tumbling 1h exact distinct users
# reference: UniqueVisitor.java:48-79 (HashSet -> count_distinct)
# =====================================================================

def unique_visitors_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return unique_visitors(ev, "ts", "user_id", "1 hour", mode="exact")


UNIQUE_VISITORS_SQL = f"""
SELECT {_duck_tumbling_end(HOUR_US)} AS window_end_us,
       COUNT(DISTINCT user_id)::BIGINT AS uv
FROM events GROUP BY 1
"""


# =====================================================================
# A8 — approximate UV (HLL++ replaces the reference's Redis bloom
# filter, UniqueVisitorWithBloomFilter.java:50-171). Registered as the
# SELF-CERTIFYING twin (operators/uv.py:unique_visitors_certified):
# the oracle pins the exact per-window uv AND demands the HLL++
# estimate's |approx-exact|/exact <= 3*rsd certificate be 1 — the
# sketch is hash-gated without exposing engine-specific internals.
# The production operator stays unique_visitors(mode='approx').
# =====================================================================

UV_APPROX_RSD, UV_APPROX_SIGMA = 0.02, 3.0


def unique_visitors_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import unique_visitors_certified

    ev = _events(spark, sf_dir)
    return unique_visitors_certified(ev, "ts", "user_id", "1 day",
                                     rsd=UV_APPROX_RSD,
                                     sigma=UV_APPROX_SIGMA)


UNIQUE_VISITORS_APPROX_SQL = f"""
SELECT {_duck_tumbling_end(24 * HOUR_US)} AS window_end_us,
       COUNT(DISTINCT user_id)::BIGINT AS uv_exact,
       1::BIGINT AS within_bound
FROM events GROUP BY 1
"""


# =====================================================================
# A3/F4 — marketing by channel x behavior, 1h sliding (slide 20min)
# reference: AppMarketingByChannel.java:47-51 + UNINSTALL filter :48
# =====================================================================

def channel_behavior_counts(events: DataFrame) -> DataFrame:
    ev = events.where(F.col("event_type") != "error")
    ev = ev.withColumn(
        "channel", F.concat(F.lit("ch"), (F.col("user_id") % 4).cast("string"))
    ).withColumnRenamed("event_type", "behavior")
    return windowed_count(ev, "ts", ["channel", "behavior"], "1 hour", "20 minutes")


def marketing_by_channel(spark: SparkSession, sf_dir: str) -> DataFrame:
    return channel_behavior_counts(_events(spark, sf_dir))


MARKETING_BY_CHANNEL_SQL = f"""
WITH exploded AS (
    SELECT 'ch' || (user_id % 4)::VARCHAR AS channel,
           event_type AS behavior,
           {_duck_sliding_end(HOUR_US, 20 * MIN_US)} AS window_end_us
    FROM events WHERE event_type <> 'error'
)
SELECT window_end_us, channel, behavior, COUNT(*)::BIGINT AS cnt
FROM exploded GROUP BY 1, 2, 3
"""


# =====================================================================
# A4/M2 — marketing total: global 1h sliding count (slide 20min)
# reference: AppMarketingStatistics.java:49-59
# =====================================================================

def marketing_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).where(F.col("event_type") != "error")
    return windowed_global_count(ev, "ts", "1 hour", "20 minutes")


MARKETING_TOTAL_SQL = f"""
WITH exploded AS (
    SELECT {_duck_sliding_end(HOUR_US, 20 * MIN_US)} AS window_end_us
    FROM events WHERE event_type <> 'error'
)
SELECT window_end_us, COUNT(*)::BIGINT AS cnt FROM exploded GROUP BY 1
"""


# =====================================================================
# A5 — ad clicks by province: events x customer x nation (broadcast
# dims), 1h sliding count per province
# reference: AdStatisticsByProvince.java:49-52
# =====================================================================

def ad_stats_by_province(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).where(F.col("event_type") == "click")
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("province")
    )
    joined = ev.join(
        F.broadcast(customer), ev.user_id == customer.c_custkey, "inner"
    ).join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey, "inner")
    return windowed_count(joined, "ts", ["province"], "1 hour", "20 minutes")


AD_STATS_SQL = f"""
WITH exploded AS (
    SELECT n.n_name AS province,
           {_duck_sliding_end(HOUR_US, 20 * MIN_US, "e.ts")} AS window_end_us
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE e.event_type = 'click'
)
SELECT window_end_us, province, COUNT(*)::BIGINT AS cnt
FROM exploded GROUP BY 1, 2
"""


# =====================================================================
# C2/C1 — consecutive-failure detection (lag-run formulation)
# reference: LoginFail.java:65-196 (n=2, 2s), LoginFailWithCEP.java:62-112
# (times(3).consecutive().within(5s)); fail := event_type='error',
# spans widened to match testdata event spacing.
# =====================================================================

def _login_fail(spark: SparkSession, sf_dir: str, n: int, span_s: int) -> DataFrame:
    ev = _events(spark, sf_dir)
    return consecutive_events(
        ev,
        ["user_id"],
        "ts",
        F.col("event_type") == "error",
        n=n,
        within_seconds=span_s,
        order_tiebreak=["event_id"],
    ).select("user_id", "first_fail_us", "last_fail_us")


LOGIN_FAIL_N, LOGIN_FAIL_SPAN_S = 2, 6 * 3600


def login_fail(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _login_fail(spark, sf_dir, n=LOGIN_FAIL_N, span_s=LOGIN_FAIL_SPAN_S)


def login_fail_cep(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _login_fail(spark, sf_dir, n=3, span_s=12 * 3600)


def _login_fail_sql(n: int, span_s: int) -> str:
    return f"""
WITH seq AS (
    SELECT user_id,
           lag(epoch_us(ts), {n - 1}) OVER w AS first_fail_us,
           epoch_us(ts) AS last_fail_us,
           sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) OVER wr AS run
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
           wr AS (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN {n - 1} PRECEDING AND CURRENT ROW)
)
SELECT user_id, first_fail_us, last_fail_us
FROM seq
WHERE run = {n} AND last_fail_us - first_fail_us <= {span_s * US}
"""


# =====================================================================
# C4 — general followedBy CEP (relaxed contiguity): A followedBy B
# within t over arbitrary predicates
# reference: OrderTimeout.java:52-60 (followedBy contiguity),
# LoginFailWithCEP.java:48-59 (commented 2-step login pattern)
# =====================================================================

FB_SPAN_S = 6 * 3600
VP_SPAN_S = 24 * 3600


def login_fail_fb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-step login-fail pattern with RELAXED contiguity: fail
    followedBy fail within 6h — interleaved successes do not reset
    (contrast login_fail, which is the strict ``next`` form)."""
    is_fail = F.col("event_type") == "error"
    return followed_by(
        _events(spark, sf_dir), ["user_id"], "ts",
        is_fail, is_fail, within_seconds=FB_SPAN_S,
        order_tiebreak=["event_id"],
    ).select(
        "user_id",
        F.col("first_us").alias("first_fail_us"),
        F.col("second_us").alias("next_fail_us"),
    )


LOGIN_FAIL_FB_SQL = f"""
WITH seq AS (
    SELECT user_id, event_type, epoch_us(ts) AS ts_us,
           min(CASE WHEN event_type = 'error' THEN epoch_us(ts) END) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_b_us
    FROM events
)
SELECT user_id, ts_us AS first_fail_us, next_b_us AS next_fail_us
FROM seq
WHERE event_type = 'error' AND next_b_us IS NOT NULL
  AND next_b_us - ts_us <= {FB_SPAN_S * US}
"""


def view_then_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel step via the general CEP operator: view followedBy
    purchase of the same (user, item) within 24h — the J3 create->pay
    shape expressed through followed_by instead of the dedicated
    match_create_pay state machine."""
    ev = with_item(_events(spark, sf_dir))
    return followed_by(
        ev, ["user_id", "item_id"], "ts",
        F.col("event_type") == "view", F.col("event_type") == "purchase",
        within_seconds=VP_SPAN_S, order_tiebreak=["event_id"],
    ).select(
        "user_id", "item_id",
        F.col("first_us").alias("view_us"),
        F.col("second_us").alias("purchase_us"),
    )


VIEW_THEN_PURCHASE_SQL = f"""
WITH ev AS (
    SELECT user_id, {DUCK_ITEM} AS item_id, event_type, ts, event_id
    FROM events
), seq AS (
    SELECT user_id, item_id, event_type, epoch_us(ts) AS ts_us,
           min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) OVER (
               PARTITION BY user_id, item_id ORDER BY ts, event_id
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_b_us
    FROM ev
)
SELECT user_id, item_id, ts_us AS view_us, next_b_us AS purchase_us
FROM seq
WHERE event_type = 'view' AND next_b_us IS NOT NULL
  AND next_b_us - ts_us <= {VP_SPAN_S * US}
"""


# =====================================================================
# J3/C3 — order-payment timeout: view -> purchase of the same
# (user, item) within 3 days
# reference: OrderTimeout.java:52-88, OrderTimeoutWithoutCEP.java:68-161
# =====================================================================

ORDER_TIMEOUT_S = 3 * 24 * 3600


def order_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = with_item(_events(spark, sf_dir))
    return match_create_pay(
        ev,
        ["user_id", "item_id"],
        "event_type",
        "ts",
        create_value="view",
        pay_value="purchase",
        timeout_seconds=ORDER_TIMEOUT_S,
    ).select("user_id", "item_id", "create_us", "pay_us", "result_state")


ORDER_TIMEOUT_SQL = f"""
WITH ev AS (
    SELECT user_id, {DUCK_ITEM} AS item_id, event_type, epoch_us(ts) AS ts_us
    FROM events WHERE event_type IN ('view', 'purchase')
), w1 AS (
    SELECT *, min(CASE WHEN event_type = 'view' THEN ts_us END)
              OVER (PARTITION BY user_id, item_id) AS create_us
    FROM ev
), w2 AS (
    SELECT *, min(CASE WHEN event_type = 'purchase' AND ts_us >= create_us
                       THEN ts_us END)
              OVER (PARTITION BY user_id, item_id) AS pay_us
    FROM w1
), per_key AS (
    SELECT user_id, item_id, min(create_us) AS create_us, min(pay_us) AS pay_us
    FROM w2 GROUP BY 1, 2
)
SELECT user_id, item_id, create_us, pay_us,
       CASE WHEN create_us IS NULL THEN 'payed_not_created'
            WHEN pay_us IS NULL THEN 'timeout_no_pay'
            WHEN pay_us < create_us + {ORDER_TIMEOUT_S * US} THEN 'payed'
            ELSE 'timeout_payed_late' END AS result_state
FROM per_key
"""


# =====================================================================
# J1 — interval join: purchase matched by clicks of the same
# (user, item) in [purchase.ts - 12h, purchase.ts + 12h]
# reference: TxPayMatchByJoin.java:63-93
# =====================================================================

IJ_LO_S, IJ_HI_S = -12 * 3600, 12 * 3600


def pays_receipts(ev: DataFrame):
    """(pays, receipts) of an events frame that carries ``item_id``."""
    pays = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "item_id", F.col("ts").alias("pay_ts"),
        F.col("event_id").alias("pay_id"),
    )
    receipts = ev.where(F.col("event_type") == "click").select(
        "user_id", "item_id", F.col("ts").alias("receipt_ts"),
        F.col("event_id").alias("receipt_id"),
    )
    return pays, receipts


def tx_pairs(joined: DataFrame) -> DataFrame:
    """Output rows of a pays ``left`` x receipts ``right`` join."""
    return joined.select(
        F.col("left.user_id").alias("user_id"),
        F.col("left.item_id").alias("item_id"),
        F.unix_micros("left.pay_ts").alias("pay_us"),
        F.unix_micros("right.receipt_ts").alias("receipt_us"),
    )


def tx_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    pays, receipts = pays_receipts(with_item(_events(spark, sf_dir)))
    return tx_pairs(interval_join(
        pays, receipts, ["user_id", "item_id"],
        "pay_ts", "receipt_ts", IJ_LO_S, IJ_HI_S,
    ))


TX_INTERVAL_JOIN_SQL = f"""
WITH ev AS (
    SELECT user_id, {DUCK_ITEM} AS item_id, event_type, epoch_us(ts) AS ts_us
    FROM events WHERE event_type IN ('purchase', 'click')
)
SELECT p.user_id AS user_id, p.item_id AS item_id,
       p.ts_us AS pay_us, r.ts_us AS receipt_us
FROM ev p JOIN ev r
  ON p.user_id = r.user_id AND p.item_id = r.item_id
 AND r.ts_us >= p.ts_us + {IJ_LO_S * US} AND r.ts_us <= p.ts_us + {IJ_HI_S * US}
WHERE p.event_type = 'purchase' AND r.event_type = 'click'
"""


# =====================================================================
# J2 — two-stream reconciliation with unmatched routing (tagged union
# of matched / unmatched_pays / unmatched_receipts)
# reference: TxPayMatch.java:65-170 (side outputs :71-73)
# =====================================================================

def tx_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    pays, receipts = pays_receipts(with_item(_events(spark, sf_dir)))
    legs = reconcile(
        pays, receipts, ["user_id", "item_id"],
        "pay_ts", "receipt_ts", IJ_LO_S, IJ_HI_S,
    )
    matched = tx_pairs(legs["matched"]).select(
        F.lit("matched").alias("kind"), "*")
    up = legs["unmatched_left"].select(
        F.lit("unmatched_pay").alias("kind"),
        "user_id", "item_id",
        F.unix_micros(F.col("pay_ts")).alias("pay_us"),
        F.lit(None).cast("long").alias("receipt_us"),
    )
    ur = legs["unmatched_right"].select(
        F.lit("unmatched_receipt").alias("kind"),
        "user_id", "item_id",
        F.lit(None).cast("long").alias("pay_us"),
        F.unix_micros(F.col("receipt_ts")).alias("receipt_us"),
    )
    return matched.unionByName(up).unionByName(ur)


TX_MATCH_SQL = f"""
WITH ev AS (
    SELECT user_id, {DUCK_ITEM} AS item_id, event_type, epoch_us(ts) AS ts_us
    FROM events WHERE event_type IN ('purchase', 'click')
), p AS (SELECT user_id, item_id, ts_us FROM ev WHERE event_type = 'purchase'),
   r AS (SELECT user_id, item_id, ts_us FROM ev WHERE event_type = 'click')
SELECT 'matched' AS kind, p.user_id AS user_id, p.item_id AS item_id,
       p.ts_us AS pay_us, r.ts_us AS receipt_us
FROM p JOIN r ON p.user_id = r.user_id AND p.item_id = r.item_id
 AND r.ts_us >= p.ts_us + {IJ_LO_S * US} AND r.ts_us <= p.ts_us + {IJ_HI_S * US}
UNION ALL
SELECT 'unmatched_pay', p.user_id, p.item_id, p.ts_us, NULL::BIGINT
FROM p WHERE NOT EXISTS (
    SELECT 1 FROM r WHERE p.user_id = r.user_id AND p.item_id = r.item_id
     AND r.ts_us >= p.ts_us + {IJ_LO_S * US} AND r.ts_us <= p.ts_us + {IJ_HI_S * US})
UNION ALL
SELECT 'unmatched_receipt', r.user_id, r.item_id, NULL::BIGINT, r.ts_us
FROM r WHERE NOT EXISTS (
    SELECT 1 FROM p WHERE p.user_id = r.user_id AND p.item_id = r.item_id
     AND r.ts_us >= p.ts_us + {IJ_LO_S * US} AND r.ts_us <= p.ts_us + {IJ_HI_S * US})
"""


# =====================================================================
# As-of join, natively-oracled instance (r11): each purchase matched
# to the user's MOST RECENT view at-or-before it, unbounded horizon.
# Same operator as purchase_attribution (operators/asof.py union-tag +
# running-window; one shuffle on user_id, no pair explosion) but the
# oracle here is DuckDB's ENGINE-NATIVE ASOF LEFT JOIN over the
# tie-deduped view side — an INDEPENDENT second implementation of the
# as-of semantics, where purchase_attribution's oracle re-states the
# same window formulation. Together they pin the operator's tie,
# equal-timestamp, and no-match edges from two unrelated directions.
# =====================================================================

def purchase_asof_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id")
    views = ev.where(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id")
    joined = asof_join(
        purchases, views, ["user_id"], "ts", "ts",
        right_cols=["event_id"], order_tiebreak=["event_id"],
    )
    return joined.select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.unix_micros(F.col("ts")).alias("purchase_us"),
        F.col("event_id_asof").alias("view_id"),
        F.col("ts_asof").alias("view_us"),
        (F.unix_micros(F.col("ts")) - F.col("ts_asof")).alias("wait_us"),
    )


PURCHASE_ASOF_VIEW_SQL = """
WITH v AS (
    SELECT user_id, ts, event_id,
           row_number() OVER (PARTITION BY user_id, ts
                              ORDER BY event_id DESC) AS rn
    FROM events WHERE event_type = 'view'
), vd AS (
    SELECT user_id, ts, event_id FROM v WHERE rn = 1
), p AS (
    SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
)
SELECT p.user_id, p.event_id AS purchase_id, epoch_us(p.ts) AS purchase_us,
       vd.event_id AS view_id, epoch_us(vd.ts) AS view_us,
       epoch_us(p.ts) - epoch_us(vd.ts) AS wait_us
FROM p ASOF LEFT JOIN vd ON p.user_id = vd.user_id AND p.ts >= vd.ts
"""


def click_asof_next_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: each click matched to the user's NEXT error
    at-or-after it (time-to-next-error — the ops-latency twin of
    purchase_asof_view's backward attribution). Same single-window
    operator scanning time in reverse (operators/asof.py
    direction='forward'); the oracle is again DuckDB's native ASOF
    LEFT JOIN, with the inequality flipped."""
    ev = _events(spark, sf_dir)
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id")
    errors = ev.where(F.col("event_type") == "error").select(
        "user_id", "ts", "event_id")
    joined = asof_join(
        clicks, errors, ["user_id"], "ts", "ts",
        right_cols=["event_id"], order_tiebreak=["event_id"],
        direction="forward",
    )
    return joined.select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.unix_micros(F.col("ts")).alias("click_us"),
        F.col("event_id_asof").alias("error_id"),
        F.col("ts_asof").alias("error_us"),
        (F.col("ts_asof") - F.unix_micros(F.col("ts"))).alias("gap_us"),
    )


CLICK_ASOF_NEXT_ERROR_SQL = """
WITH e AS (
    SELECT user_id, ts, event_id,
           row_number() OVER (PARTITION BY user_id, ts
                              ORDER BY event_id DESC) AS rn
    FROM events WHERE event_type = 'error'
), ed AS (
    SELECT user_id, ts, event_id FROM e WHERE rn = 1
), c AS (
    SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'
)
SELECT c.user_id, c.event_id AS click_id, epoch_us(c.ts) AS click_us,
       ed.event_id AS error_id, epoch_us(ed.ts) AS error_us,
       epoch_us(ed.ts) - epoch_us(c.ts) AS gap_us
FROM c ASOF LEFT JOIN ed ON c.user_id = ed.user_id AND c.ts <= ed.ts
"""


# =====================================================================
# F6 — blacklist cap filter: per (user, behavior, day) pass first 3
# events, warn once at the 4th
# reference: AdStatisticsByProvinceWithoutBlacklist.java:54-179
# =====================================================================

BL_CAP = 3


def _blacklist(spark: SparkSession, sf_dir: str):
    ev = _events(spark, sf_dir).withColumnRenamed("event_type", "behavior")
    return cap_filter_with_warnings(
        ev, ["user_id", "behavior"], "ts", BL_CAP, order_tiebreak=["event_id"]
    )


def blacklist_warnings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _blacklist(spark, sf_dir)["warnings"].select(
        "user_id", "behavior", "day", "warning_msg"
    )


def blacklist_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    passed = _blacklist(spark, sf_dir)["passed"]
    return passed.groupBy("user_id", "behavior", "day").agg(
        F.count(F.lit(1)).alias("passed_cnt")
    )


_BL_RANKED = f"""
    SELECT user_id, event_type AS behavior,
           strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           row_number() OVER (
               PARTITION BY user_id, event_type, date_trunc('day', ts)
               ORDER BY ts, event_id) AS rn
    FROM events
"""

BLACKLIST_WARNINGS_SQL = f"""
WITH ranked AS ({_BL_RANKED})
SELECT user_id, behavior, day,
       'click over {BL_CAP} times today' AS warning_msg
FROM ranked WHERE rn = {BL_CAP + 1}
"""

BLACKLIST_FILTERED_SQL = f"""
WITH ranked AS ({_BL_RANKED})
SELECT user_id, behavior, day, COUNT(*)::BIGINT AS passed_cnt
FROM ranked WHERE rn <= {BL_CAP} GROUP BY 1, 2, 3
"""


# =====================================================================
# Sessionization (engine extension; gap = 30 min per user)
# =====================================================================

SESSION_GAP_S = 30 * 60


def sessionize_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return sessionize(
        ev, ["user_id"], "ts", SESSION_GAP_S, order_tiebreak=["event_id"]
    ).select("user_id", "session_id", "session_start_us", "session_end_us", "n_events")


def sessionize_users_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same sessions via Spark's built-in session_window (the
    streaming-capable engine path; operators/sessionize.py:
    sessionize_native documents the measure-zero boundary caveat vs
    the lag+cumsum form — both gate against the same oracle)."""
    from .operators.sessionize import sessionize_native

    ev = _events(spark, sf_dir)
    return sessionize_native(ev, ["user_id"], "ts", SESSION_GAP_S).select(
        "user_id", "session_id", "session_start_us", "session_end_us", "n_events"
    )


SESSIONIZE_SQL = f"""
WITH marked AS (
    SELECT user_id, epoch_us(ts) AS ts_us, event_id,
           CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > {SESSION_GAP_S * US}
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessioned AS (
    -- event_id tiebreak: same total order as the lag window and the
    -- Spark operator, else same-timestamp peers can split differently
    SELECT user_id, ts_us,
           sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
    FROM marked
)
SELECT user_id, session_id::BIGINT AS session_id,
       min(ts_us) AS session_start_us, max(ts_us) AS session_end_us,
       COUNT(*)::BIGINT AS n_events
FROM sessioned GROUP BY 1, 2
"""


# =====================================================================
# Relational plans over the star schema (native Spark SQL capability,
# SURVEY.md section 2.10; also the scale-bench workhorses)
# =====================================================================

def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped scan+agg over lineitem (integer-cent exact)."""
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit("1998-09-02")
    )
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_ten_thousandths = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("long")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            (F.sum(cents).cast("double") / 100).alias("sum_base_price"),
            (F.sum(disc_ten_thousandths).cast("double") / 10000).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


PRICING_SUMMARY_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100
           AS sum_base_price,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))
           AS DOUBLE) / 10000 AS sum_disc_price,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_discount), 6) AS avg_disc,
       COUNT(*)::BIGINT AS count_order
FROM lineitem
WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped multiway join; dims broadcast, fact shuffled once."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    rev_cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .where(F.col("r_name") == "ASIA")
    )
    return (
        joined.groupBy("n_name")
        .agg((F.sum(rev_cents).cast("double") / 100).alias("revenue"))
    )


REVENUE_BY_NATION_SQL = """
SELECT n_name,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
           AS DOUBLE) / 100 AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
"""


def top_customers_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 customers by order value per market segment (relational
    Top-N — same rank operator as T1 on a join result)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    per_cust = (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment", "c_custkey")
        .agg((F.sum(cents).cast("double") / 100).alias("total_spend"))
    )
    ranked = top_n_per_window(
        per_cust,
        3,
        partition_cols=("c_mktsegment",),
        order_cols=[F.col("total_spend").desc(), F.col("c_custkey").asc()],
        rank_alias="rnk",
    )
    return ranked.select(
        "c_mktsegment", "c_custkey", "total_spend",
        F.col("rnk").cast("long").alias("rnk"),
    )


ATTRIB_TOL_S = 24 * 3600


def purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (custom operator the brief calls out — Spark has no
    built-in): each purchase attributed to the latest click of the
    same (user, item) at or before it, within a 24 h horizon.

    One shuffle on the key, sort-within-partition carry — no per-row
    range probe (operators/asof.py)."""
    from .operators.asof import asof_join

    ev = with_item(_events(spark, sf_dir))
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "item_id", F.col("ts"), F.col("event_id")
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "item_id", F.col("ts"), F.col("event_id")
    )
    out = asof_join(
        purchases, clicks, ["user_id", "item_id"], "ts", "ts",
        right_cols=["event_id"], tolerance_seconds=ATTRIB_TOL_S,
        order_tiebreak=["event_id"],
    )
    return out.select(
        "user_id", "item_id",
        F.unix_micros("ts").alias("purchase_us"),
        F.col("ts_asof").alias("click_us"),
        F.col("event_id_asof").alias("click_event_id"),
    )


PURCHASE_ATTRIBUTION_SQL = f"""
WITH ev AS (
    SELECT user_id, {DUCK_ITEM} AS item_id, event_type,
           epoch_us(ts) AS ts_us, event_id
    FROM events WHERE event_type IN ('purchase', 'click')
), carried AS (
    SELECT user_id, item_id, event_type, ts_us, event_id,
           last_value(CASE WHEN event_type = 'click' THEN ts_us END
                      IGNORE NULLS) OVER w AS m_ts_us,
           last_value(CASE WHEN event_type = 'click' THEN event_id END
                      IGNORE NULLS) OVER w AS m_event_id
    FROM ev
    WINDOW w AS (
        PARTITION BY user_id, item_id
        ORDER BY ts_us,
                 CASE WHEN event_type = 'click' THEN 0 ELSE 1 END,
                 event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT user_id, item_id, ts_us AS purchase_us,
       CASE WHEN ts_us - m_ts_us <= {ATTRIB_TOL_S * US} THEN m_ts_us END
           AS click_us,
       CASE WHEN ts_us - m_ts_us <= {ATTRIB_TOL_S * US} THEN m_event_id END
           AS click_event_id
FROM carried WHERE event_type = 'purchase'
"""


def revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup region -> nation with grand total (grouping
    sets — a capability the reference lacks entirely, SURVEY.md
    section 2.10; Spark/Catalyst provide it natively and it matters
    for 100 TB reporting because one pass computes every level)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    rev_cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    # r15 (guide §2.3 — aggregate before you multiply): rollup's
    # Expand used to TRIPLE every joined lineitem row before the
    # partial aggregate (3 grouping sets x fact rows). Aggregating to
    # the (region, nation) grain first collapses the fact table to
    # <= |region| x |nation| rows, and the rollup then expands only
    # that tiny frame. Exact: the cent sums are int64 and associative,
    # n_items = sum of partial counts; grouping() flags and coalesce
    # are computed by the same rollup operator as before, so the
    # output is bit-identical (oracle re-verified).
    base = joined.groupBy("r_name", "n_name").agg(
        F.sum(rev_cents).alias("_rev_cents"),
        F.count(F.lit(1)).alias("_n_items"),
    )
    return (
        base.rollup("r_name", "n_name")
        .agg(
            # grouping() is only legal inside the rollup aggregate
            F.grouping("r_name").cast("long").alias("g_region"),
            F.grouping("n_name").cast("long").alias("g_nation"),
            (F.sum("_rev_cents").cast("double") / 100).alias("revenue"),
            F.sum("_n_items").alias("n_items"),
        )
        .select(
            F.coalesce(F.col("r_name"), F.lit("<all>")).alias("region"),
            F.coalesce(F.col("n_name"), F.lit("<all>")).alias("nation"),
            "g_region",
            "g_nation",
            "revenue",
            "n_items",
        )
    )


REVENUE_ROLLUP_SQL = """
SELECT coalesce(r_name, '<all>') AS region,
       coalesce(n_name, '<all>') AS nation,
       GROUPING(r_name)::BIGINT AS g_region,
       GROUPING(n_name)::BIGINT AS g_nation,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
           AS DOUBLE) / 100 AS revenue,
       COUNT(*)::BIGINT AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP(r_name, n_name)
"""


TOP_CUSTOMERS_SQL = """
WITH per_cust AS (
    SELECT c_mktsegment, c_custkey,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100
               AS total_spend
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY 1, 2
), ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY c_mktsegment ORDER BY total_spend DESC, c_custkey) AS rnk
    FROM per_cust
)
SELECT c_mktsegment, c_custkey, total_spend, rnk::BIGINT AS rnk
FROM ranked WHERE rnk <= 3
"""


# =====================================================================
# registry
# =====================================================================

from .queries_pipeline import PIPELINE_ORACLES, PIPELINE_QUERIES  # noqa: E402


def heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 items by exact count with count-min-sketch certificates
    (operators/sketches.py:heavy_hitters_cms) — hot-key detection in
    the reference's HotItem domain; the oracle pins the exact top-10
    and demands every CMS bound certificate be 1."""
    from .operators.sketches import heavy_hitters_cms

    ev = with_item(_events(spark, sf_dir)).where(F.col("item_id").isNotNull())
    return heavy_hitters_cms(ev, "item_id", k=10)


HEAVY_HITTERS_SQL = f"""
WITH c AS (
    SELECT {DUCK_ITEM} AS item_id, COUNT(*)::BIGINT AS cnt
    FROM events WHERE {DUCK_ITEM} IS NOT NULL GROUP BY 1
), ranked AS (
    SELECT *, row_number() OVER (ORDER BY cnt DESC, item_id) AS rnk FROM c
)
SELECT item_id, cnt, rnk::BIGINT AS rnk, 1::BIGINT AS est_ok
FROM ranked WHERE rnk <= 10
"""


FUNNEL_STEPS = ("view", "click", "purchase")
FUNNEL_WITHIN = "1 DAY"
RETENTION_MAX_WEEKS = 8


def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch funnel over the behavior stream
    (operators/funnel.py:funnel): view -> click -> purchase in order
    within 1 day of the user's first view — the aggregate the
    reference's per-user CEP sequences feed in a product-analytics
    stack."""
    from .operators.funnel import funnel

    return funnel(_events(spark, sf_dir), list(FUNNEL_STEPS),
                  FUNNEL_WITHIN)


FUNNEL_SQL = f"""
WITH ev AS (
    SELECT user_id AS u, event_type AS t, ts FROM events
), s1 AS (
    SELECT u, min(ts) AS t1 FROM ev WHERE t = '{FUNNEL_STEPS[0]}'
    GROUP BY 1
), s2 AS (
    SELECT e.u, s1.t1, min(e.ts) AS prev
    FROM ev e JOIN s1 ON e.u = s1.u
    WHERE e.t = '{FUNNEL_STEPS[1]}' AND e.ts >= s1.t1
      AND e.ts <= s1.t1 + INTERVAL {FUNNEL_WITHIN}
    GROUP BY 1, 2
), s3 AS (
    SELECT e.u, s2.t1, min(e.ts) AS prev
    FROM ev e JOIN s2 ON e.u = s2.u
    WHERE e.t = '{FUNNEL_STEPS[2]}' AND e.ts >= s2.prev
      AND e.ts <= s2.t1 + INTERVAL {FUNNEL_WITHIN}
    GROUP BY 1, 2
), c AS (
    SELECT 1 AS step_idx, '{FUNNEL_STEPS[0]}' AS step,
           (SELECT COUNT(*) FROM s1)::BIGINT AS n_users
    UNION ALL
    SELECT 2, '{FUNNEL_STEPS[1]}', (SELECT COUNT(*) FROM s2)::BIGINT
    UNION ALL
    SELECT 3, '{FUNNEL_STEPS[2]}', (SELECT COUNT(*) FROM s3)::BIGINT
)
SELECT step_idx::BIGINT AS step_idx, step, n_users,
       CASE WHEN (SELECT COUNT(*) FROM s1) > 0
            THEN round(n_users::DOUBLE / (SELECT COUNT(*) FROM s1), 4)
            ELSE 0.0 END AS conversion
FROM c
"""


def retention_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention over the behavior stream
    (operators/funnel.py:retention_cohorts)."""
    from .operators.funnel import retention_cohorts

    return retention_cohorts(_events(spark, sf_dir),
                             max_weeks=RETENTION_MAX_WEEKS)


RETENTION_SQL = f"""
WITH ev AS (
    SELECT user_id AS u,
           (epoch_us(ts) // {7 * 86400 * 10**6})::BIGINT AS w
    FROM events
), first AS (
    SELECT u, min(w) AS cohort FROM ev GROUP BY 1
), sizes AS (
    SELECT cohort, COUNT(*)::BIGINT AS cohort_size FROM first GROUP BY 1
), act AS (
    SELECT DISTINCT u, w FROM ev
), j AS (
    SELECT f.cohort, a.w - f.cohort AS off
    FROM act a JOIN first f USING (u)
    WHERE a.w - f.cohort BETWEEN 0 AND {RETENTION_MAX_WEEKS}
), n AS (
    SELECT cohort, off, COUNT(*)::BIGINT AS n_active FROM j GROUP BY 1, 2
)
SELECT n.cohort AS cohort_week, n.off::BIGINT AS week_offset,
       n.n_active, s.cohort_size,
       round(n.n_active::DOUBLE / s.cohort_size, 4) AS retention
FROM n JOIN sizes s USING (cohort)
"""


Q3_CUTOFF = "1998-06-30"


def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped: top-10 unshipped BUILDING-segment orders by
    revenue. Fact-to-fact lineitem-orders join (sort-merge at scale),
    customer broadcast; revenue in integer cents for engine-exact
    sums; deterministic (revenue desc, o_orderdate, o_orderkey)
    order exposed through rank (this corpus has no o_shippriority —
    o_orderpriority rides along instead)."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit(Q3_CUTOFF))
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit(Q3_CUTOFF))
    customer = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING")
    rev_cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
    )
    agg = (
        joined.groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev_cents).alias("_rc"))
    )
    w = Window.orderBy(F.col("_rc").desc(), F.col("o_orderdate").asc(),
                       F.col("o_orderkey").asc())
    return (
        agg.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 10)
        .select(
            "o_orderkey",
            (F.col("_rc").cast("double") / 100).alias("revenue"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority", F.col("rnk").cast("long").alias("rnk"),
        )
    )


SHIPPING_PRIORITY_SQL = f"""
WITH agg AS (
    SELECT o.o_orderkey, o.o_orderdate, o.o_orderpriority,
           sum(round(l.l_extendedprice * (1 - l.l_discount) * 100)::BIGINT)
               AS rc
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '{Q3_CUTOFF} 00:00:00'
      AND l.l_shipdate > TIMESTAMP '{Q3_CUTOFF} 00:00:00'
    GROUP BY 1, 2, 3
)
SELECT o_orderkey, rc::DOUBLE / 100 AS revenue,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o_orderpriority,
       (row_number() OVER (ORDER BY rc DESC, o_orderdate, o_orderkey)
       )::BIGINT AS rnk
FROM agg
QUALIFY rnk <= 10
"""


def returned_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped: top-20 customers by revenue on RETURNED
    items in a one-year window — the churn-risk ranking. Fact join
    shuffles once on orderkey; customer and nation broadcast;
    integer-cent revenue."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01")))
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    rev_cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
    )
    agg = (
        joined.groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(rev_cents).alias("_rc"),
             F.round(F.first("c_acctbal"), 2).alias("c_acctbal"))
    )
    w = Window.orderBy(F.col("_rc").desc(), F.col("c_custkey").asc())
    return (
        agg.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 20)
        .select(
            "c_custkey", "c_name",
            (F.col("_rc").cast("double") / 100).alias("revenue"),
            "c_acctbal", "n_name", F.col("rnk").cast("long").alias("rnk"),
        )
    )


RETURNED_CUSTOMERS_SQL = """
WITH agg AS (
    SELECT c.c_custkey, c.c_name, n.n_name,
           sum(round(l.l_extendedprice * (1 - l.l_discount) * 100)::BIGINT)
               AS rc,
           round(any_value(c.c_acctbal), 2) AS c_acctbal
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY 1, 2, 3
)
SELECT c_custkey, c_name, rc::DOUBLE / 100 AS revenue, c_acctbal, n_name,
       (row_number() OVER (ORDER BY rc DESC, c_custkey))::BIGINT AS rnk
FROM agg
QUALIFY rnk <= 20
"""


Q18_QTY = 300


def large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped (large-volume customers): orders whose total
    lineitem quantity exceeds {Q18_QTY}, top-100 by quantity. The
    scale-critical move is aggregating the FACT table on its own key
    FIRST (map-side combinable, one shuffle on l_orderkey) and
    joining orders + broadcast customer only onto the tiny
    having-survivor set — never the other way around. Quantities are
    summed as integer deci-units for engine-exact having/rank
    boundaries."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    qty10 = F.round(F.col("l_quantity") * 10).cast("long")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(qty10).alias("_q10"))
        .where(F.col("_q10") > Q18_QTY * 10)
    )
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    joined = (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
    )
    # BOUNDEDNESS ASSUMPTION: this global (unpartitioned) row_number
    # is safe ONLY because its input is the post-HAVING survivor set
    # — Q18 survivors are rare by construction (46 rows at sf0.1),
    # so one task sorting them is fine at any corpus scale. Do NOT
    # copy this window onto an unbounded frame; use
    # global_rank/_global_rank_with_total (distributed two-pass
    # rank) as revenue_deciles does.
    w = Window.orderBy(F.col("_q10").desc(), F.col("o_orderkey").asc())
    return (
        joined.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 100)
        .select(
            "c_custkey", "c_name", "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            F.round("o_totalprice", 2).alias("o_totalprice"),
            (F.col("_q10").cast("double") / 10).alias("total_qty"),
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


LARGE_VOLUME_ORDERS_SQL = f"""
WITH big AS (
    SELECT l_orderkey, sum(round(l_quantity * 10)::BIGINT) AS q10
    FROM lineitem GROUP BY 1
    HAVING sum(round(l_quantity * 10)::BIGINT) > {Q18_QTY} * 10
)
SELECT c.c_custkey, c.c_name, o.o_orderkey,
       strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
       round(o.o_totalprice, 2) AS o_totalprice,
       b.q10::DOUBLE / 10 AS total_qty,
       (row_number() OVER (ORDER BY b.q10 DESC, o.o_orderkey))::BIGINT
           AS rnk
FROM big b
JOIN orders o ON b.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
QUALIFY rnk <= 100
"""


Q4_LATE_DAYS = 60


def priority_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped (order priority checking): per-priority count
    of 1997 orders with AT LEAST ONE lineitem shipped more than
    {Q4_LATE_DAYS} days after the order date (this corpus has no
    commit/receipt dates, so ship-lag stands in for Q4's
    late-commit predicate). The EXISTS is a LEFT SEMI join on
    orderkey — the probe side never duplicates an order however many
    lines are late, and the final rollup is five rows."""
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01")))
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey",
                                                      "l_shipdate")
    # interval add, not date_add: date_add truncates the timestamp to
    # a DATE, which only matches the oracle because orderdates are
    # midnight — the interval form is exact for any time-of-day
    late = orders.join(
        li,
        (li.l_orderkey == orders.o_orderkey)
        & (li.l_shipdate > F.col("o_orderdate")
           + F.expr(f"INTERVAL {Q4_LATE_DAYS} DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("n_late_orders"))
    )


PRIORITY_LATE_ORDERS_SQL = f"""
SELECT o.o_orderpriority, COUNT(*)::BIGINT AS n_late_orders
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey
        AND l.l_shipdate > o.o_orderdate + INTERVAL {Q4_LATE_DAYS} DAY
  )
GROUP BY 1
"""


def dau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU / stickiness per active day — the
    product-analytics headline metric. The trailing-window DISTINCT
    is the interesting part at scale: instead of a per-day self-join
    over a 7-day range (7 shuffled probes of the activity table),
    each distinct (user, day) row is EXPLODED into the 7 report days
    it contributes to and counted once — one distinct-shuffle, one
    7x-expanded count keyed by day (days are few; the expansion is
    bounded by 7 x distinct user-days, never raw events). Days are
    epoch-day integers (the retention_cohorts convention — no
    calendar/tz semantics to disagree across engines)."""
    from .operators.funnel import (
        dau_stickiness_from_user_days,
        user_day_activity,
    )

    # ONE scan, no self-join: each distinct (user, day) contributes
    # to report days day..day+6 with a self marker on its own day, so
    # one (user, report-day) dedup carries BOTH counts — dau = users
    # with a self contribution, wau = all contributing users. Ghost
    # days past a user's last activity (wau-only) are dropped like a
    # dau-join formulation would.
    return dau_stickiness_from_user_days(
        user_day_activity(_events(spark, sf_dir)))


DAU_STICKINESS_SQL = """
WITH ud AS (
    SELECT DISTINCT user_id AS u,
           (epoch_us(ts) // 86400000000)::BIGINT AS d
    FROM events
), dau AS (
    SELECT d, COUNT(*)::BIGINT AS dau FROM ud GROUP BY 1
), contrib AS (
    SELECT DISTINCT u, unnest(range(d, d + 7))::BIGINT AS rd FROM ud
), wau AS (
    SELECT rd, COUNT(*)::BIGINT AS wau FROM contrib GROUP BY 1
)
SELECT dau.d AS day, dau.dau, wau.wau,
       round(dau.dau::DOUBLE / wau.wau, 4) AS stickiness
FROM dau JOIN wau ON dau.d = wau.rd
"""


def session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level session telemetry composed ON the sessionize
    operator's output (one extra global aggregate over the
    session-grain frame — k-row in, 1-row out): session and user
    counts, mean events per session, exact median and p90 session
    duration (engine-parity percentile == quantile_cont).

    The quantiles go through distributed_quantile_cont rather than
    the exact ``percentile`` aggregate: percentile's final reducer
    buffers every distinct duration (near-unique microsecond diffs —
    O(n) single-task state at 10^9 sessions), while the distributed
    form sorts by range and reads only the boundary ranks. Output is
    bit-identical (same interpolation formula), so the quantile_cont
    oracle is unchanged."""
    ev = _events(spark, sf_dir)
    sess = sessionize(
        ev, ["user_id"], "ts", SESSION_GAP_S, order_tiebreak=["event_id"]
    )
    # the session frame feeds TWO consumers (the quantile pass and
    # the final aggregate); checkpoint it so the events scan + session
    # shuffle run once, with blocks GC-freed when the result is done
    sess = sess.localCheckpoint(eager=True)
    dur_s = (F.col("session_end_us") - F.col("session_start_us")) \
        .cast("double") / 1_000_000.0
    q = distributed_quantile_cont(sess.select(dur_s.alias("_d")), "_d",
                                  [0.5, 0.9])
    return sess.agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.round(F.avg(F.col("n_events").cast("double")), 4)
        .alias("avg_events"),
        F.round(F.lit(q[0.5]), 4).alias("med_duration_s"),
        F.round(F.lit(q[0.9]), 4).alias("p90_duration_s"),
    )


SESSION_STATS_SQL = f"""
WITH sess AS ({SESSIONIZE_SQL})
SELECT COUNT(*)::BIGINT AS n_sessions,
       COUNT(DISTINCT user_id)::BIGINT AS n_users,
       round(avg(n_events::DOUBLE), 4) AS avg_events,
       round(quantile_cont((session_end_us - session_start_us)::DOUBLE
                           / 1000000.0, 0.5), 4) AS med_duration_s,
       round(quantile_cont((session_end_us - session_start_us)::DOUBLE
                           / 1000000.0, 0.9), 4) AS p90_duration_s
FROM sess
"""


def global_rank(df: DataFrame, order_cols: list, rank_name: str = "_rnk",
                num_partitions: int | None = None) -> DataFrame:
    """DISTRIBUTED exact global rank (dense total order, 1-based) —
    the scale-correct replacement for ``row_number()/ntile()`` over an
    unpartitioned window, which funnels the whole frame through ONE
    task (VERDICT r6 #1). Classic two-pass distributed sort-rank:

    1. range-partition on the order columns (sampled range exchange —
       each partition holds a contiguous slice of the total order);
    2. count rows per partition (a #partitions-sized collect) and
       prefix-sum into per-partition rank offsets;
    3. rank = row_number within partition (each task sorts only its
       own slice) + its partition's offset, joined in via a broadcast
       of the tiny offsets frame.

    The frame is locally checkpointed before step 2 so the sampled
    range boundaries — and therefore partition ids — are frozen as
    blocks, identical across the two passes, and freed by the
    ContextCleaner when the result goes out of scope. ``order_cols``
    must be a strict total order (break ties explicitly) or ranks
    within a tie group are partition-order dependent.
    """
    ranked, _, _ = _global_rank_with_total(df, order_cols, rank_name,
                                           num_partitions)
    return ranked


def _global_rank_with_total(df: DataFrame, order_cols: list,
                            rank_name: str = "_rnk",
                            num_partitions: int | None = None,
                            materialize: str = "checkpoint",
                            ) -> tuple[DataFrame, int, DataFrame]:
    """global_rank plus the total row count — the count falls out of
    the per-partition size collect for free, so callers that need n
    (ntile bucketing) don't pay a third job.

    Returns (ranked, total, base) where ``base`` is the materialized
    range-partitioned frame. ``materialize``:
      "checkpoint" (default) — ``localCheckpoint(eager=True)``: the
        partition ids are frozen as BLOCKS, so the two passes (size
        collect, final rank) read identical partitions by
        construction, and the blocks are reference-tracked — freed by
        the ContextCleaner once the returned frame is unreachable.
        DataFrame ``persist`` would instead pin an entry in the
        CacheManager forever unless someone calls unpersist, which a
        caller returning a LAZY result can never safely do.
      "persist" — classic cache; for callers that consume the result
        EAGERLY inside the same function and unpersist ``base``
        themselves (distributed_quantile_cont).
    (localCheckpoint trades lineage for blocks: on executor loss the
    job fails and retries from source — acceptable for an
    interactive/batch rank; use reliable checkpoints for long jobs.)
    """
    from pyspark.sql import Window

    spark = df.sparkSession
    n_parts = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32"))
    ranged = (df.repartitionByRange(n_parts, *order_cols)
              .withColumn("_pid", F.spark_partition_id()))
    ranged = (ranged.persist() if materialize == "persist"
              else ranged.localCheckpoint(eager=True))
    sizes = {r._pid: r.cnt
             for r in ranged.groupBy("_pid")
             .agg(F.count(F.lit(1)).alias("cnt")).collect()}
    offsets, acc = [], 0
    for pid in sorted(sizes):
        offsets.append((pid, acc))
        acc += sizes[pid]
    off = spark.createDataFrame(offsets or [(0, 0)],
                                "_pid INT, _off BIGINT")
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    ranked = (ranged.join(F.broadcast(off), "_pid")
              .withColumn(rank_name,
                          (F.row_number().over(w) + F.col("_off"))
                          .cast("long"))
              .drop("_pid", "_off"))
    return ranked, acc, ranged


def _ntile_from_rank(rank_col, n_rows: int, n_buckets: int):
    """ANSI ntile bucket from a global 1-based rank: the first
    ``n_rows % n_buckets`` buckets take ``n_rows // n_buckets + 1``
    rows, the rest one fewer — the exact distribution Spark's and
    DuckDB's ntile() both implement, so bucketing from a distributed
    rank stays hash-identical to the single-window formulation."""
    q, rem = divmod(n_rows, n_buckets)
    big = rem * (q + 1)  # rows covered by the oversized buckets
    if q == 0:
        return rank_col  # fewer rows than buckets: bucket == rank
    return F.when(
        rank_col <= big, F.ceil(rank_col / F.lit(q + 1))
    ).otherwise(
        F.lit(rem) + F.ceil((rank_col - F.lit(big)) / F.lit(q))
    ).cast("long")


def distributed_quantile_cont(df: DataFrame, value_col: str,
                              probs: list[float],
                              num_partitions: int | None = None,
                              ) -> dict[float, float]:
    """Exact interpolated quantiles (quantile_cont semantics) WITHOUT
    a single-reducer value buffer: Spark's exact ``percentile``
    aggregate ships every distinct value (with counts) through one
    final task — O(distinct) state that works at sf0.1 and falls
    over on 10^10 near-unique values. This instead range-sorts the
    value column with the distributed global rank, fetches only the
    O(#probs) boundary rows, and interpolates driver-side with
    Spark's exact weighted formula (pos = p*(n-1);
    v_lo*(hi-pos) + v_hi*(pos-lo) — NOT the algebraically-equal
    lo+delta*frac form, which differs by 1 ulp) — bit-identical
    output, every stage bounded by partition size.
    """
    import math

    # drop NULLs before ranking — the F.percentile aggregate this
    # replaces ignores them; ranking them (nulls-first) would shift
    # every position and poison the boundary interpolation
    ranked, n, base = _global_rank_with_total(
        df.select(F.col(value_col).alias("_val"))
        .where(F.col("_val").isNotNull()),
        [F.col("_val").asc()], num_partitions=num_partitions,
        materialize="persist")
    try:
        if n == 0:
            return {p: None for p in probs}
        targets: set[int] = set()
        for p in probs:
            lo = math.floor(p * (n - 1))
            targets.add(lo + 1)
            targets.add(min(lo + 2, n))
        vals = {r._rnk: r._val
                for r in ranked.where(
                    F.col("_rnk").isin([int(t) for t in targets]))
                .collect()}
    finally:
        # eager consumer: release the cache even on a failed collect
        # (persist here, not checkpoint — the explicit unpersist is
        # exact)
        base.unpersist()
    out = {}
    for p in probs:
        pos = p * (n - 1)
        lo = math.floor(pos)
        hi = math.ceil(pos)
        if hi == lo:
            out[p] = vals[lo + 1]
        else:
            out[p] = vals[lo + 1] * (hi - pos) + vals[hi + 1] * (pos - lo)
    return out


def revenue_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user purchase revenue bucketed into ntile(10) deciles —
    the LTV-skew report. Revenue folds to integer cents before the
    per-user sum (order-independent, engine-exact).

    The decile assignment is DISTRIBUTED (VERDICT r6 #1 fix): an
    unpartitioned ``ntile(10) over (order by ...)`` would pull every
    per-user row through a single task — a one-executor wall at
    10^8+ users. Instead the total order (revenue desc, user asc) is
    range-partitioned and ranked with per-partition offsets
    (global_rank above), and the decile is computed from the rank
    with the exact ANSI ntile distribution — hash-identical to the
    oracle's ntile(10) while every task sorts only its own range
    slice."""
    ev = _events(spark, sf_dir).where(F.col("event_type") == "purchase")
    cents = F.round(F.col("value") * 100).cast("long")
    per_user = ev.groupBy("user_id").agg(F.sum(cents).alias("_rc"))
    ranked, n_users, _ = _global_rank_with_total(
        per_user, [F.col("_rc").desc(), F.col("user_id").asc()])
    return (
        ranked.withColumn(
            "decile", _ntile_from_rank(F.col("_rnk"), n_users, 10))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            (F.sum("_rc").cast("double") / 100).alias("revenue"),
            F.round(F.avg(F.col("_rc").cast("double") / 100), 4)
            .alias("avg_revenue"),
        )
    )


REVENUE_DECILES_SQL = """
WITH per_user AS (
    SELECT user_id, sum(round(value * 100)::BIGINT) AS rc
    FROM events WHERE event_type = 'purchase' GROUP BY 1
), bucketed AS (
    SELECT user_id, rc,
           ntile(10) OVER (ORDER BY rc DESC, user_id)::BIGINT AS decile
    FROM per_user
)
SELECT decile, COUNT(*)::BIGINT AS n_users,
       sum(rc)::DOUBLE / 100 AS revenue,
       round(avg(rc::DOUBLE / 100), 4) AS avg_revenue
FROM bucketed GROUP BY 1
"""


TRADE_NATIONS = ("NATION_9", "NATION_10")


def nation_trade_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-shaped (volume shipping): revenue between two trading
    nations by (supplier nation, customer nation, ship year), both
    directions. Scale shape: the fact table is filtered and projected
    FIRST (shipdate range + needed columns only — predicate/column
    pushdown to the parquet scan); the supplier and customer legs are
    pre-filtered to the TWO trading nations (a ~2/25 selectivity that
    the broadcast inner joins then push into the facts as semi-
    filters: only the two nations' lineitems survive into the orders
    join). One exchange is genuinely fact-sized and honest: the
    li⋈orders join shuffles both (orders is no dimension — at a real
    100 TB SF neither side broadcasts); everything else is broadcast
    or the final 3-key rollup. If even the nation-filtered customer
    leg outgrows the broadcast threshold, drop its broadcast hint and
    let AQE pick the shuffled hash join. Revenue folds to integer
    cents pre-agg for engine-exact sums."""
    n1, n2 = TRADE_NATIONS
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    ).select("l_orderkey", "l_suppkey", "l_shipdate",
             "l_extendedprice", "l_discount")
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name").where(F.col("n_name").isin(n1, n2))
    supp = (load_table(spark, sf_dir, "supplier")
            .select("s_suppkey", "s_nationkey")
            .join(F.broadcast(nation),
                  F.col("s_nationkey") == F.col("n_nationkey"))
            .select("s_suppkey", F.col("n_name").alias("supp_nation")))
    cust = (load_table(spark, sf_dir, "customer")
            .select("c_custkey", "c_nationkey")
            .join(F.broadcast(nation),
                  F.col("c_nationkey") == F.col("n_nationkey"))
            .select("c_custkey", F.col("n_name").alias("cust_nation")))
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey")
    cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    * 100).cast("long")
    joined = (
        li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .where(
            ((F.col("supp_nation") == n1) & (F.col("cust_nation") == n2))
            | ((F.col("supp_nation") == n2) & (F.col("cust_nation") == n1))
        )
    )
    return (
        joined.groupBy(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"))
        .agg((F.sum(cents).cast("double") / 100).alias("revenue"))
    )


NATION_TRADE_FLOWS_SQL = f"""
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       year(l.l_shipdate)::BIGINT AS l_year,
       sum(round(l.l_extendedprice * (1 - l.l_discount) * 100)::BIGINT
           )::DOUBLE / 100 AS revenue
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation sn ON s.s_nationkey = sn.n_nationkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation cn ON c.c_nationkey = cn.n_nationkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  AND ((sn.n_name = '{TRADE_NATIONS[0]}'
        AND cn.n_name = '{TRADE_NATIONS[1]}')
       OR (sn.n_name = '{TRADE_NATIONS[1]}'
           AND cn.n_name = '{TRADE_NATIONS[0]}'))
GROUP BY 1, 2, 3
"""


# ---- Registered r8 (staged in r7 behind the gate-window capacity):
# relational shapes the registry did not previously cover — correlated
# per-group aggregate (Q17), EXISTS + NOT-EXISTS double correlation
# (Q21), scalar subquery + anti join (Q22), distinct-count variety
# with NOT-IN exclusion (Q16). Each is also pytest-gated against its
# DuckDB oracle at the driver's sf0.01
# (tests/test_relational_staged.py).

Q17_BRAND = "Brand#4"
Q21_LATE_DAYS = 120


def small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-shaped (small-quantity-order revenue): yearly
    revenue that would be lost by refusing orders below 20% of a
    part's average order quantity, for one brand. The reference
    formulation is a CORRELATED scalar subquery (avg l_quantity for
    the same part); Spark-first this decorrelates into a per-part
    aggregate joined back to the same filtered fact — and because
    both the aggregate and the probe derive from ONE subtree
    (lineitem ⋈ broadcast(brand parts)), Catalyst reuses the
    partkey exchange: one scan, one shuffle, then a broadcast of the
    per-part thresholds would even be possible — but the partkey-
    aligned sort-merge join is already exchange-free on the probe
    side. Threshold compare is engine-exact: quantities are small
    integers stored as doubles, so the avg is an exact integer sum
    over an exact count on both engines."""
    part = load_table(spark, sf_dir, "part").where(
        F.col("p_brand") == Q17_BRAND).select("p_partkey")
    li = (load_table(spark, sf_dir, "lineitem")
          .select("l_partkey", "l_quantity", "l_extendedprice")
          .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
          .select("l_partkey", "l_quantity", "l_extendedprice"))
    avgq = li.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * 0.2).alias("_thresh"))
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    return (
        li.join(avgq, "l_partkey")
        .where(F.col("l_quantity") < F.col("_thresh"))
        .agg((F.sum(cents).cast("double") / 100 / 7.0)
             .alias("avg_yearly"))
    )


SMALL_QTY_REVENUE_SQL = f"""
SELECT sum(round(l.l_extendedprice * 100)::BIGINT)::DOUBLE / 100 / 7.0
           AS avg_yearly
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = '{Q17_BRAND}'
  AND l.l_quantity < (
      SELECT 0.2 * avg(l2.l_quantity)
      FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
"""


def sole_late_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-shaped (suppliers who kept orders waiting): for
    finished multi-supplier orders, the supplier who was the ONLY
    one to ship late (> {Q21_LATE_DAYS} days after the order date —
    this corpus has no commit/receipt dates, Q4's ship-lag stand-in
    again), counted per supplier, top 10.

    The reference shape is EXISTS (another supplier on the order)
    AND NOT EXISTS (another LATE supplier on the order) — two
    correlated subqueries. Spark-first this is ONE conditional
    aggregation over the order's lineitems: per order, count
    distinct suppliers and distinct late suppliers; 'sole late'
    means (suppliers >= 2, late suppliers == 1), and max(late
    suppkey) identifies the culprit — the oracle keeps the textbook
    double-EXISTS form, so the correctness row proves the
    decorrelated aggregate equivalent. One orderkey shuffle for the
    fact-fact join + one for the per-order aggregate (same key —
    exchange reuse), then a supplier-dim broadcast.

    The final top-10 window is global but runs over the per-SUPPLIER
    aggregate — bounded by the supplier dimension (100 at sf0.01,
    10^4-10^6 at any real SF), never fact-sized, same boundedness
    argument as large_volume_orders."""
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F").select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate")
    late = F.col("l_shipdate") > (
        F.col("o_orderdate") + F.expr(f"INTERVAL {Q21_LATE_DAYS} DAYS"))
    per_order = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey")
        .agg(
            F.countDistinct("l_suppkey").alias("_n_supp"),
            F.countDistinct(F.when(late, F.col("l_suppkey")))
            .alias("_n_late"),
            F.max(F.when(late, F.col("l_suppkey"))).alias("_late_supp"),
        )
        .where((F.col("_n_supp") >= 2) & (F.col("_n_late") == 1))
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name")
    per_supp = (
        per_order.groupBy("_late_supp")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
        .join(F.broadcast(supp),
              F.col("_late_supp") == F.col("s_suppkey"))
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("numwait").desc(), F.col("s_name").asc())
    return (
        per_supp.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 10)
        .select("s_name", "numwait", "rnk")
    )


SOLE_LATE_SUPPLIERS_SQL = f"""
WITH late_lines AS (
    SELECT l.l_orderkey, l.l_suppkey
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND l.l_shipdate > o.o_orderdate + INTERVAL {Q21_LATE_DAYS} DAY
), sole AS (
    SELECT DISTINCT ll.l_orderkey, ll.l_suppkey
    FROM late_lines ll
    WHERE EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = ll.l_orderkey
          AND l2.l_suppkey <> ll.l_suppkey)
      AND NOT EXISTS (
        SELECT 1 FROM late_lines l3
        WHERE l3.l_orderkey = ll.l_orderkey
          AND l3.l_suppkey <> ll.l_suppkey)
), per_supp AS (
    SELECT s.s_name, COUNT(*)::BIGINT AS numwait
    FROM sole JOIN supplier s ON s.s_suppkey = sole.l_suppkey
    GROUP BY s.s_name
)
SELECT s_name, numwait,
       row_number() OVER (ORDER BY numwait DESC, s_name ASC)::BIGINT
           AS rnk
FROM per_supp
QUALIFY rnk <= 10
"""


Q22_CUTOFF = "2000-01-01"


def idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-shaped (global sales opportunity): customers with
    an account balance above the average POSITIVE balance who have
    placed no order since {Q22_CUTOFF} (Q22's "no orders in 7
    years" recency predicate — this corpus gives every customer
    SOME order, so an unscoped NOT EXISTS is vacuously empty),
    rolled up by market segment (standing in for Q22's phone
    country code).

    The scalar subquery (global avg balance) is a 1-row aggregate
    cross-joined back as a broadcast — no collect, stays one lazy
    plan; the NOT EXISTS is a LEFT ANTI join against the
    date-filtered orders fact (filter pushed to the scan BEFORE the
    custkey shuffle), shuffled on custkey on both sides. Balances
    fold to integer cents BEFORE the avg so the threshold is an
    exact integer sum / exact count on both engines — comparing
    doubles summed in engine order would flip boundary customers."""
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", cents.alias("_bc"))
    avg_bal = cust.where(F.col("_bc") > 0).agg(
        F.avg("_bc").alias("_avg_bc"))
    recent = (load_table(spark, sf_dir, "orders")
              .where(F.col("o_orderdate") >= F.lit(Q22_CUTOFF).cast("date"))
              .select("o_custkey"))
    idle = (
        cust.join(F.broadcast(avg_bal))
        .where(F.col("_bc") > F.col("_avg_bc"))
        .join(recent,
              F.col("c_custkey") == F.col("o_custkey"), "left_anti")
    )
    return (
        idle.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            (F.sum("_bc").cast("double") / 100).alias("total_acctbal"),
        )
    )


IDLE_RICH_CUSTOMERS_SQL = f"""
WITH cust AS (
    SELECT c_custkey, c_mktsegment,
           round(c_acctbal * 100)::BIGINT AS bc
    FROM customer
)
SELECT c_mktsegment,
       COUNT(*)::BIGINT AS n_customers,
       sum(bc)::DOUBLE / 100 AS total_acctbal
FROM cust c
WHERE c.bc > (SELECT avg(bc) FROM cust WHERE bc > 0)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= DATE '{Q22_CUTOFF}')
GROUP BY c_mktsegment
"""


Q16_SIZES = (1, 5, 9, 13, 21, 34)


def supplier_part_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-shaped (parts/supplier relationship): how many
    DISTINCT suppliers ship parts of each (brand, size), for selected
    sizes, excluding flagged suppliers (negative account balance
    standing in for Q16's complaints NOT IN — this corpus has no
    comment column). The supplier link rides the lineitem fact (no
    partsupp table here).

    Shapes this adds to the staged set: NOT IN as a LEFT ANTI join
    against a broadcast exclusion list, and a count(DISTINCT) whose
    expand/dedupe Spark plans as the standard two-level distinct
    aggregate — partial per-partition dedupe before the (brand, size)
    exchange, no global distinct funnel. Part dim filtered FIRST and
    broadcast into the fact scan."""
    part = load_table(spark, sf_dir, "part").where(
        F.col("p_size").isin(*Q16_SIZES)).select(
        "p_partkey", "p_brand", "p_size")
    excl = load_table(spark, sf_dir, "supplier").where(
        F.col("s_acctbal") < 0).select("s_suppkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(excl), F.col("l_suppkey") == F.col("s_suppkey"),
              "left_anti")
        .groupBy("p_brand", F.col("p_size").cast("long").alias("p_size"))
        .agg(F.countDistinct("l_suppkey").cast("long")
             .alias("supplier_cnt"))
    )


SUPPLIER_PART_VARIETY_SQL = f"""
SELECT p.p_brand, p.p_size::BIGINT AS p_size,
       count(DISTINCT l.l_suppkey)::BIGINT AS supplier_cnt
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_size IN {Q16_SIZES}
  AND l.l_suppkey NOT IN (
      SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2
"""


# ---- Registered r8 (second batch): three more classic relational
# plan shapes the registry did not cover — self-referencing scalar
# MAX over a derived aggregate (Q15), disjunctive OR-of-ANDs join
# predicate (Q19), per-group-min decorrelation with join-back (Q2).

Q15_START, Q15_END = "1996-01-01", "1996-04-01"


def top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-shaped (top supplier): supplier(s) with the maximum
    total revenue over one quarter. Q15's view + scalar
    ``= (SELECT max(...) FROM view)`` decorrelates into: one
    per-supplier aggregate frame, its 1-row global max cross-joined
    back as a broadcast, and an equality filter. The aggregate is
    consumed twice (max + filter), and Catalyst does NOT reuse the
    exchange across the two subtrees (measured: without
    materialization the plan scans lineitem twice), so the frame is
    localCheckpoint'ed — it is supplier-cardinality (dimension-
    sized, never fact-sized), and the fact scans exactly once.
    Revenue folds to integer cents BEFORE the sums so the
    max-equality boundary cannot flip on double summation order."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit(Q15_START).cast("date"))
        & (F.col("l_shipdate") < F.lit(Q15_END).cast("date")))
    rev_cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    rev = (li.groupBy("l_suppkey")
           .agg(F.sum(rev_cents).alias("_total_cents"))
           .localCheckpoint(eager=True))
    mx = rev.agg(F.max("_total_cents").alias("_mx"))
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey")
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name")
    return (
        rev.join(F.broadcast(mx))
        .where(F.col("_total_cents") == F.col("_mx"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "n_name",
                (F.col("_total_cents").cast("double") / 100)
                .alias("total_revenue"))
    )


TOP_REVENUE_SUPPLIER_SQL = f"""
WITH rev AS (
    SELECT l_suppkey,
           sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                    AS BIGINT)) AS total_cents
    FROM lineitem
    WHERE l_shipdate >= DATE '{Q15_START}'
      AND l_shipdate < DATE '{Q15_END}'
    GROUP BY 1
)
SELECT s.s_suppkey, s.s_name, n.n_name,
       CAST(r.total_cents AS DOUBLE) / 100 AS total_revenue
FROM rev r
JOIN supplier s ON s.s_suppkey = r.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE r.total_cents = (SELECT max(total_cents) FROM rev)
"""


Q19_BANDS = (("Brand#12", 5, 1, 11), ("Brand#23", 10, 10, 20),
             ("Brand#34", 15, 20, 30))


def discounted_band_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-shaped (discounted revenue): total revenue over an
    OR of three (brand, size-band, quantity-band) conjunctions — the
    canonical disjunctive-predicate plan test. Catalyst extracts the
    common conjuncts from the OR (p_size upper bound, l_quantity
    range) and pushes them into BOTH parquet scans, so the join sees
    pre-filtered sides and only the residual disjunction runs as the
    join filter; the part side stays a broadcast. The certificate
    carries the matched row count so an engine that silently drops a
    band cannot still hash-match on a vacuous sum."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size")
    cond = None
    for brand, max_size, qlo, qhi in Q19_BANDS:
        c = ((F.col("p_brand") == brand)
             & F.col("p_size").between(1, max_size)
             & F.col("l_quantity").between(qlo, qhi))
        cond = c if cond is None else (cond | c)
    rev_cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .where(cond)
        .agg((F.sum(rev_cents).cast("double") / 100).alias("revenue"),
             F.count(F.lit(1)).cast("long").alias("n_items"))
    )


def _q19_where() -> str:
    bands = " OR ".join(
        f"(p_brand = '{b}' AND p_size BETWEEN 1 AND {ms} "
        f"AND l_quantity BETWEEN {ql} AND {qh})"
        for b, ms, ql, qh in Q19_BANDS)
    return bands


DISCOUNTED_BAND_REVENUE_SQL = f"""
SELECT CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                     AS BIGINT)) AS DOUBLE) / 100 AS revenue,
       COUNT(*)::BIGINT AS n_items
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE {_q19_where()}
"""


Q2_SIZE_LO, Q2_SIZE_HI, Q2_TYPE, Q2_REGION = 10, 20, "LARGE", "EUROPE"


def cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-shaped (minimum-cost supplier): for each selected
    part, the EUROPE supplier(s) offering it at the lowest observed
    price. Q2's correlated ``= (SELECT min(ps_supplycost) ...)``
    decorrelates into: per-(part, supplier) min price, a per-part
    global min, and an equality join-back — two aggregates and one
    join instead of a per-row subquery. Supply prices ride the
    lineitem fact (no partsupp table in this corpus) and fold to
    integer cents before any min, so the min-equality boundary is
    exact on both engines. All three dims (filtered part, EUROPE
    supplier roster, nation) broadcast; the fact shuffles once on
    the (part, supplier) aggregate key."""
    part = load_table(spark, sf_dir, "part").where(
        F.col("p_size").between(Q2_SIZE_LO, Q2_SIZE_HI)
        & (F.col("p_type") == Q2_TYPE)
    ).select("p_partkey")
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey")
    reg = load_table(spark, sf_dir, "region").where(
        F.col("r_name") == Q2_REGION).select("r_regionkey")
    eur = (load_table(spark, sf_dir, "supplier")
           .join(F.broadcast(nat),
                 F.col("s_nationkey") == F.col("n_nationkey"))
           .join(F.broadcast(reg),
                 F.col("n_regionkey") == F.col("r_regionkey"))
           .select("s_suppkey", "s_name", "s_acctbal", "n_name"))
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey",
        F.round(F.col("l_extendedprice") * 100).cast("long")
        .alias("_price_cents"))
    costs = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(eur.select("s_suppkey")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("_price_cents").alias("_cost_cents"))
    )
    part_min = costs.groupBy(F.col("l_partkey").alias("_mp")).agg(
        F.min("_cost_cents").alias("_min_cents"))
    return (
        costs.join(part_min, (F.col("l_partkey") == F.col("_mp"))
                   & (F.col("_cost_cents") == F.col("_min_cents")))
        .join(F.broadcast(eur), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(F.col("l_partkey").alias("p_partkey"),
                "s_name", "s_acctbal", "n_name",
                (F.col("_cost_cents").cast("double") / 100)
                .alias("supply_cost"))
    )


CHEAPEST_SUPPLIER_PER_PART_SQL = f"""
WITH eur AS (
    SELECT s_suppkey, s_name, s_acctbal, n_name
    FROM supplier
    JOIN nation ON n_nationkey = s_nationkey
    JOIN region ON r_regionkey = n_regionkey
    WHERE r_name = '{Q2_REGION}'
), sel_parts AS (
    SELECT p_partkey FROM part
    WHERE p_size BETWEEN {Q2_SIZE_LO} AND {Q2_SIZE_HI}
          AND p_type = '{Q2_TYPE}'
), costs AS (
    SELECT l_partkey, l_suppkey,
           min(CAST(round(l_extendedprice * 100) AS BIGINT))
               AS cost_cents
    FROM lineitem
    JOIN sel_parts ON p_partkey = l_partkey
    JOIN eur ON s_suppkey = l_suppkey
    GROUP BY 1, 2
)
SELECT c.l_partkey AS p_partkey, e.s_name, e.s_acctbal, e.n_name,
       CAST(c.cost_cents AS DOUBLE) / 100 AS supply_cost
FROM costs c
JOIN eur e ON e.s_suppkey = c.l_suppkey
WHERE c.cost_cents = (SELECT min(cost_cents) FROM costs c2
                      WHERE c2.l_partkey = c.l_partkey)
"""


Q14_START, Q14_END = "1996-01-01", "1997-01-01"


def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped (promotion effect): the share of revenue from
    PROMO-type parts over a period — the conditional-sum-ratio
    aggregate (CASE inside two sums over one scan, no second pass).
    Both sums fold to integer cents first, and the final percentage
    is ONE double division of two exact longs rounded at 6dp, so the
    engines cannot disagree on accumulation order. Single broadcast
    join (part dim), single scan, one global aggregate row."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit(Q14_START).cast("date"))
        & (F.col("l_shipdate") < F.lit(Q14_END).cast("date")))
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_type")
    rev_cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    promo_cents = F.when(F.col("p_type") == "PROMO", rev_cents) \
        .otherwise(F.lit(0).cast("long"))
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(F.sum(promo_cents).alias("_p"), F.sum(rev_cents).alias("_t"))
        .select(
            F.round(F.lit(100.0) * F.col("_p").cast("double")
                    / F.col("_t").cast("double"), 6)
            .alias("promo_share_pct"),
            (F.col("_p").cast("double") / 100).alias("promo_revenue"),
            (F.col("_t").cast("double") / 100).alias("total_revenue"),
        )
    )


PROMO_REVENUE_SHARE_SQL = f"""
WITH agg AS (
    SELECT sum(CASE WHEN p_type = 'PROMO'
                    THEN CAST(round(l_extendedprice * (1 - l_discount)
                                    * 100) AS BIGINT)
                    ELSE 0 END) AS p,
           sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                    AS BIGINT)) AS t
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE l_shipdate >= DATE '{Q14_START}'
      AND l_shipdate < DATE '{Q14_END}'
)
SELECT round(100.0 * CAST(p AS DOUBLE) / CAST(t AS DOUBLE), 6)
           AS promo_share_pct,
       CAST(p AS DOUBLE) / 100 AS promo_revenue,
       CAST(t AS DOUBLE) / 100 AS total_revenue
FROM agg
"""


Q8_REGION, Q8_NATION = "ASIA", "NATION_9"
Q8_START, Q8_END = "1995-01-01", "1999-01-01"


def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-shaped (national market share): per order-year, the
    share of {Q8_REGION}-customer revenue supplied by {Q8_NATION} —
    the grouped conditional-ratio shape (Q14's ratio, but per group
    and with the CASE keyed off a joined dimension attribute rather
    than the row itself). Fact joins orders once on orderkey (the
    lone fact-sized exchange); customer/nation/region and
    supplier/nation legs are all broadcast dims; the share is one
    double division of two exact per-year cent sums."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit(Q8_START).cast("date"))
        & (F.col("o_orderdate") < F.lit(Q8_END).cast("date"))
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").where(
        F.col("r_name") == Q8_REGION).select("r_regionkey")
    cust_in_region = (
        load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_nationkey")
        .join(F.broadcast(nat.select("n_nationkey", "n_regionkey")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    sup_nation = (
        load_table(spark, sf_dir, "supplier").select(
            "s_suppkey", "s_nationkey")
        .join(F.broadcast(nat.select(F.col("n_nationkey").alias("_snk"),
                                     F.col("n_name").alias("supp_nation"))),
              F.col("s_nationkey") == F.col("_snk"))
        .select("s_suppkey", "supp_nation")
    )
    rev_cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    target_cents = F.when(F.col("supp_nation") == Q8_NATION, rev_cents) \
        .otherwise(F.lit(0).cast("long"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust_in_region),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(sup_nation),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(F.sum(target_cents).alias("_n"), F.sum(rev_cents).alias("_t"))
        .select(
            "o_year",
            F.round(F.col("_n").cast("double")
                    / F.col("_t").cast("double"), 6).alias("mkt_share"),
            (F.col("_t").cast("double") / 100).alias("region_revenue"),
        )
    )


NATION_MARKET_SHARE_SQL = f"""
WITH yr AS (
    SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
           sum(CASE WHEN sn.n_name = '{Q8_NATION}'
                    THEN CAST(round(l.l_extendedprice
                                    * (1 - l.l_discount) * 100)
                              AS BIGINT)
                    ELSE 0 END) AS n,
           sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                    AS BIGINT)) AS t
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation cn ON cn.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = cn.n_regionkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation sn ON sn.n_nationkey = s.s_nationkey
    WHERE r.r_name = '{Q8_REGION}'
      AND o.o_orderdate >= DATE '{Q8_START}'
      AND o.o_orderdate < DATE '{Q8_END}'
    GROUP BY 1
)
SELECT o_year,
       round(CAST(n AS DOUBLE) / CAST(t AS DOUBLE), 6) AS mkt_share,
       CAST(t AS DOUBLE) / 100 AS region_revenue
FROM yr
"""


Q6_START, Q6_END = "1996-01-01", "1997-01-01"
Q6_DISC_LO, Q6_DISC_HI, Q6_QTY_MAX = 0.05, 0.07, 24


def forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-shaped (forecasting revenue change): revenue that
    would vanish if discounts in a band were eliminated — the
    canonical pure-pushdown query: three range predicates and two
    columns, zero joins, one global sum. ALL THREE predicates and
    the 4-column projection must reach the parquet scan
    (plan-asserted PushedFilters); at 100 TB this query is
    min/max-zone-map skipping plus a map-side partial sum, nothing
    else. The product folds to integer 10^-4-cent units before the
    sum (price x discount has 4 decimal digits of exactness)."""
    li = load_table(spark, sf_dir, "lineitem")
    unit = F.round(
        F.col("l_extendedprice") * F.col("l_discount") * 10000
    ).cast("long")
    return (
        li.where((F.col("l_shipdate") >= F.lit(Q6_START).cast("date"))
                 & (F.col("l_shipdate") < F.lit(Q6_END).cast("date"))
                 & F.col("l_discount").between(Q6_DISC_LO, Q6_DISC_HI)
                 & (F.col("l_quantity") < Q6_QTY_MAX))
        .agg((F.sum(unit).cast("double") / 10000).alias("revenue"),
             F.count(F.lit(1)).cast("long").alias("n_items"))
    )


FORECAST_REVENUE_CHANGE_SQL = f"""
SELECT CAST(sum(CAST(round(l_extendedprice * l_discount * 10000)
                     AS BIGINT)) AS DOUBLE) / 10000 AS revenue,
       COUNT(*)::BIGINT AS n_items
FROM lineitem
WHERE l_shipdate >= DATE '{Q6_START}'
  AND l_shipdate < DATE '{Q6_END}'
  AND l_discount BETWEEN {Q6_DISC_LO} AND {Q6_DISC_HI}
  AND l_quantity < {Q6_QTY_MAX}
"""


Q13_EXCL_PRIORITY = "1-URGENT"


def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-shaped (customer distribution): how many customers
    have how many orders, counting only non-{Q13_EXCL_PRIORITY}
    orders — the outer-join + histogram-of-counts double aggregate.
    The priority exclusion must live in the JOIN condition, not a
    WHERE: a post-join filter would delete the zero-order customers
    the LEFT OUTER exists to keep (count(o_orderkey) then counts
    matched rows only, so excluded-priority-only customers land in
    the c_count=0 bucket). First aggregate shuffles on custkey; the
    histogram re-aggregates the customer-sized result — both keyed,
    no single-partition funnel."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority")
    per_cust = (
        cust.join(orders,
                  (F.col("c_custkey") == F.col("o_custkey"))
                  & (F.col("o_orderpriority") != Q13_EXCL_PRIORITY),
                  "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).cast("long").alias("custdist"))
    )


CUSTOMER_ORDER_DISTRIBUTION_SQL = f"""
SELECT c_count, COUNT(*)::BIGINT AS custdist
FROM (
    SELECT c.c_custkey, count(o.o_orderkey) AS c_count
    FROM customer c
    LEFT OUTER JOIN orders o
      ON o.o_custkey = c.c_custkey
     AND o.o_orderpriority <> '{Q13_EXCL_PRIORITY}'
    GROUP BY c.c_custkey
)
GROUP BY c_count
"""


Q9_PART_TOKEN = "red"
Q9_BUCKETS = 8


def _q9_profit_rollup(spark: SparkSession, sf_dir: str,
                      li: DataFrame, ps: DataFrame) -> DataFrame:
    """Shared Q9 rollup over a lineitem projection ``li`` and a
    per-(partkey, suppkey) cost table ``ps`` — the inline and
    bucketed variants differ only in where those two sides come
    from. Part filter and supplier→nation legs are broadcast dims;
    profit folds to exact cents before the sum."""
    red_parts = load_table(spark, sf_dir, "part").where(
        F.col("p_name").like(f"%{Q9_PART_TOKEN}%")).select("p_partkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate")
    sup_nat = (
        load_table(spark, sf_dir, "supplier").select(
            "s_suppkey", "s_nationkey")
        .join(F.broadcast(load_table(spark, sf_dir, "nation")
                          .select("n_nationkey", "n_name")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    rev_cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    qty = F.round(F.col("l_quantity")).cast("long")
    amount_cents = rev_cents - F.col("ps_unitcost_cents") * qty
    return (
        li.join(ps, (F.col("l_partkey") == F.col("ps_partkey"))
                & (F.col("l_suppkey") == F.col("ps_suppkey")))
        .join(F.broadcast(red_parts),
              F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(sup_nat),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.col("nation"),
                 F.year("o_orderdate").cast("long").alias("o_year"))
        .agg((F.sum(amount_cents).cast("double") / 100).alias("profit"))
    )


def profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-shaped (product-type profit): profit per supplier
    nation × order year, where profit is revenue minus supply cost.
    The testdata carries no partsupp table, so the cost side is
    DERIVED — the cheapest observed unit price (exact cents) per
    (partkey, suppkey) pair across all of lineitem — which keeps
    Q9's defining topology intact: a COMPOUND-KEY FACT-TO-FACT join
    (lineitem ⋈ per-pair costs on (partkey, suppkey)) where neither
    side is broadcastable at scale. This inline form pays two
    lineitem exchanges on the compound key (one to build the cost
    agg, one to join it); profit_by_nation_year_bucketed is the
    100 TB answer that removes both via compound-key bucketing."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount")
    unit_cents = F.round(
        F.col("l_extendedprice") * 100 / F.col("l_quantity")
    ).cast("long")
    ps = (li.groupBy(F.col("l_partkey").alias("ps_partkey"),
                     F.col("l_suppkey").alias("ps_suppkey"))
          .agg(F.min(unit_cents).alias("ps_unitcost_cents")))
    return _q9_profit_rollup(spark, sf_dir, li, ps)


def profit_by_nation_year_bucketed(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Q9's 100 TB plan: both fact sides of the compound-key join
    live as catalog tables bucketed on (partkey, suppkey) with equal
    bucket counts, so the cost aggregation AND the fact-to-fact join
    plan with ZERO Exchange on the compound key (plan-asserted in
    tests/test_bucketed_join.py); the lone fact-sized exchange left
    is the orders join on orderkey. Build is manifest-gated
    (index_commit: invalidate-first / commit-last) like every stored
    artifact:
    bucket lineitem's 6-column projection once, then derive the cost
    table from the bucketed copy — exchange-free — and store it under
    the same bucket spec. Results are identical to the inline form
    (same oracle row-for-row)."""
    from .queries_pipeline import _artifact_tag
    from .sources.readers import index_commit, index_ready, write_bucketed

    prefix = f"q9b_{_artifact_tag(sf_dir)}"
    li_t, costs_t = f"{prefix}_lineitem", f"{prefix}_costs"
    key = ["l_partkey", "l_suppkey"]
    if not index_ready(spark, prefix):
        with index_commit(spark, prefix, [li_t, costs_t], "quarantine"):
            li = load_table(spark, sf_dir, "lineitem").select(
                "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
                "l_extendedprice", "l_discount")
            write_bucketed(li, li_t, key, Q9_BUCKETS, sort_col=key)
            unit_cents = F.round(
                F.col("l_extendedprice") * 100 / F.col("l_quantity")
            ).cast("long")
            costs = (spark.table(li_t)
                     .groupBy(F.col("l_partkey").alias("ps_partkey"),
                              F.col("l_suppkey").alias("ps_suppkey"))
                     .agg(F.min(unit_cents).alias("ps_unitcost_cents")))
            write_bucketed(costs, costs_t,
                           ["ps_partkey", "ps_suppkey"], Q9_BUCKETS,
                           sort_col=["ps_partkey", "ps_suppkey"])
    return _q9_profit_rollup(spark, sf_dir,
                             spark.table(li_t), spark.table(costs_t))


PROFIT_BY_NATION_YEAR_SQL = f"""
WITH ps AS (
    SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
           min(CAST(round(l_extendedprice * 100 / l_quantity) AS BIGINT))
               AS ps_unitcost_cents
    FROM lineitem GROUP BY 1, 2
)
SELECT n.n_name AS nation,
       CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
       CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                     AS BIGINT)
                - ps.ps_unitcost_cents
                  * CAST(round(l.l_quantity) AS BIGINT)) AS DOUBLE)
       / 100 AS profit
FROM lineitem l
JOIN ps ON ps.ps_partkey = l.l_partkey AND ps.ps_suppkey = l.l_suppkey
JOIN part p ON p.p_partkey = l.l_partkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE p.p_name LIKE '%{Q9_PART_TOKEN}%'
GROUP BY 1, 2
"""


def props_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured path: parse the JSON ``props`` payload
    (get_json_object stays inside codegen — no Python), top-5 ``k``
    values per event type by count, ties by k asc. The JSON parse is
    a pure scan projection; the rollup is one (type, k) shuffle and
    a WindowGroupLimit rank."""
    return props_top5(props_k_counts(_events(spark, sf_dir)))


def props_k_counts(events: DataFrame) -> DataFrame:
    k_val = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        events.select(F.col("event_type"), k_val.alias("k"))
        .where(F.col("k").isNotNull())
        .groupBy("event_type", "k")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def props_top5(counted: DataFrame) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy(
        F.col("n").desc(), F.col("k").asc())
    return (
        counted.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 5)
        .select("event_type", "k", "n",
                F.col("rnk").cast("long").alias("rnk"))
    )


PROPS_TOPK_SQL = """
WITH counted AS (
    SELECT event_type,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k,
           COUNT(*)::BIGINT AS n
    FROM events
    WHERE json_extract(props, '$.k') IS NOT NULL
    GROUP BY 1, 2
)
SELECT event_type, k, n,
       (row_number() OVER (PARTITION BY event_type
                           ORDER BY n DESC, k))::BIGINT AS rnk
FROM counted QUALIFY rnk <= 5
"""


SPIKE_WINDOW_US = 3600 * 10**6
SPIKE_Z = 3.0


def error_spikes_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly error-count anomaly detection with a median/MAD
    modified z-score (operators/funnel.py:error_spikes) — the
    monitoring rollup next to the reference's blacklist/warning
    alerts."""
    from .operators.funnel import error_spikes

    return error_spikes(_events(spark, sf_dir), "1 hour",
                        threshold=SPIKE_Z)


ERROR_SPIKES_SQL = f"""
WITH w AS (
    SELECT (epoch_us(ts) // {SPIKE_WINDOW_US}) * {SPIKE_WINDOW_US}
           + {SPIKE_WINDOW_US} AS window_end_us,
           COUNT(*)::BIGINT AS n_errors
    FROM events WHERE event_type = 'error' GROUP BY 1
), med AS (
    SELECT quantile_cont(n_errors, 0.5) AS m FROM w
), mad AS (
    SELECT quantile_cont(abs(n_errors - med.m), 0.5) AS d FROM w, med
)
SELECT w.window_end_us, w.n_errors,
       round(med.m, 4) AS med, round(mad.d, 4) AS mad,
       round((w.n_errors - med.m) / greatest(mad.d, 1.0), 4) AS z_score,
       ((w.n_errors - med.m) / greatest(mad.d, 1.0)
        >= {SPIKE_Z})::BIGINT AS is_spike
FROM w, med, mad
"""


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "hot_items": hot_items,
    "hot_pages": hot_pages,
    "page_views": page_views,
    "unique_visitors": unique_visitors_exact,
    "unique_visitors_approx": unique_visitors_approx,
    "marketing_by_channel": marketing_by_channel,
    "marketing_total": marketing_total,
    "ad_stats_by_province": ad_stats_by_province,
    "login_fail": login_fail,
    "login_fail_cep": login_fail_cep,
    "login_fail_fb": login_fail_fb,
    "view_then_purchase": view_then_purchase,
    "order_timeout": order_timeout,
    "tx_interval_join": tx_interval_join,
    "purchase_asof_view": purchase_asof_view,
    "click_asof_next_error": click_asof_next_error,
    "tx_match": tx_match,
    "blacklist_warnings": blacklist_warnings,
    "blacklist_filtered": blacklist_filtered,
    "sessionize_users": sessionize_users,
    "sessionize_users_native": sessionize_users_native,
    "pricing_summary": pricing_summary,
    "revenue_by_nation": revenue_by_nation,
    "top_customers_per_segment": top_customers_per_segment,
    "revenue_rollup": revenue_rollup,
    "purchase_attribution": purchase_attribution,
    "heavy_hitters": heavy_hitters,
    "funnel_conversion": funnel_conversion,
    "retention_weekly": retention_weekly,
    "error_spikes": error_spikes_hourly,
    "shipping_priority": shipping_priority,
    "returned_customers": returned_customers,
    "large_volume_orders": large_volume_orders,
    "priority_late_orders": priority_late_orders,
    "dau_stickiness": dau_stickiness,
    "session_stats": session_stats,
    "revenue_deciles": revenue_deciles,
    "nation_trade_flows": nation_trade_flows,
    "props_topk": props_topk,
    "small_qty_revenue": small_qty_revenue,
    "sole_late_suppliers": sole_late_suppliers,
    "idle_rich_customers": idle_rich_customers,
    "supplier_part_variety": supplier_part_variety,
    "top_revenue_supplier": top_revenue_supplier,
    "discounted_band_revenue": discounted_band_revenue,
    "cheapest_supplier_per_part": cheapest_supplier_per_part,
    "promo_revenue_share": promo_revenue_share,
    "nation_market_share": nation_market_share,
    "forecast_revenue_change": forecast_revenue_change,
    "customer_order_distribution": customer_order_distribution,
    "profit_by_nation_year": profit_by_nation_year,
    "profit_by_nation_year_bucketed": profit_by_nation_year_bucketed,
    **PIPELINE_QUERIES,
}

ORACLES: dict[str, str] = {
    "hot_items": HOT_ITEMS_SQL,
    "hot_pages": HOT_PAGES_SQL,
    "page_views": PAGE_VIEWS_SQL,
    "unique_visitors": UNIQUE_VISITORS_SQL,
    "unique_visitors_approx": UNIQUE_VISITORS_APPROX_SQL,
    "marketing_by_channel": MARKETING_BY_CHANNEL_SQL,
    "marketing_total": MARKETING_TOTAL_SQL,
    "ad_stats_by_province": AD_STATS_SQL,
    "login_fail": _login_fail_sql(LOGIN_FAIL_N, LOGIN_FAIL_SPAN_S),
    "login_fail_cep": _login_fail_sql(3, 12 * 3600),
    "login_fail_fb": LOGIN_FAIL_FB_SQL,
    "view_then_purchase": VIEW_THEN_PURCHASE_SQL,
    "order_timeout": ORDER_TIMEOUT_SQL,
    "tx_interval_join": TX_INTERVAL_JOIN_SQL,
    "purchase_asof_view": PURCHASE_ASOF_VIEW_SQL,
    "click_asof_next_error": CLICK_ASOF_NEXT_ERROR_SQL,
    "tx_match": TX_MATCH_SQL,
    "blacklist_warnings": BLACKLIST_WARNINGS_SQL,
    "blacklist_filtered": BLACKLIST_FILTERED_SQL,
    "sessionize_users": SESSIONIZE_SQL,
    "sessionize_users_native": SESSIONIZE_SQL,
    "pricing_summary": PRICING_SUMMARY_SQL,
    "revenue_by_nation": REVENUE_BY_NATION_SQL,
    "top_customers_per_segment": TOP_CUSTOMERS_SQL,
    "revenue_rollup": REVENUE_ROLLUP_SQL,
    "purchase_attribution": PURCHASE_ATTRIBUTION_SQL,
    "heavy_hitters": HEAVY_HITTERS_SQL,
    "funnel_conversion": FUNNEL_SQL,
    "retention_weekly": RETENTION_SQL,
    "error_spikes": ERROR_SPIKES_SQL,
    "shipping_priority": SHIPPING_PRIORITY_SQL,
    "returned_customers": RETURNED_CUSTOMERS_SQL,
    "large_volume_orders": LARGE_VOLUME_ORDERS_SQL,
    "priority_late_orders": PRIORITY_LATE_ORDERS_SQL,
    "dau_stickiness": DAU_STICKINESS_SQL,
    "session_stats": SESSION_STATS_SQL,
    "revenue_deciles": REVENUE_DECILES_SQL,
    "nation_trade_flows": NATION_TRADE_FLOWS_SQL,
    "props_topk": PROPS_TOPK_SQL,
    "small_qty_revenue": SMALL_QTY_REVENUE_SQL,
    "sole_late_suppliers": SOLE_LATE_SUPPLIERS_SQL,
    "idle_rich_customers": IDLE_RICH_CUSTOMERS_SQL,
    "supplier_part_variety": SUPPLIER_PART_VARIETY_SQL,
    "top_revenue_supplier": TOP_REVENUE_SUPPLIER_SQL,
    "discounted_band_revenue": DISCOUNTED_BAND_REVENUE_SQL,
    "cheapest_supplier_per_part": CHEAPEST_SUPPLIER_PER_PART_SQL,
    "promo_revenue_share": PROMO_REVENUE_SHARE_SQL,
    "nation_market_share": NATION_MARKET_SHARE_SQL,
    "forecast_revenue_change": FORECAST_REVENUE_CHANGE_SQL,
    "customer_order_distribution": CUSTOMER_ORDER_DISTRIBUTION_SQL,
    "profit_by_nation_year": PROFIT_BY_NATION_YEAR_SQL,
    "profit_by_nation_year_bucketed": PROFIT_BY_NATION_YEAR_SQL,
    **PIPELINE_ORACLES,
}
