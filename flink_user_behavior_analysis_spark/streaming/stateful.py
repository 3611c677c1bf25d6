"""Keyed stateful streaming operators — the applyInPandasWithState
layer for semantics SQL can't express per-record (SURVEY section 4:
F6 daily-cap blacklist, C1/C2 consecutive-fail detection, J2/J3
two-sided matching and create->pay timeout with event-time timers).

These mirror the reference's KeyedProcessFunction state machines:
- consecutive_fail_stateful  <- LoginFail.java:145-196 (ListState of
  recent fails, warn when n fails land within the span, success clears)
- cap_filter_stateful        <- AdStatisticsByProvinceWithoutBlacklist
  .java:117-179 (per-key count state, one warning at cap+1; the
  midnight-reset timer becomes part of the sub-key (day) — same
  semantics, no timer needed)
- reconcile_stateful         <- TxPayMatch.java:65-170 (per-side state
  + timers, unmatched side outputs)
- order_timeout_stateful     <- OrderTimeoutWithoutCEP.java:68-161
  (create/pay ValueStates + event-time timer; here GroupStateTimeout
  .EventTimeTimeout fires when the watermark passes create+timeout)
- asof_stateful              <- streaming twin of operators/asof.py

State is bounded per key (a few scalars / a <=n-element buffer per
sub-key), so a 1000-executor run holds state proportional to live keys
only — same asymptotics as the reference's RocksDB-backed keyed state.

Keys and state rows. pyspark pays a fixed cost per group and trigger
before ``step`` sees a row: it turns the group's Arrow slice into
pandas, builds a GroupState and reads and writes the group's state
row. So the grouping key, not the row count, sets what a micro-batch
costs, and each operator groups by the coarsest key its machine
allows, keeping finer sub-keys inside the state row:

- consecutive_fail_stateful: user; ``fails`` is the packed ts buffer.
- cap_filter_stateful: user; ``counts`` is
  ``array<struct<behavior, day, cnt>>``, one count per (behavior, day).
- reconcile_stateful: ``key_cols[0]`` (user); ``items`` is
  ``array<struct<item, pays, receipts>>``, the per-side
  ``"ts_us:matched"`` buffers of each live item, and the one timer is
  the earliest live deadline over the items.
- order_timeout_stateful: (user, item), one timer per pair.
- asof_stateful: ``key_col``; best right, pending lefts and rights,
  last event time.

A NULL sub-key (behavior, item) is its own entry, as it was its own
group when the sub-key was part of the grouping key; a NULL item's pays
and receipts never match each other, as NULL keys never join in the
batch twin. On the
benchmark's ``alert_stream`` replay (50 users, ~30 rows per user and
micro-batch) keying cap_filter by (user, behavior, day) and reconcile
by (user, item) split each user's rows into ~25 and ~12 groups; a
traced run (4 cores) spent 2885 ms of state update on cap_filter's
first micro-batch of 1,219 groups, ~2.4 ms per group. Keyed by user,
the two operators hold 50 state rows each instead of 2,489 and 591,
and that micro-batch's state update takes 1189 ms. CHANGES.md has the
paired runs.

Checkpoints: a checkpoint records each operator's key and state
schema. One written while cap_filter or reconcile was keyed by
(user, sub-key) cannot be restarted by this code: Spark 4.1 fails the
first micro-batch after the restart with
STATE_STORE_KEY_SCHEMA_NOT_COMPATIBLE, before writing output. Such a
query restarts from a new checkpoint location (replaying its input).

Each operator is a ``prepared`` projection plus a state-machine
``step(key, rows, state)``; ``_per_key`` is the one place that runs
them through applyInPandasWithState, and it owns the ordering
contract: a key's rows can span several Arrow chunks, and sorting each
chunk on its own is only ordered while the group fits one chunk, so
the runner concatenates ALL of a key's chunks and sorts them ONCE
(by (ts, event_id), or ts alone) before ``step`` sees them. Cross-
batch reordering is bounded by the source's watermark, matching the
reference's assumption that watermarked input is effectively ordered
(AscendingTimestampExtractor W1). The closures reference module-level
helpers; executors import this package from the PYTHONPATH that
session.get_spark sets.

Batch equivalence: each operator is an entry of
``streaming.jobs.STREAMING_QUERIES``, bound there to its batch twin in
queries.py (operators/patterns.py / blacklist.py / joins.py / asof.py)
with that twin's parameters and a comparison rule;
tests/test_streaming_split.py drains every entry over multi-file
replays and asserts the rule.
"""

from __future__ import annotations

from collections import Counter
from typing import Callable, Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

US = 1_000_000


def _unpack(packed: str) -> list[list[int]]:
    """State-string codec: ``"a:b,c:d"`` -> ``[[a, b], [c, d]]``."""
    return [[int(a), int(b)] for a, b in
            (e.split(":") for e in packed.split(",") if e)]


def _pack(buf: list[list[int]]) -> str:
    return ",".join(f"{a}:{b}" for a, b in buf)


def _per_key(
    prepared: DataFrame,
    keys: Sequence[str],
    step: Callable[[tuple, pd.DataFrame, GroupState], list | None],
    out_schema: StructType,
    state_schema: StructType,
    timeout: str,
    order: Sequence[str],
) -> DataFrame:
    """Group ``prepared`` by ``keys`` and run ``step`` once per key and
    micro-batch with all of the key's rows, sorted by ``order`` (no sort
    when empty). On a timer firing with no new data ``rows`` is an
    empty frame. ``step`` returns output tuples in ``out_schema``'s
    field order."""
    cols = out_schema.fieldNames()
    in_cols = prepared.columns
    order = list(order)

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        chunks = list(pdfs)
        if not chunks:
            rows = pd.DataFrame(columns=in_cols)
        else:
            rows = (chunks[0] if len(chunks) == 1
                    else pd.concat(chunks, ignore_index=True))
            if order:
                rows = rows.sort_values(order)
        out = step(key, rows, state)
        if out:
            yield pd.DataFrame(out, columns=cols)

    return prepared.groupBy(*keys).applyInPandasWithState(
        fn, out_schema, state_schema, "append", timeout)


def consecutive_fail_stateful(
    events: DataFrame,
    n: int,
    within_seconds: int,
    fail_value: str = "error",
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    order_col: str = "event_id",
) -> DataFrame:
    """Streaming C1/C2: warn on every run of n consecutive fails whose
    span is <= within_seconds; a success resets the run (exactly the
    batch consecutive_events semantics)."""
    out_schema = StructType([
        StructField("user_id", LongType()),
        StructField("first_fail_us", LongType()),
        StructField("last_fail_us", LongType()),
    ])
    state_schema = StructType([StructField("fails", StringType())])
    span_us = within_seconds * US

    def step(key, rows, state: GroupState):
        buf = []
        if state.exists:
            (packed,) = state.get
            buf = [int(x) for x in packed.split(",") if x]
        out = []
        for ts_us, is_fail in zip(rows["__ts_us"], rows["__is_fail"]):
            if is_fail:
                buf.append(int(ts_us))
                if len(buf) > n:
                    buf.pop(0)
                if len(buf) == n and buf[-1] - buf[0] <= span_us:
                    out.append((key[0], buf[0], buf[-1]))
            else:
                buf = []
        state.update((",".join(str(x) for x in buf),))
        return out

    prepared = events.select(
        F.col(user_col),
        F.unix_micros(F.col(ts_col)).alias("__ts_us"),
        F.col(order_col).alias("__ord"),
        (F.col(type_col) == fail_value).alias("__is_fail"),
    )
    return _per_key(prepared, [user_col], step, out_schema, state_schema,
                    GroupStateTimeout.NoTimeout, ["__ts_us", "__ord"])


def cap_filter_stateful(
    events: DataFrame,
    cap: int,
    user_col: str = "user_id",
    behavior_col: str = "behavior",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming F6: per (user, behavior, day) pass while count < cap,
    emit ONE warning when the (cap+1)-th event arrives. The reference's
    midnight state-clear timer is replaced by day-scoped counts — old
    days' counts are droppable by watermark (document: production would
    add a timeout to evict prior-day counts). Keyed by user; the state
    row holds a count per (behavior, day). Only the counts matter, so
    rows are not ordered."""
    out_schema = StructType([
        StructField("user_id", LongType()),
        StructField("behavior", StringType()),
        StructField("day", StringType()),
        StructField("warning_msg", StringType()),
    ])
    state_schema = StructType([StructField("counts", ArrayType(StructType([
        StructField("behavior", StringType()),
        StructField("day", StringType()),
        StructField("cnt", LongType()),
    ])))])
    msg = f"click over {cap} times today"

    def step(key, rows, state: GroupState):
        counts = ({(b, d): c for b, d, c in state.get[0]}
                  if state.exists else {})
        out = []
        for sub, n in Counter(zip(rows["behavior"], rows["day"])).items():
            cnt = counts.get(sub, 0)
            counts[sub] = cnt + n
            if cnt <= cap < cnt + n:
                out.append((key[0], sub[0], sub[1], msg))
        state.update(([(b, d, c) for (b, d), c in counts.items()],))
        return out

    prepared = events.select(
        F.col(user_col),
        F.col(behavior_col).alias("behavior"),
        F.date_format(F.date_trunc("day", F.col(ts_col)), "yyyy-MM-dd").alias("day"),
    )
    return _per_key(prepared, [user_col], step, out_schema, state_schema,
                    GroupStateTimeout.NoTimeout, [])


def reconcile_stateful(
    events: DataFrame,
    lower_seconds: float,
    upper_seconds: float,
    key_cols: tuple[str, str] = ("user_id", "item_id"),
    type_col: str = "event_type",
    left_value: str = "purchase",
    right_value: str = "click",
    ts_col: str = "ts",
    order_col: str = "event_id",
) -> DataFrame:
    """Streaming J2: full-outer two-stream reconciliation with
    unmatched routing — the streaming twin of operators/joins.py
    ``reconcile`` (reference TxPayMatch.java:65-170: CoProcessFunction
    with per-side state + timers; side outputs :71-73).

    Both sides buffer in keyed state. A new left (pay) emits
    ``matched`` against every buffered right (receipt) with
    receipt_ts - pay_ts in [lower, upper] — ALL qualifying pairs, the
    same join (not 1:1 matching) semantics as the batch twin — and
    vice versa. A buffered pay can match no future receipt once the
    watermark passes pay_ts + upper, so it expires then, emitting
    ``unmatched_pay`` if it never matched; a receipt expires at
    receipt_ts - lower with ``unmatched_receipt``. Expiry runs against
    GroupState.getCurrentWatermarkMs() on every invocation, plus an
    event-time timer at the earliest pending deadline so idle keys
    still flush — exactly the reference's per-side ValueState + timer
    shape, with state bounded by the band width per key.

    Grouped by ``key_cols[0]`` alone; the state row holds the buffers
    of each live ``key_cols[1]`` value. That sub-key travels as a
    NULL-free long plus a NULL flag, so it stays exact (a nullable long
    holding a NULL reaches pandas as float64) and NULL stays its own
    sub-key.
    """
    out_schema = StructType([
        StructField("kind", StringType()),
        StructField("user_id", LongType()),
        StructField("item_id", LongType()),
        StructField("pay_us", LongType()),
        StructField("receipt_us", LongType()),
    ])
    # per-side buffer packed as "ts_us:matched_flag," strings — a few
    # band-widths of events per key, never unbounded
    state_schema = StructType([StructField("items", ArrayType(StructType([
        StructField("item", LongType()),
        StructField("pays", StringType()),
        StructField("receipts", StringType()),
    ])))])
    lo_us = int(lower_seconds * US)
    hi_us = int(upper_seconds * US)

    def step(key, rows, state: GroupState):
        uid = key[0]
        items = ({item: (_unpack(p), _unpack(r)) for item, p, r in state.get[0]}
                 if state.exists else {})
        out = []
        for item, no_item, ts_us, etype in zip(
                rows["__item"], rows["__no_item"], rows["__ts_us"],
                rows["__etype"]):
            item = None if no_item else int(item)
            ts_us = int(ts_us)
            pays, receipts = items.setdefault(item, ([], []))
            # a NULL item equals nothing, as in the batch join: such a
            # row is only buffered, and expires unmatched
            matched = 0
            if etype == "l":
                for r in receipts if item is not None else ():
                    if lo_us <= r[0] - ts_us <= hi_us:
                        out.append(("matched", uid, item, ts_us, r[0]))
                        r[1] = matched = 1
                pays.append([ts_us, matched])
            else:
                for p in pays if item is not None else ():
                    if lo_us <= ts_us - p[0] <= hi_us:
                        out.append(("matched", uid, item, p[0], ts_us))
                        p[1] = matched = 1
                receipts.append([ts_us, matched])
        # expire: a pay's last eligible receipt is pay+upper, a
        # receipt's last eligible pay is receipt-lower — both decided
        # once the watermark passes the deadline
        wm_us = state.getCurrentWatermarkMs() * 1000
        live, deadlines = [], []
        for item, (pays, receipts) in items.items():
            live_p, live_r = [], []
            for t, m in pays:
                if t + hi_us <= wm_us:
                    if not m:
                        out.append(("unmatched_pay", uid, item, t, None))
                else:
                    live_p.append([t, m])
                    deadlines.append(t + hi_us)
            for t, m in receipts:
                if t - lo_us <= wm_us:
                    if not m:
                        out.append(("unmatched_receipt", uid, item, None, t))
                else:
                    live_r.append([t, m])
                    deadlines.append(t - lo_us)
            if live_p or live_r:
                live.append((item, _pack(live_p), _pack(live_r)))
        if not live:
            if state.exists:
                state.remove()
        else:
            state.update((live,))
            state.setTimeoutTimestamp(
                max(min(deadlines) // 1000, state.getCurrentWatermarkMs() + 1)
            )
        return out

    item_col = F.col(key_cols[1])
    prepared = events.where(
        F.col(type_col).isin(left_value, right_value)
    ).select(
        F.col(key_cols[0]),
        F.coalesce(item_col, F.lit(0)).alias("__item"),
        item_col.isNull().alias("__no_item"),
        F.unix_micros(F.col(ts_col)).alias("__ts_us"),
        F.col(order_col).alias("__ord"),
        F.when(F.col(type_col) == left_value, F.lit("l"))
        .otherwise(F.lit("r")).alias("__etype"),
        F.col(ts_col),
    )
    return _per_key(prepared, [key_cols[0]], step, out_schema, state_schema,
                    GroupStateTimeout.EventTimeTimeout, ["__ts_us", "__ord"])


def order_timeout_stateful(
    events: DataFrame,
    timeout_seconds: int,
    key_cols: tuple[str, str] = ("user_id", "item_id"),
    type_col: str = "event_type",
    create_value: str = "view",
    pay_value: str = "purchase",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming J3/C3: emit 'payed' when pay follows create within the
    timeout; on event-time timer expiry (watermark passes
    create + timeout) emit 'timeout_no_pay'; a pay after the deadline
    emits 'timeout_payed_late'; pay with no create emits
    'payed_not_created' when its wait timer expires
    (OrderTimeoutWithoutCEP.java:68-161 state machine).
    """
    out_schema = StructType([
        StructField("user_id", LongType()),
        StructField("item_id", LongType()),
        StructField("create_us", LongType()),
        StructField("pay_us", LongType()),
        StructField("result_state", StringType()),
    ])
    state_schema = StructType([
        StructField("create_us", LongType()),
        StructField("pay_us", LongType()),
    ])
    timeout_us = timeout_seconds * US

    def step(key, rows, state: GroupState):
        # state: (create_us, pre_create_pay_us). A pay observed BEFORE
        # any create is NOT an eligible settlement (the batch twin
        # takes min pay >= create, ORDER_TIMEOUT_SQL w2); it only
        # matters for the no-create-ever 'payed_not_created' verdict —
        # with pay_us reported as NULL, exactly like the batch twin.
        if state.hasTimedOut:
            create_us, pre_pay = state.get
            state.remove()
            if create_us is not None:
                return [(key[0], key[1], create_us, None, "timeout_no_pay")]
            if pre_pay is not None:
                return [(key[0], key[1], None, None, "payed_not_created")]
            return None
        create_us, pre_pay = state.get if state.exists else (None, None)
        for ts_us, etype in zip(rows["__ts_us"], rows["__etype"]):
            ts_us = int(ts_us)
            if etype == "c":
                if create_us is None:
                    create_us = ts_us
                    pre_pay = None  # earlier pays are ineligible
            elif create_us is not None and ts_us >= create_us:
                st = ("payed" if ts_us < create_us + timeout_us
                      else "timeout_payed_late")
                state.remove()
                return [(key[0], key[1], create_us, ts_us, st)]
            elif pre_pay is None:
                pre_pay = ts_us
        state.update((create_us, pre_pay))
        # deadline in EVENT time: create + timeout, or a same-length
        # grace period for a pay still waiting on its create
        anchor = create_us if create_us is not None else pre_pay
        state.setTimeoutTimestamp((anchor + timeout_us) // 1000)
        return None

    prepared = events.where(
        F.col(type_col).isin(create_value, pay_value)
    ).select(
        F.col(key_cols[0]),
        F.col(key_cols[1]),
        F.unix_micros(F.col(ts_col)).alias("__ts_us"),
        F.when(F.col(type_col) == create_value, F.lit("c"))
        .otherwise(F.lit("p")).alias("__etype"),
        F.col(ts_col),
    )
    return _per_key(prepared, key_cols, step, out_schema, state_schema,
                    GroupStateTimeout.EventTimeTimeout, ["__ts_us"])


def asof_stateful(
    events: DataFrame,
    left_value: str,
    right_value: str,
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    order_col: str = "event_id",
    idle_ttl_sec: float | None = None,
) -> DataFrame:
    """Streaming twin of operators/asof.py (backward direction): each
    left event is matched to the latest right event at-or-before it,
    per key, under out-of-order arrival.

    Correctness under lateness: a left row is only DECIDABLE once the
    watermark passes its timestamp (a late right inside
    (current_best_ts, left_ts] could still arrive), so lefts buffer
    until wm > left_ts. Rights below the watermark are FINAL, and only
    the latest of them can ever match a future left (any later left
    sees it last among finalized rights) — so finalized rights
    COLLAPSE to one (ts, id) pair per key. State is therefore bounded
    by the in-flight watermark window plus two scalars, regardless of
    stream length; the one best-right pair lives as long as the key
    unless `idle_ttl_sec` bounds it.

    idle_ttl_sec (VERDICT r11 #5): with an unbounded key space the
    per-key best pair would accumulate forever, so when set, a key
    with NO in-flight rows whose last activity is more than the TTL
    below the watermark is evicted via an event-time timer. Active
    keys are untouched (any new event refreshes the horizon, and a
    pending left always pre-empts the TTL timer with its own decide
    wakeup); the accepted tradeoff is that a key RESUMING after the
    TTL rejoins with no history — its next left matches null until a
    fresh right arrives, exactly like a brand-new key.

    Tie semantics match the batch operator exactly: right.ts ==
    left.ts matches, same-ts rights resolve to max order_col.

    Emits (key, left_id, left_us, right_id, right_us) with nulls for
    never-matched lefts — left-join semantics, like the batch twin.
    key_col may be any type (it passes through the state key, and the
    output schema mirrors the input field); order_col and the us
    columns must be integral — the state pack format is int-only
    (ADVICE r11: validated here instead of failing opaquely in the
    Arrow worker).
    """
    from pyspark.sql.types import IntegralType

    order_t = events.schema[order_col].dataType
    if not isinstance(order_t, IntegralType):
        raise ValueError(
            f"asof_stateful: order_col {order_col!r} must be an "
            f"integral type (state packs it as int), got {order_t}")
    out_schema = StructType([
        StructField(key_col, events.schema[key_col].dataType),
        StructField("left_id", LongType()),
        StructField("left_us", LongType()),
        StructField("right_id", LongType()),
        StructField("right_us", LongType()),
    ])
    # best: "ts:id" or ""; lefts/rights: "ts:id," buffers;
    # last_us: max event-time seen — the idle-TTL horizon anchor
    state_schema = StructType([
        StructField("best", StringType()),
        StructField("lefts", StringType()),
        StructField("rights", StringType()),
        StructField("last_us", LongType()),
    ])
    idle_ttl_us = (None if idle_ttl_sec is None
                   else int(idle_ttl_sec * US))

    def step(key, rows, state: GroupState):
        best, lefts, rights, last_us = None, [], [], 0
        if state.exists:
            b_packed, l_packed, r_packed, last_us = state.get
            b = _unpack(b_packed)
            best = b[0] if b else None
            lefts, rights = _unpack(l_packed), _unpack(r_packed)
        if len(rows):
            for ts_us, oid, side in zip(
                    rows["__ts_us"], rows["__ord"], rows["__side"]):
                (lefts if side == "l" else rights).append(
                    [int(ts_us), int(oid)])
            last_us = max(last_us, int(rows["__ts_us"].max()))
        wm_us = state.getCurrentWatermarkMs() * 1000
        # decide every left strictly below the watermark: all rights
        # at-or-before it are final by now
        out, live_l = [], []
        all_rights = ([best] if best else []) + rights
        for lt, lid in sorted(lefts):
            if lt < wm_us:
                cands = [r for r in all_rights if r[0] <= lt]
                m = max(cands) if cands else None
                out.append((key[0], lid, lt,
                            m[1] if m else None, m[0] if m else None))
            else:
                live_l.append([lt, lid])
        # collapse finalized rights into the single carried best
        final_r = [r for r in all_rights if r[0] < wm_us]
        if final_r:
            best = max(final_r)
        live_r = [r for r in rights if r[0] >= wm_us]
        # idle-TTL eviction: nothing in flight and the watermark is
        # past the key's activity horizon — drop the carried best
        if (idle_ttl_us is not None and not live_l and not live_r
                and wm_us >= last_us + idle_ttl_us):
            best = None
        if best is None and not live_l and not live_r:
            if state.exists:
                state.remove()
        else:
            state.update((_pack([best] if best else []),
                          _pack(live_l), _pack(live_r), last_us))
            if live_l:
                # wake when the watermark can decide the earliest
                # left — a pending left pre-empts the TTL timer (the
                # key is by definition not idle, and the next
                # invocation re-arms whichever timer applies)
                state.setTimeoutTimestamp(
                    max(min(t for t, _ in live_l) // 1000 + 1,
                        state.getCurrentWatermarkMs() + 1))
            elif idle_ttl_us is not None:
                # no in-flight rows: arm the eviction timer so the
                # key self-cleans even if no further data arrives
                # (in-flight rights finalize into best on that same
                # firing, then the horizon check above clears it)
                state.setTimeoutTimestamp(
                    max((last_us + idle_ttl_us) // 1000 + 1,
                        state.getCurrentWatermarkMs() + 1))
        return out

    prepared = events.where(
        F.col(type_col).isin(left_value, right_value)
    ).select(
        F.col(key_col),
        F.unix_micros(F.col(ts_col)).alias("__ts_us"),
        F.col(order_col).alias("__ord"),
        F.when(F.col(type_col) == left_value, F.lit("l"))
        .otherwise(F.lit("r")).alias("__side"),
        F.col(ts_col),
    )
    # no sort: step sorts its decidable lefts itself
    return _per_key(prepared, [key_col], step, out_schema, state_schema,
                    GroupStateTimeout.EventTimeTimeout, [])
