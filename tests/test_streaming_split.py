"""Stateful streaming twins == batch twins on ANY replay split.

The other stream tests replay one file, so each stateful operator sees
the whole timeline in one micro-batch and never carries state across
batches. Here hypothesis cuts the sf0.001 events at random event-time
points into 1-4 time-ordered files, drained one file per micro-batch
(``maxFilesPerTrigger=1``), and the drained output is checked with the
rules ``perfbench/checks.py`` applies: consecutive_fail and cap_filter
exact, reconcile matched rows exact and unmatched rows a subset (they
fire only once the watermark passes their deadline).

The input gains edge rows for user ``EDGE_USER``, whose keyed state
holds several sub-keys at once: an ``item_id`` above 2**53 next to a
NULL ``item_id`` (a nullable long holding a NULL reaches pandas as
float64, which would round the id), a NULL-item pay in band with
receipts of other items (merging NULL into another item would match
it) and with a NULL-item receipt (a NULL item equals nothing in the
batch join), and NULL ``behavior`` rows on days that also hold clicks (merging
NULL into another behavior would cross the cap).
"""

import os
import uuid
from collections import Counter
from datetime import datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from flink_user_behavior_analysis_spark import queries as Q
from flink_user_behavior_analysis_spark.sources import with_item
from flink_user_behavior_analysis_spark.streaming import (
    cap_filter_stateful,
    consecutive_fail_stateful,
    reconcile_stateful,
    run_available_now,
    stream_events,
)

EDGE_USER = 990
BIG_ITEM = 2**53 + 1
T0 = datetime(2024, 1, 10, 1)
H = timedelta(hours=1)
D = timedelta(days=1)

# (offset from T0, event_type, props): item_id is parsed from props
EDGE_ROWS = [
    (0 * H, "purchase", f'{{"k": {BIG_ITEM}}}'),
    (1 * H, "click", f'{{"k": {BIG_ITEM}}}'),       # matches the BIG pay
    (2 * H, "purchase", None),                       # NULL item, unmatched
    (2.5 * H, "click", '{"k": 0}'),
    (3 * H, "click", None),                          # NULL item, unmatched
    (D, "click", '{"k": 1}'),
    (D + H, "click", '{"k": 2}'),
    (D + 2 * H, None, '{"k": 3}'),                   # NULL behavior
    (D + 3 * H, None, '{"k": 4}'),                   # 2 + 2 stays under cap
    (2 * D, None, '{"k": 5}'),
    (2 * D + H, None, '{"k": 6}'),
    (2 * D + 2 * H, None, '{"k": 7}'),
    (2 * D + 3 * H, None, '{"k": 8}'),               # 4 NULLs: one warning
]

def _us(t: datetime) -> int:
    return int((t - datetime(1970, 1, 1)).total_seconds()) * 1_000_000


STREAM_COLS = {
    "consecutive_fail": ["user_id", "first_fail_us", "last_fail_us"],
    "cap_filter": ["user_id", "behavior", "day", "warning_msg"],
    "reconcile": ["kind", "user_id", "item_id", "pay_us", "receipt_us"],
}


def _bag(df, cols) -> Counter:
    return Counter(tuple(r[c] for c in cols) for r in df.collect())


def _events_with_edges(sf_dir) -> pa.Table:
    ev = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    first_id = max(ev["event_id"].to_pylist()) + 1
    edge = pa.table({
        "event_id": pa.array(range(first_id, first_id + len(EDGE_ROWS)),
                             pa.int64()),
        "ts": pa.array([T0 + off for off, _, _ in EDGE_ROWS],
                       ev.schema.field("ts").type),
        "user_id": pa.array([EDGE_USER] * len(EDGE_ROWS), pa.int64()),
        "event_type": pa.array([t for _, t, _ in EDGE_ROWS], pa.string()),
        "value": pa.array([1.0] * len(EDGE_ROWS), pa.float64()),
        "props": pa.array([p for _, _, p in EDGE_ROWS], pa.string()),
    }).select(ev.column_names).cast(ev.schema.remove_metadata())
    return (pa.concat_tables([ev.cast(ev.schema.remove_metadata()), edge])
            .sort_by([("ts", "ascending"), ("event_id", "ascending")]))


def _write_replay(root, table, cuts) -> str:
    """``table`` (ts-sorted) as files cut before the rows at ``cuts``,
    with increasing modification times so the stream reads them in
    event-time order."""
    d = os.path.join(root, "events.parquet")
    os.makedirs(d)
    bounds = [0, *cuts, table.num_rows]
    for i, (a, b) in enumerate(zip(bounds, bounds[1:])):
        path = os.path.join(d, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(a, b - a), path)
        os.utime(path, (1_700_000_000 + 10 * i,) * 2)
    return root


@pytest.fixture(scope="module")
def edge_events(sf_dir):
    return _events_with_edges(sf_dir)


@pytest.fixture(scope="module")
def batch_twins(spark, edge_events, tmp_path_factory):
    """The batch twins read the union of the files, which is the same
    for every split, so they run once."""
    whole = _write_replay(str(tmp_path_factory.mktemp("whole")),
                          edge_events, [])
    return {name: _bag(Q.QUERIES[query](spark, whole), STREAM_COLS[name])
            for name, query in (("consecutive_fail", "login_fail"),
                                ("cap_filter", "blacklist_warnings"),
                                ("reconcile", "tx_match"))}


def _drain(spark, replay):
    def events():
        return stream_events(spark, replay, watermark="0 seconds")

    return {
        "consecutive_fail": consecutive_fail_stateful(
            events(), n=2, within_seconds=6 * 3600),
        "cap_filter": cap_filter_stateful(
            events().withColumnRenamed("event_type", "behavior"), cap=3),
        "reconcile": reconcile_stateful(
            with_item(events()), -12 * 3600, 12 * 3600),
    }


@settings(max_examples=3, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(fracs=st.lists(st.floats(min_value=0.0, max_value=1.0),
                      min_size=0, max_size=3))
@example(fracs=[0.25, 0.5, 0.75])
def test_stateful_twins_equal_batch_on_any_split(spark, edge_events,
                                                 batch_twins, tmp_path, fracs):
    ts = edge_events["ts"].to_pylist()
    lo, hi = ts[0], ts[-1]
    # an event-time cut point -> the first row at or after it
    cuts = sorted({next(i for i, t in enumerate(ts) if t >= lo + f * (hi - lo))
                   for f in fracs} - {0})
    replay = _write_replay(str(tmp_path / uuid.uuid4().hex), edge_events, cuts)
    got = {name: _bag(run_available_now(sdf, "append"), STREAM_COLS[name])
           for name, sdf in _drain(spark, replay).items()}

    assert got["consecutive_fail"] == batch_twins["consecutive_fail"], cuts
    assert got["cap_filter"] == batch_twins["cap_filter"], cuts
    matched = Counter({r: n for r, n in got["reconcile"].items()
                       if r[0] == "matched"})
    assert matched == Counter({r: n for r, n in batch_twins["reconcile"].items()
                               if r[0] == "matched"}), cuts
    assert not got["reconcile"] - batch_twins["reconcile"], cuts
    # the edge rows reached the outputs they were built for
    assert ("matched", EDGE_USER, BIG_ITEM, _us(T0), _us(T0 + H)) in matched
    assert (EDGE_USER, None, "2024-01-12", "click over 3 times today") \
        in got["cap_filter"]


def test_reconcile_null_item_never_matches(spark, sf_dir, tmp_path):
    """User 7 pays and receives 1 h apart, both with NULL props, so
    both with a NULL item. Two later files of another user's receipts
    (reconcile's filter runs before the watermark, so only pays and
    receipts move it) take the watermark past both deadlines and then
    run a micro-batch under it, which fires user 7's timer. The batch
    twin (tx_match) and its oracle never equate NULL items, so both of
    user 7's rows come out unmatched, and the stream must say the
    same."""
    schema = pq.read_schema(
        os.path.join(sf_dir, "events.parquet")).remove_metadata()
    rows = [(1, T0, 7, "purchase", None), (2, T0 + H, 7, "click", None),
            (3, T0 + 2 * D, 8, "click", '{"k": 1}'),
            (4, T0 + 2 * D + H, 8, "click", '{"k": 1}')]
    table = pa.table({
        "event_id": [r[0] for r in rows], "ts": [r[1] for r in rows],
        "user_id": [r[2] for r in rows], "event_type": [r[3] for r in rows],
        "value": [1.0] * len(rows), "props": [r[4] for r in rows],
    }).select(schema.names).cast(schema)
    replay = _write_replay(str(tmp_path), table, [2, 3])
    def user_7(df):
        return _bag(df.where("user_id = 7"), STREAM_COLS["reconcile"])

    want = user_7(Q.QUERIES["tx_match"](spark, replay))
    assert want == Counter({("unmatched_pay", 7, None, _us(T0), None): 1,
                            ("unmatched_receipt", 7, None, None,
                             _us(T0 + H)): 1})
    assert user_7(run_available_now(_drain(spark, replay)["reconcile"],
                                    "append")) == want
