"""Every streaming twin against its batch twin on multi-file replays.

``STREAMING_QUERIES`` (streaming/jobs.py) pairs each twin with its
batch query, output mode, compared columns and comparison rule. One
helper, ``assert_twin``, drains a twin and asserts its rule against the
batch twin over the same files: the prefix consistency of *Structured
Streaming* (SIGMOD 2018), tested as spark-rapids tests two execution
paths, with one helper and one asserted result.

- ``test_twin_equals_batch`` drains every entry over a fixed 3-file
  event-time cut (and a 3-file cut of the documents), one file per
  micro-batch (``maxFilesPerTrigger=1``), so windowed, dedup and keyed
  state cross micro-batches.
- ``test_stateful_twins_equal_batch_on_any_split``: hypothesis cuts the
  events at random event-time points into 1-4 files for the per-user
  machines.
- ``test_every_stream_body_and_stateful_operator_has_an_entry``.

The events are sf0.001 plus edge rows for user ``EDGE_USER``, whose
keyed state holds several sub-keys at once: an ``item_id`` above 2**53
next to a NULL ``item_id`` (a nullable long holding a NULL reaches
pandas as float64, which would round the id), a NULL-item pay in band
with receipts of other items (merging NULL into another item would
match it) and with a NULL-item receipt (a NULL item equals nothing in
the batch join), and NULL ``behavior`` rows on days that also hold
clicks (merging NULL into another behavior would cross the cap). The
BIG-item pay and receipt are also the only matched pair, so the
interval join has rows to compare.
"""

import inspect
import os
import uuid
from collections import Counter
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.errors import StreamingQueryException

from flink_user_behavior_analysis_spark import queries as Q
from flink_user_behavior_analysis_spark.streaming import STREAMING_QUERIES

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

# the per-user machines the random splits drain
PER_USER = ("consecutive_fail", "cap_filter", "reconcile")


def _us(t: datetime) -> int:
    return int((t - datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _bag(rows, cols) -> Counter:
    return Counter(tuple(r[c] for c in cols) for r in rows)


def _matched(bag: Counter) -> Counter:
    return Counter({r: n for r, n in bag.items() if r[0] == "matched"})


def _drain(spark, twin, replay):
    """Drain ``twin`` over ``replay``: (its rows after ``compose``, the
    watermark of its last micro-batch in microseconds or None)."""
    name = f"twin_{uuid.uuid4().hex[:12]}"
    q = (twin.build(spark, replay).writeStream.format("memory")
         .queryName(name).outputMode(twin.mode)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    wm = ((q.lastProgress or {}).get("eventTime") or {}).get("watermark")
    wm_us = None if wm is None else _us(
        datetime.fromisoformat(wm.replace("Z", "+00:00"))
        .astimezone(timezone.utc).replace(tzinfo=None))
    got = spark.table(name)
    return (twin.compose(got) if twin.compose else got).collect(), wm_us


def _assert_rule(twin, got_rows, want_rows, wm_us):
    """``twin.rule`` (see ``Twin``). For ``closed_keys`` the first two
    columns are the key and the last the decision; for
    ``decided_lefts`` the third column is the left's event time."""
    got, want = _bag(got_rows, twin.cols), _bag(want_rows, twin.cols)
    assert want, "the batch twin is empty: any rule would hold"
    if twin.rule in ("exact", "composed"):
        assert got == want
    elif twin.rule == "matched_exact":
        assert _matched(got) == _matched(want)
        assert not got - want
    elif twin.rule == "closed_keys":
        g = {r[:2]: r[2:] for r in got}
        w = {r[:2]: r[2:] for r in want}
        assert {k: (v, w.get(k)) for k, v in g.items() if w.get(k) != v} == {}
        assert ({k for k, v in g.items() if v[-1] == "payed"}
                == {k for k, v in w.items() if v[-1] == "payed"})
    elif twin.rule == "decided_lefts":
        assert not got - want
        # a left's timer fires once the watermark passes it by a ms
        assert not {r for r in want if r[2] < wm_us - 2000} - set(got)
    else:
        raise AssertionError(f"unknown rule {twin.rule!r}")


def assert_twin(spark, name, replay, want=None):
    """Drain entry ``name`` over ``replay`` and assert its rule against
    its batch twin over the same files (``want``: the batch rows, when
    the caller already has them). Returns the drained rows."""
    twin = STREAMING_QUERIES[name]
    got, wm_us = _drain(spark, twin, replay)
    if want is None:
        want = twin.batch_frame(spark, replay).collect()
    _assert_rule(twin, got, want, wm_us)
    return got


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


def _write_replay(root, table, cuts, name="events") -> str:
    """``table`` (sorted) as files cut before the rows at ``cuts``, with
    increasing modification times so the stream reads them in order."""
    d = os.path.join(root, f"{name}.parquet")
    os.makedirs(d)
    bounds = [0, *cuts, table.num_rows]
    for i, (a, b) in enumerate(zip(bounds, bounds[1:])):
        path = os.path.join(d, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(a, b - a), path)
        os.utime(path, (1_700_000_000 + 10 * i,) * 2)
    return root


def _time_cuts(table, fracs):
    """The first row at or after each event-time fraction of the span."""
    ts = table["ts"].to_pylist()
    lo, hi = ts[0], ts[-1]
    return sorted({next(i for i, t in enumerate(ts) if t >= lo + f * (hi - lo))
                   for f in fracs} - {0})


@pytest.fixture(scope="module")
def edge_events(sf_dir):
    return _events_with_edges(sf_dir)


@pytest.fixture(scope="module")
def three_files(edge_events, sf_dir, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("three_files"))
    _write_replay(root, edge_events, _time_cuts(edge_events, [1 / 3, 2 / 3]))
    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    docs = docs.cast(docs.schema.remove_metadata()).sort_by("doc_id")
    n = docs.num_rows
    return _write_replay(root, docs, [n // 3, 2 * n // 3], "documents")


@pytest.mark.parametrize("name", [
    pytest.param(n, marks=pytest.mark.xfail(
        strict=True, raises=StreamingQueryException,
        reason="INVALID_TIMEOUT_TIMESTAMP: order_timeout sets a timeout "
               "below the watermark for a key whose deadline has passed "
               "(ROADMAP direction 1)"))
    if n == "order_timeout" else n
    for n in STREAMING_QUERIES])
def test_twin_equals_batch(spark, three_files, name):
    assert_twin(spark, name, three_files)


def test_every_stream_body_and_stateful_operator_has_an_entry():
    from flink_user_behavior_analysis_spark.streaming import jobs, stateful

    def functions(module, keep):
        return {f for n, f in vars(module).items()
                if inspect.isfunction(f) and f.__module__ == module.__name__
                and keep(n)}

    streams = functions(jobs, lambda n: n.endswith("_stream")
                         and n != "stream_events")
    operators = functions(stateful, lambda n: not n.startswith("_"))
    bodies = {getattr(t.body, "func", t.body)
              for t in STREAMING_QUERIES.values()}
    assert streams and operators
    assert not streams - bodies
    assert not operators - bodies
    for name, twin in STREAMING_QUERIES.items():
        assert callable(twin.batch) or twin.batch in Q.QUERIES, name
        # a stream-specific body says why it is not the batch body
        assert bool(twin.why) == (getattr(twin.body, "func", twin.body)
                                  in streams | operators), name
        assert (twin.rule == "composed") <= (twin.compose is not None), name


@pytest.fixture(scope="module")
def batch_twins(spark, edge_events, tmp_path_factory):
    """The batch twins read the union of the files, which is the same
    for every split, so they run once."""
    whole = _write_replay(str(tmp_path_factory.mktemp("whole")),
                          edge_events, [])
    return {n: STREAMING_QUERIES[n].batch_frame(spark, whole).collect()
            for n in PER_USER}


@settings(max_examples=3, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(fracs=st.lists(st.floats(min_value=0.0, max_value=1.0),
                      min_size=0, max_size=3))
@example(fracs=[0.25, 0.5, 0.75])
def test_stateful_twins_equal_batch_on_any_split(spark, edge_events,
                                                 batch_twins, tmp_path, fracs):
    cuts = _time_cuts(edge_events, fracs)
    replay = _write_replay(str(tmp_path / uuid.uuid4().hex), edge_events, cuts)
    got = {n: assert_twin(spark, n, replay, batch_twins[n]) for n in PER_USER}
    # the edge rows reached the outputs they were built for
    assert ("matched", EDGE_USER, BIG_ITEM, _us(T0), _us(T0 + H)) in \
        _bag(got["reconcile"], STREAMING_QUERIES["reconcile"].cols), cuts
    assert (EDGE_USER, None, "2024-01-12", "click over 3 times today") in \
        _bag(got["cap_filter"], STREAMING_QUERIES["cap_filter"].cols), cuts


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
    cols = STREAMING_QUERIES["reconcile"].cols

    def user_7(rows):
        return _bag([r for r in rows if r["user_id"] == 7], cols)

    want = user_7(Q.QUERIES["tx_match"](spark, replay).collect())
    assert want == Counter({("unmatched_pay", 7, None, _us(T0), None): 1,
                            ("unmatched_receipt", 7, None, None,
                             _us(T0 + H)): 1})
    assert user_7(assert_twin(spark, "reconcile", replay)) == want
