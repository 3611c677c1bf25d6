"""Seeded input generator for the benchmark.

``generate(out_dir, seed, sizes)`` writes every input the program
reads and nothing else:

- ``batch/``: the ten testdata tables ``register_views`` expects. The
  events table has the testdata schema (``event_id``, ``ts``,
  ``user_id`` in the customer key range, ``event_type`` over five
  types, ``value``, ``props`` ``{"k": n}``) and spans 30 days.
  ``documents`` and ``embeddings`` are a seeded corpus with near
  duplicates and clustered vectors, so the dedup operators have work.
  ``customer`` and ``nation`` are the dimensions the oracles join;
  the TPC-H tables no workload reads are a few rows each.
- ``replay/``: a second seeded month of events, as time-ordered files
  under ``events.parquet/`` (one micro-batch each under
  ``maxFilesPerTrigger=1``) with increasing modification times, plus
  ``customer`` and ``nation``.

The same seed writes byte-identical tables.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
MONTH_START = dt.datetime(2024, 1, 1)
MONTH_US = 30 * 86_400 * 1_000_000
N_ITEMS = 100
N_CUSTOMERS = 15_000
N_NATIONS = 25
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table value vector window shuffle"
).split()
LANGS = ("en", "zh", "de", "fr", "es")
LANG_P = (0.41, 0.15, 0.14, 0.15, 0.15)
EMBED_DIM = 64
EMBED_LABELS = 10


def events_table(rng: np.random.Generator, n_events: int,
                 n_users: int) -> pa.Table:
    """One month of events, ``event_id`` ascending with ``ts``."""
    ts_us = np.sort(rng.integers(0, MONTH_US, n_events))
    ts = pa.array(np.datetime64(MONTH_START, "us") + ts_us.astype("timedelta64[us]"),
                  pa.timestamp("us"))
    users = rng.integers(0, n_users, n_events)
    types = np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n_events)]
    value = np.round(rng.exponential(50.0, n_events), 2)
    k = rng.integers(0, N_ITEMS, n_events)
    return pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": ts,
        "user_id": pa.array(users, pa.int64()),
        "event_type": pa.array(types.tolist(), pa.string()),
        "value": pa.array(value, pa.float64()),
        "props": pa.array([f'{{"k": {int(x)}}}' for x in k], pa.string()),
    })


def _dimensions(rng: np.random.Generator) -> dict[str, pa.Table]:
    nation = pa.table({
        "n_nationkey": pa.array(range(N_NATIONS), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(N_NATIONS)],
        "n_regionkey": pa.array([i % 5 for i in range(N_NATIONS)], pa.int32()),
    })
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                         "MACHINERY"])
    customer = pa.table({
        "c_custkey": pa.array(np.arange(N_CUSTOMERS), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMERS)],
        "c_nationkey": pa.array(rng.integers(0, N_NATIONS, N_CUSTOMERS), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, N_CUSTOMERS), 2)),
        "c_mktsegment": segments[rng.integers(0, 5, N_CUSTOMERS)].tolist(),
    })
    return {"nation": nation, "customer": customer}


def _tpch_stubs() -> dict[str, pa.Table]:
    """A few rows of each TPC-H table no workload reads, so that
    ``register_views`` and the oracle views find every table."""
    day = dt.datetime(1997, 1, 15)
    return {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array([0, 1], pa.int64()),
            "s_name": ["Supplier#000000000", "Supplier#000000001"],
            "s_nationkey": pa.array([0, 1], pa.int32()),
            "s_acctbal": [100.0, 200.0],
        }),
        "part": pa.table({
            "p_partkey": pa.array([0, 1], pa.int64()),
            "p_name": ["cold widget", "small widget"],
            "p_brand": ["Brand#1", "Brand#2"],
            "p_type": ["ECONOMY", "STANDARD"],
            "p_size": pa.array([1, 2], pa.int32()),
            "p_retailprice": [900.0, 900.1],
        }),
        "orders": pa.table({
            "o_orderkey": pa.array([0, 1], pa.int64()),
            "o_custkey": pa.array([0, 1], pa.int64()),
            "o_orderstatus": ["F", "O"],
            "o_totalprice": [100.0, 200.0],
            "o_orderdate": pa.array([day, day], pa.timestamp("us")),
            "o_orderpriority": ["1-URGENT", "3-MEDIUM"],
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array([0, 1], pa.int64()),
            "l_partkey": pa.array([0, 1], pa.int64()),
            "l_suppkey": pa.array([0, 1], pa.int64()),
            "l_linenumber": pa.array([1, 1], pa.int32()),
            "l_quantity": [1.0, 2.0],
            "l_extendedprice": [100.0, 200.0],
            "l_discount": [0.01, 0.02],
            "l_tax": [0.01, 0.02],
            "l_returnflag": ["N", "R"],
            "l_linestatus": ["O", "F"],
            "l_shipdate": pa.array([day, day], pa.timestamp("us")),
        }),
    }


def documents_table(rng: np.random.Generator, n_docs: int) -> pa.Table:
    """Word-salad documents over a small vocabulary. A fifth of them
    copy an earlier original with a few words changed (near
    duplicates) and one in a hundred copies it verbatim. Copies are
    made of originals only, so duplicate clusters are stars rather
    than long chains."""
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n_docs):
        r = rng.random()
        if originals and r < 0.01:
            texts.append(texts[originals[int(rng.integers(0, len(originals)))]])
        elif originals and r < 0.21:
            words = texts[originals[int(rng.integers(0, len(originals)))]].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 12)):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words))
        else:
            n_words = int(rng.integers(8, 100))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), n_words)))
            originals.append(i)
    langs = np.array(LANGS)[rng.choice(len(LANGS), n_docs, p=LANG_P)]
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": langs.tolist(),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings_table(rng: np.random.Generator, n_vecs: int) -> pa.Table:
    """Unit-norm vectors scattered around ``EMBED_LABELS`` centres."""
    centres = rng.normal(size=(EMBED_LABELS, EMBED_DIM))
    labels = rng.integers(0, EMBED_LABELS, n_vecs)
    vecs = centres[labels] + rng.normal(scale=1.0, size=(n_vecs, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, (n_vecs + 1) * EMBED_DIM, EMBED_DIM), pa.int32())
    return pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels, pa.int32()),
    })


def generate(out_dir: str, seed: int, sizes: dict[str, int]) -> dict[str, str]:
    """Write the inputs for ``seed`` under ``out_dir``; return the
    ``batch`` and ``replay`` table directories."""
    # one independent stream per table, so that resizing one table
    # leaves the others unchanged
    dims_rng, events_rng, docs_rng, embs_rng, replay_rng = (
        np.random.default_rng(s) for s in np.random.SeedSequence(seed).spawn(5))
    batch = os.path.join(out_dir, "batch")
    replay = os.path.join(out_dir, "replay")
    os.makedirs(batch)
    os.makedirs(os.path.join(replay, "events.parquet"))
    dims = _dimensions(dims_rng)
    tables = {
        **_tpch_stubs(), **dims,
        "events": events_table(events_rng, sizes["events"], sizes["users"]),
        "documents": documents_table(docs_rng, sizes["documents"]),
        "embeddings": embeddings_table(embs_rng, sizes["embeddings"]),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(batch, f"{name}.parquet"))
    for name, table in dims.items():
        pq.write_table(table, os.path.join(replay, f"{name}.parquet"))
    # the replay's files are cut at equal event-time spans, so each
    # micro-batch advances the watermark by the same amount
    replay_events = events_table(replay_rng, sizes["replay_events"], sizes["replay_users"])
    ts_us = pc.cast(replay_events["ts"], pa.int64()).to_numpy()
    start_us = int(np.datetime64(MONTH_START, "us").astype(np.int64))
    n_files = sizes["replay_files"]
    cuts = np.searchsorted(ts_us, start_us + np.arange(n_files + 1) * (MONTH_US // n_files))
    cuts[-1] = replay_events.num_rows
    mtime = 1_700_000_000
    for i in range(n_files):
        path = os.path.join(replay, "events.parquet", f"part-{i:05d}.parquet")
        pq.write_table(replay_events.slice(cuts[i], cuts[i + 1] - cuts[i]), path)
        os.utime(path, (mtime + 10 * i, mtime + 10 * i))
    return {"batch": batch, "replay": replay}
