"""The Arrow-kernel runner (operators/arrow_kernel.py).

- ``list_matrix``, the one dense path for ``list<numeric>`` kernel
  inputs, equals the per-row conversion on uniform input and raises on
  a NULL row, a NULL element or ragged rows — including a ragged batch
  whose total length is a multiple of its row count, which a plain
  flatten + reshape silently turns into a different matrix.
- One ANN kernel against its JVM form (the pattern of two execution
  paths and one asserted result): brute_force_topk_arrow, which runs
  the shared local top-k block and the shared global rank, equals
  brute_force_topk row for row on generated integer embeddings, where
  tied cosines are common.
- winnow_fingerprints equals its DuckDB form on hypothesis-drawn
  documents: NULL, empty, one-token and non-ASCII text.
- Exact duplicate centroids: coarse routing and PQ encoding assign
  to the lowest index, as the SQL forms' ``row_number`` does, though a
  BLAS product scores the copies differently.
- ``mapInArrow(`` appears in the package only in the runner and in
  ``pca_fit``, whose partial Gram matrix accumulates over all batches of
  a partition, and ``mapInPandas(`` nowhere.
"""

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from flink_user_behavior_analysis_spark.operators.arrow_kernel import (
    list_matrix,
)
from flink_user_behavior_analysis_spark.operators.similarity import (
    _pq_codes,
    _route,
    brute_force_topk,
    brute_force_topk_arrow,
)

from .package_ast import calls

VALUE_TYPES = {
    "float64": (pa.float64(), st.floats(allow_nan=False, allow_infinity=False)),
    "float32": (pa.float32(), st.floats(allow_nan=False, allow_infinity=False,
                                        width=32)),
    "int32": (pa.int32(), st.integers(-2**31, 2**31 - 1)),
    "int64": (pa.int64(), st.integers(-2**53, 2**53)),
}


def _batch(rows, value_type):
    return pa.record_batch([pa.array(rows, type=pa.list_(value_type))],
                           names=["embedding"])


@settings(max_examples=200, deadline=None)
@given(data=st.data())
def test_list_matrix_equals_per_row_conversion(data):
    kind = data.draw(st.sampled_from(sorted(VALUE_TYPES)))
    value_type, values = VALUE_TYPES[kind]
    d = data.draw(st.integers(0, 6))
    rows = data.draw(st.lists(st.lists(values, min_size=d, max_size=d),
                              min_size=1, max_size=20))
    # a sliced batch: its list offsets do not start at 0
    start = data.draw(st.integers(0, len(rows) - 1))
    batch = _batch(rows, value_type).slice(start)
    want = np.array(batch.column(0).to_pylist())
    got = list_matrix(batch, 0,
                      dtype="float64" if kind.startswith("float") else "int64")
    assert got.shape == (len(rows) - start, d)
    np.testing.assert_array_equal(got, want.reshape(got.shape))


@settings(max_examples=100, deadline=None)
@given(rows=st.lists(st.lists(st.integers(-9, 9), min_size=0, max_size=5),
                     min_size=2, max_size=8)
       .filter(lambda rs: len({len(r) for r in rs}) > 1))
@example(rows=[[1, 2, 3], [4]])
def test_list_matrix_rejects_ragged_rows(rows):
    with pytest.raises(ValueError, match="'embedding'.*ragged"):
        list_matrix(_batch(rows, pa.float32()), 0)


@settings(max_examples=100, deadline=None)
@given(rows=st.lists(st.lists(st.floats(-1, 1), min_size=3, max_size=3),
                     min_size=1, max_size=8),
       data=st.data())
def test_list_matrix_rejects_null_rows_and_elements(rows, data):
    i = data.draw(st.integers(0, len(rows) - 1))
    null_row = rows[:i] + [None] + rows[i + 1:]
    with pytest.raises(ValueError, match="'embedding'.*NULL row"):
        list_matrix(_batch(null_row, pa.float64()), 0)
    null_elem = [list(r) for r in rows]
    null_elem[i][data.draw(st.integers(0, 2))] = None
    with pytest.raises(ValueError, match="'embedding'.*NULL element"):
        list_matrix(_batch(null_elem, pa.float64()), 0)


# integer components: mathematically equal cosines are common (permuted
# and scaled vectors) and exactly equal in the JVM form's arithmetic
_vectors = st.lists(st.integers(-3, 3), min_size=4, max_size=4).filter(any)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(base=st.lists(_vectors, min_size=3, max_size=12),
       copies=st.lists(st.tuples(st.integers(0, 11), st.integers(1, 4)),
                       max_size=10),
       n_queries=st.integers(1, 4), k=st.integers(1, 6))
# rows 3 and 4 are 3x and 1x row 0: both cosine 1 to query 0 in the JVM
# form, so the tie goes to id 3; a BLAS cosine of unit-normalized rows
# reads row 3 an ulp below row 4 and picks id 4
@example(base=[[0, 1, 1, 2], [0, 0, 0, 1], [0, 0, 0, 1]],
         copies=[(0, 3), (0, 1)], n_queries=1, k=1)
def test_brute_force_topk_arrow_equals_jvm_form(spark, base, copies,
                                                n_queries, k):
    # exact copies and integer multiples of some rows tie on cosine
    vecs = base + [[m * x for x in base[i % len(base)]] for i, m in copies]
    embs = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>").repartition(3)
    queries = embs.where(f"vec_id < {n_queries}")
    want = sorted(brute_force_topk(queries, embs, k).collect())
    got = sorted(brute_force_topk_arrow(queries, embs, k).collect())
    assert got == want


# tokens that case-fold or normalize differently across engines:
# accented and dotted capitals (inside a word too), the Kelvin sign, a
# sharp s, an emoji, punctuation-only and whitespace-only tokens
_WORDS = st.sampled_from(["a", "b", "c", "Ab", "x1", "\u00e9", "\u0130",
                          "x\u0130y", "na\u00efve", "\u212a", "\u00df",
                          "\U0001f600", "--", "\t"])
_DOC = st.one_of(st.none(), st.just(""),
                 st.lists(_WORDS, max_size=14).map(" ".join),
                 st.text(max_size=30))


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(texts=st.lists(_DOC, min_size=1, max_size=6))
@example(texts=[None, "", "one", "two words",
                "\u00dcn\u00efc\u00f6d\u00e9 w\u00f6rds, na\u00efve caf\u00e9 ok",
                "a b a b a b a b a b",
                # the JVM lowercases U+0130 to i + a combining dot
                "a b c d e f \u0130x g h i j"])
def test_winnow_fingerprints_equals_duckdb_form(spark, texts):
    """The winnowing kernel equals its DuckDB form (the registered
    query's oracle) on NULL, empty, one-token, repetitive and
    non-ASCII documents, and emits nothing for a NULL document."""
    import duckdb

    from flink_user_behavior_analysis_spark.operators.text import (
        winnow_fingerprints,
    )
    from flink_user_behavior_analysis_spark.queries_pipeline import (
        WINNOW_K,
        WINNOW_W,
        _winnow_sql,
    )

    docs = spark.createDataFrame(list(enumerate(texts)),
                                 "doc_id long, text string")
    got = sorted(map(tuple, winnow_fingerprints(
        docs, k=WINNOW_K, w=WINNOW_W).collect()))
    con = duckdb.connect()
    try:
        con.register("documents", pa.table({
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "text": pa.array(texts, pa.string())}))
        want = sorted(con.execute(_winnow_sql()).fetchall())
    finally:
        con.close()
    assert got == want
    null_docs = {i for i, t in enumerate(texts) if t is None}
    assert not null_docs & {doc_id for doc_id, _, _ in got}


def test_duplicate_centroids_assign_to_the_lowest_index():
    """Row 4 of 5 centroids is a copy of row 0, and the queries lie
    near it: rows 0 and 4 tie exactly, and the cell (and the PQ code)
    must be 0. For d = 128 and 7 queries, OpenBLAS scores the two
    copies differently for some queries, so a bare argmax picks 4."""
    rng = np.random.default_rng(0)
    for _ in range(20):
        c = rng.standard_normal((5, 128))
        c /= np.linalg.norm(c, axis=1, keepdims=True)
        c[4] = c[0]
        x = c[0] + 0.01 * rng.standard_normal((7, 128))
        cell, _ = _route(x, c)
        assert cell.tolist() == [0] * 7
        assert _pq_codes(x, [c], 128)[:, 0].tolist() == [0] * 7


def test_map_in_arrow_only_in_the_runner():
    assert calls("mapInArrow") == [
        ("operators/arrow_kernel.py", "map_arrow"),
        ("operators/similarity.py", "pca_fit"),
    ]
    assert calls("mapInPandas") == []
