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
- winnow_fingerprints, simhash_signatures, doc_fingerprints and
  duplicated_spans (the ``_span_instances`` kernel) equal their DuckDB
  forms on hypothesis-drawn documents: NULL, empty, one-token and
  non-ASCII text. So do text_stats and gopher_rules, which lowercase
  with the JVM: U+0130 (dotted capital I) is where the two engines'
  case mappings part.
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
from flink_user_behavior_analysis_spark.operators.chunking import (
    duplicated_spans,
)
from flink_user_behavior_analysis_spark.operators.dedup import (
    simhash_pairs,
    simhash_signatures,
)
from flink_user_behavior_analysis_spark.operators.similarity import (
    _pq_codes,
    _route,
    brute_force_topk,
    brute_force_topk_arrow,
)
from flink_user_behavior_analysis_spark.operators.text import (
    doc_fingerprints,
    gopher_rules,
    text_stats,
    winnow_fingerprints,
)
from flink_user_behavior_analysis_spark.queries_pipeline import (
    SIMHASH_MAX_HAMMING,
    SPAN_TOKENS,
    TEXT_STATS_SQL,
    WINNOW_K,
    WINNOW_W,
    _duplicated_spans_sql,
    _fingerprint_sql,
    _gopher_sql,
    _simhash_ctes,
    _simhash_sql,
    _winnow_sql,
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


def _duckdb_rows(texts, sql):
    """(columns, rows) of ``sql`` over a ``documents`` view of ``texts``
    (doc_id = position)."""
    import duckdb

    con = duckdb.connect()
    try:
        con.register("documents", pa.table({
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "text": pa.array(texts, pa.string())}))
        cur = con.execute(sql)
        return [d[0] for d in cur.description], cur.fetchall()
    finally:
        con.close()


def _docs(spark, texts):
    return spark.createDataFrame(list(enumerate(texts)),
                                 "doc_id long, text string")


def _assert_equals_duckdb(df, texts, sql):
    """Same column set and the same rows, compared by column name."""
    cols, rows = _duckdb_rows(texts, sql)
    assert sorted(df.columns) == sorted(cols)
    key = sorted(cols)
    want = sorted((tuple(dict(zip(cols, r))[c] for c in key) for r in rows),
                  key=repr)
    got = sorted((tuple(r[c] for c in key) for r in df.collect()), key=repr)
    assert got == want


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
    got = winnow_fingerprints(_docs(spark, texts), k=WINNOW_K, w=WINNOW_W)
    _assert_equals_duckdb(got, texts, _winnow_sql())
    null_docs = {i for i, t in enumerate(texts) if t is None}
    assert not null_docs & {r.doc_id for r in got.collect()}


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(texts=st.lists(_DOC, min_size=1, max_size=6))
@example(texts=[None, "", "one", "\u0130x", "W\u0130TH the x\u0130y",
                "\u212a \u00df \U0001f600 -- caf\u00e9"])
@example(texts=[None, None, "a b c", "x y z w"])
def test_simhash_and_fingerprints_equal_duckdb_form(spark, texts):
    """simhash_signatures and doc_fingerprints (Arrow kernels) equal
    their DuckDB forms; a NULL document has SimHash 0 (the runner's
    edge policy) and no row on the DuckDB side, whose word explode
    drops it. simhash_pairs equals the registered query's DuckDB form,
    so a NULL document pairs with nothing."""
    docs = _docs(spark, texts)
    _assert_equals_duckdb(simhash_pairs(docs, SIMHASH_MAX_HAMMING), texts,
                          _simhash_sql())
    _assert_equals_duckdb(doc_fingerprints(docs), texts, _fingerprint_sql())
    sims = {r.doc_id: r.simhash for r in simhash_signatures(docs).collect()}
    _, rows = _duckdb_rows(
        texts, f"WITH {_simhash_ctes()} SELECT doc_id, simhash FROM sims")
    assert {i: h for i, h in sims.items() if texts[i] is not None} == \
        dict(rows)
    assert all(sims[i] == 0 for i, t in enumerate(texts) if t is None)


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(texts=st.lists(_DOC, min_size=1, max_size=6))
@example(texts=[None, "", "one", "\u0130x \u0130X", "W\u0130TH the",
                "with the be to of and that have", "x\u0130y \U0001f600"])
def test_text_stats_and_gopher_equal_duckdb_form(spark, texts):
    """text_stats and gopher_rules lowercase as their DuckDB forms do:
    "\u0130x" is one regex token and "W\u0130TH" is the stop word
    "with"."""
    docs = _docs(spark, texts)
    _assert_equals_duckdb(text_stats(docs), texts, TEXT_STATS_SQL)
    _assert_equals_duckdb(gopher_rules(docs, min_stop_hits=1), texts,
                          _gopher_sql())


_SPAN_WORDS = st.sampled_from(["a", "b", "\u0130x", "x\u0130y", "\u00e9",
                               "--", "c1"])


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(texts=st.lists(
    st.one_of(st.none(), st.just(""),
              st.lists(_SPAN_WORDS, min_size=10, max_size=40).map(" ".join)),
    min_size=1, max_size=5))
@example(texts=[None, "", "one", " ".join(["a", "b"] * 12),
                " ".join(["\u0130x"] * 20), " ".join(["ix"] * 20)])
def test_duplicated_spans_equal_duckdb_form(spark, texts):
    """duplicated_spans, whose span fingerprints come from the
    ``_span_instances`` kernel, equals its DuckDB form on NULL, empty,
    short, repetitive and non-ASCII documents."""
    _assert_equals_duckdb(duplicated_spans(_docs(spark, texts), SPAN_TOKENS),
                          texts, _duplicated_spans_sql())


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
