"""Property-based boundary tests (SURVEY section 5.4): the semantics
the reference pins at exact boundaries, fuzzed with hypothesis.

- window assignment: a row with ts exactly on a window edge belongs to
  the window STARTING there (Flink timeWindow and Spark window() both
  use [start, end) — the reference stamps window.getEnd()).
- order timeout: pay == create + timeout is a timeout, strictly
  (OrderTimeoutWithoutCEP.java:115 uses `<`).
- consecutive fails: span == within-limit still warns (<=), one
  success anywhere resets the run.
- sessionize: gap == threshold stays in-session (> splits).

Each property drives the REAL operators on a small generated frame
and checks against a python reimplementation of the pinned rule.
"""

from datetime import datetime, timezone

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from flink_user_behavior_analysis_spark.operators import (
    consecutive_events,
    match_create_pay,
    sessionize,
    windowed_count,
)

US = 1_000_000
HOUR = 3600


def round_half_up(x: float, digits: int) -> float:
    """Decimal HALF-UP on the shortest float repr — matches Spark's
    round() (BigDecimal.valueOf -> HALF_UP) and DuckDB's round();
    python's built-in round() is half-EVEN and diverges at exact .5
    boundaries (hypothesis caught this in the BM25 reference)."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(
        Decimal(1).scaleb(-digits), rounding=ROUND_HALF_UP))


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def _ts(sec):
    return datetime.fromtimestamp(sec, tz=timezone.utc).replace(tzinfo=None)


ts_secs = st.integers(min_value=0, max_value=3 * HOUR)


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(secs=st.lists(ts_secs, min_size=1, max_size=20))
def test_window_edge_assignment(spark, secs):
    rows = [(i, _ts(s)) for i, s in enumerate(secs)]
    df = _df(spark, rows, "id long, ts timestamp")
    got = {
        (r.window_end_us, r.cnt)
        for r in windowed_count(df, "ts", [], "1 hour").collect()
    }
    want = {}
    for s in secs:
        end = ((s // HOUR) * HOUR + HOUR) * US
        want[end] = want.get(end, 0) + 1
    assert got == set(want.items())


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    create_s=st.integers(min_value=0, max_value=100),
    delta_s=st.integers(min_value=0, max_value=40),
    timeout_s=st.integers(min_value=1, max_value=40),
)
def test_order_timeout_strict_boundary(spark, create_s, delta_s, timeout_s):
    rows = [
        (1, "create", _ts(create_s)),
        (1, "pay", _ts(create_s + delta_s)),
    ]
    df = _df(spark, rows, "order_id long, event_type string, ts timestamp")
    out = match_create_pay(
        df, ["order_id"], "event_type", "ts", "create", "pay", timeout_s
    ).collect()
    assert len(out) == 1
    want = "payed" if delta_s < timeout_s else "timeout_payed_late"
    assert out[0].result_state == want, (delta_s, timeout_s)


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    pattern=st.lists(st.booleans(), min_size=2, max_size=12),
    gap_s=st.integers(min_value=1, max_value=5),
)
def test_consecutive_runs_and_reset(spark, pattern, gap_s):
    """events every gap_s seconds; True=fail. n=2 within exactly
    gap_s seconds -> every adjacent fail pair warns (span == limit
    passes the <= check); any success in between resets."""
    rows = [
        (1, i, "error" if fail else "ok", _ts(i * gap_s))
        for i, fail in enumerate(pattern)
    ]
    df = _df(spark, rows, "user_id long, event_id long, kind string, ts timestamp")
    got = sorted(
        (r.first_fail_us, r.last_fail_us)
        for r in consecutive_events(
            df, ["user_id"], "ts", F.col("kind") == "error",
            n=2, within_seconds=gap_s, order_tiebreak=["event_id"],
        ).collect()
    )
    want = sorted(
        (i * gap_s * US, (i + 1) * gap_s * US)
        for i in range(len(pattern) - 1)
        if pattern[i] and pattern[i + 1]
    )
    assert got == want


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(gaps=st.lists(st.integers(min_value=1, max_value=120), min_size=1,
                     max_size=15))
def test_sessionize_gap_boundary(spark, gaps):
    """gap == threshold stays in the same session; > splits."""
    threshold = 60
    ts, cur = [], 0
    for g in gaps:
        cur += g
        ts.append(cur)
    rows = [(1, i, _ts(s)) for i, s in enumerate(ts)]
    df = _df(spark, rows, "user_id long, event_id long, ts timestamp")
    got = sorted(
        (r.session_start_us, r.session_end_us, r.n_events)
        for r in sessionize(df, ["user_id"], "ts", threshold,
                            order_tiebreak=["event_id"]).collect()
    )
    sessions, start, prev, n = [], ts[0], ts[0], 1
    for s in ts[1:]:
        if s - prev > threshold:
            sessions.append((start * US, prev * US, n))
            start, n = s, 1
        else:
            n += 1
        prev = s
    sessions.append((start * US, prev * US, n))
    assert got == sorted(sessions)


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    lefts=st.lists(st.tuples(ts_secs, st.integers(0, 9)),
                   min_size=1, max_size=12),
    rights=st.lists(st.tuples(ts_secs, st.integers(10, 19)),
                    min_size=0, max_size=12),
    tol_s=st.integers(min_value=0, max_value=2 * HOUR),
)
def test_asof_join_matches_python_reference(spark, lefts, rights, tol_s):
    """asof_join == 'latest right at-or-before left within tolerance,
    same-ts rights resolved by max tiebreak' computed directly."""
    from flink_user_behavior_analysis_spark.operators import asof_join

    left = _df(spark, [(1, _ts(s), e) for s, e in lefts],
               "k long, ts timestamp, event_id long")
    right = _df(spark, [(1, _ts(s), e) for s, e in rights],
                "k long, ts timestamp, event_id long")
    out = asof_join(left, right, ["k"], "ts", "ts",
                    right_cols=["event_id"], tolerance_seconds=tol_s,
                    order_tiebreak=["event_id"])
    got = sorted((r["ts"], r["event_id"], r["ts_asof"], r["event_id_asof"])
                 for r in out.collect())
    want = []
    for ls, le in lefts:
        cands = [(rs, re) for rs, re in rights if rs <= ls]
        if cands:
            mts = max(rs for rs, _ in cands)
            mid = max(re for rs, re in cands if rs == mts)
            if ls - mts <= tol_s:
                want.append((_ts(ls), le, mts * US, mid))
                continue
        want.append((_ts(ls), le, None, None))
    assert got == sorted(want)


def test_followed_by_relaxed_contains_strict(spark, sf_dir):
    """Every strict-contiguity (next) two-fail match is also a relaxed
    (followedBy) match: with no event between them, the earliest
    following fail IS the immediately-next one."""
    from flink_user_behavior_analysis_spark import queries as Q

    strict = {
        (r.user_id, r.first_fail_us, r.last_fail_us)
        for r in Q.QUERIES["login_fail"](spark, sf_dir).collect()
    }
    relaxed = {
        (r.user_id, r.first_fail_us, r.next_fail_us)
        for r in Q.QUERIES["login_fail_fb"](spark, sf_dir).collect()
    }
    assert strict, "smoke data should contain strict two-fail runs"
    assert strict <= relaxed


words = st.text(alphabet="abc", min_size=1, max_size=3)
doc_texts = st.lists(
    st.lists(words, min_size=0, max_size=40).map(" ".join),
    min_size=1, max_size=12,
)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(texts=doc_texts)
def test_pack_sequences_property(spark, texts):
    """On arbitrary corpora (including empty docs and docs shorter
    than one chunk): packing conserves every token in bucket order,
    every sequence except at most one tail per bucket is exactly L
    tokens, and seq_text matches a python concat-and-cut
    reimplementation."""
    from flink_user_behavior_analysis_spark.operators.chunking import (
        chunk_documents,
        pack_sequences,
    )
    from flink_user_behavior_analysis_spark.operators.dedup import md5_long

    C, L, B = 5, 8, 3
    docs = _df(spark, list(enumerate(texts)), "doc_id long, text string")
    packed = pack_sequences(chunk_documents(docs, C), L, B).collect()

    # python twin: same portable bucket hash, same normalization
    bh = {
        r.doc_id: r.b
        for r in docs.select(
            "doc_id",
            (md5_long(
                F.concat(F.lit("pack:"), F.col("doc_id").cast("string"))
            ) % B).alias("b"),
        ).collect()
    }
    import re

    streams = {}
    for doc_id, text in enumerate(texts):
        norm = re.sub(" +", " ", re.sub("[^a-z0-9 ]", " ", text.lower())).strip()
        streams.setdefault(bh[doc_id], []).extend(norm.split(" "))
    want = {}
    for b, toks in streams.items():
        for s in range(0, (len(toks) + L - 1) // L):
            want[(b, s)] = toks[s * L:(s + 1) * L]
    got = {(r.bucket, r.seq_id): r.seq_text.split(" ") for r in packed}
    assert got == want
    for r in packed:
        assert r.n_seq_tokens == len(want[(r.bucket, r.seq_id)])


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(edges=st.lists(
    st.tuples(st.integers(min_value=0, max_value=40),
              st.integers(min_value=0, max_value=40)),
    min_size=0, max_size=60))
def test_star_cc_equals_python_union_find(spark, edges):
    """connected_components_star on arbitrary small graphs (self loops,
    duplicates, multi-component) must match a python union-find with
    min-id canonical roots — and min-label propagation must agree
    wherever its round budget suffices."""
    from flink_user_behavior_analysis_spark.operators import (
        connected_components_star,
    )

    node_ids = sorted({n for e in edges for n in e} | {99})
    parent = {n: n for n in node_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in node_ids}

    nodes = _df(spark, [(n,) for n in node_ids], "id long")
    e_df = _df(spark, edges or [(0, 0)], "id_a long, id_b long")
    got = {r["id"]: r["component"]
           for r in connected_components_star(nodes, e_df).collect()}
    assert got == want


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(toks=st.lists(st.sampled_from(["a", "b", "c"]),
                     min_size=0, max_size=24))
def test_winnowing_matches_python_reference(spark, toks):
    """The run-length winnowing reformulation equals a direct python
    implementation of the per-window rightmost-argmin rule — fuzzed
    over a 3-letter alphabet so repeated k-grams force hash TIES,
    the branch the tie-break logic exists for. Covers n < k (no
    grams), n < w (single short window), and heavy duplication."""
    import hashlib

    from flink_user_behavior_analysis_spark.operators.text import (
        winnow_fingerprints,
    )

    k, w = 2, 3
    text = " ".join(toks)

    def md5_long(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    norm = " ".join(text.lower().split())
    ts = norm.split(" ") if norm else [""]
    hs = [md5_long(" ".join(ts[i:i + k]))
          for i in range(len(ts) - k + 1)] if len(ts) >= k else []
    want = set()
    if hs:
        n = len(hs)
        for s_ in range(0, max(n - w, 0) + 1):
            win = hs[s_:s_ + min(w, n - s_)]
            m = min(win)
            pos = s_ + max(j for j, h in enumerate(win) if h == m)
            want.add((pos, m))

    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = {(r.pos, r.fp) for r in winnow_fingerprints(df, k=k, w=w).collect()}
    assert got == want


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(docs=st.lists(
    st.lists(st.sampled_from(["x", "y", "z"]), min_size=0, max_size=8),
    min_size=1, max_size=6))
def test_lm_score_matches_python_reference(spark, docs):
    """lm_score equals a direct python bigram-LM implementation on
    arbitrary tiny corpora — empty docs, single-token docs, all-same
    corpora, cross-doc count interactions."""
    import math

    from flink_user_behavior_analysis_spark.operators.text import lm_score

    texts = [" ".join(d) for d in docs]
    toks = [(" ".join(t.lower().split())).split(" ") for t in texts]
    uni: dict = {}
    big: dict = {}
    for ts in toks:
        for w_ in ts:
            uni[w_] = uni.get(w_, 0) + 1
        for a, b in zip(ts, ts[1:]):
            big[(a, b)] = big.get((a, b), 0) + 1
    v = len(uni)
    want = {}
    for i, ts in enumerate(toks):
        fs = [int(round_half_up(
                  math.log((big[(a, b)] + 1) / (uni[a] + v)) * 1_000_000, 0))
              for a, b in zip(ts, ts[1:])]
        if fs:
            want[i] = (len(fs),
                       round_half_up(sum(fs) / 1_000_000 / len(fs), 4))

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = {r.doc_id: (r.n_bigrams, r.avg_logp)
           for r in lm_score(df).collect()}
    assert got == want


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(docs=st.lists(
    st.lists(st.sampled_from(["p", "q", "r", "s"]), min_size=1, max_size=8),
    min_size=1, max_size=6),
    qterms=st.lists(st.sampled_from(["p", "q", "r", "s"]),
                    min_size=1, max_size=3))
def test_bm25_matches_python_reference(spark, docs, qterms):
    """bm25_topk equals a direct python BM25 (Lucene idf, k1=1.2,
    b=0.75, fixed-point fold) on arbitrary tiny corpora. Rounding in
    the reference is decimal HALF-UP on the shortest float repr —
    python's built-in round() is half-EVEN, which hypothesis caught
    diverging from Spark/DuckDB round() at an exact .5 boundary."""
    import math

    from flink_user_behavior_analysis_spark.operators.text import bm25_topk

    texts = [" ".join(d) for d in docs]
    toks = [t.split(" ") for t in texts]
    n_docs = len(toks)
    tf: dict = {}
    dl: dict = {}
    for i, ts in enumerate(toks):
        dl[i] = len(ts)
        for w_ in ts:
            tf[(i, w_)] = tf.get((i, w_), 0) + 1
    df_: dict = {}
    for (i, w_), _ in tf.items():
        df_[w_] = df_.get(w_, 0) + 1
    avgdl = sum(dl.values()) / n_docs
    k1, b = 1.2, 0.75
    scores: dict = {}
    hits: dict = {}
    for w_ in set(qterms):
        for i in range(n_docs):
            t = tf.get((i, w_))
            if not t:
                continue
            idf = math.log((n_docs - df_[w_] + 0.5) / (df_[w_] + 0.5) + 1.0)
            s_ = idf * t * (k1 + 1.0) / (
                t + k1 * (1.0 - b + b * dl[i] / avgdl))
            f = int(round_half_up(s_ * 1_000_000, 0))
            scores[i] = scores.get(i, 0) + f
            hits[i] = hits.get(i, 0) + 1
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
    want = {(i, round_half_up(s_ / 1_000_000, 4), hits[i], rnk + 1)
            for rnk, (i, s_) in enumerate(ranked)}

    ddf = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    qdf = spark.createDataFrame([(1, " ".join(qterms))],
                                "query_id long, query_text string")
    got = {(r.doc_id, r.bm25, r.n_terms_hit, r.rnk)
           for r in bm25_topk(ddf, qdf, k=3).collect()}
    assert got == want


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(docs=st.lists(
    st.lists(st.sampled_from(["m", "n", "o"]), min_size=0, max_size=12),
    min_size=1, max_size=6))
def test_chunk_containment_matches_python_reference(spark, docs):
    """chunk_containment equals a direct python implementation over
    tiny corpora — empty docs, sub-chunk docs, and heavy cross-doc
    chunk sharing from the 3-letter alphabet."""
    from flink_user_behavior_analysis_spark.operators.chunking import (
        chunk_containment,
    )

    C = 4
    texts = [" ".join(d) for d in docs]
    chunks: dict = {}
    for i, t in enumerate(texts):
        ts = (" ".join(t.lower().split())).split(" ")
        cs = [" ".join(ts[j:j + C]) for j in range(0, len(ts), C)]
        chunks[i] = set(cs)
    ndocs: dict = {}
    for i, cs in chunks.items():
        for c in cs:
            ndocs[c] = ndocs.get(c, 0) + 1
    want = {}
    for i, cs in chunks.items():
        shared = sum(1 for c in cs if ndocs[c] >= 2)
        want[i] = (len(cs), shared, round(shared / len(cs), 4))

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = {r.doc_id: (r.n_chunks, r.n_shared, r.containment)
           for r in chunk_containment(df, C).collect()}
    assert got == want


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(docs=st.lists(
    st.lists(st.sampled_from(["p", "q", "r"]), min_size=0, max_size=14),
    min_size=1, max_size=6))
def test_duplicated_spans_matches_python_reference(spark, docs):
    """duplicated_spans equals a direct python implementation over
    tiny corpora — the 3-letter alphabet forces heavy within- and
    cross-doc span repetition, exercising the interval-union coverage
    (overlapping and adjacent duplicated spans must not double-count
    tokens) and the sub-span-length edge (coverage 0)."""
    from flink_user_behavior_analysis_spark.operators.chunking import (
        duplicated_spans,
    )

    K = 3
    texts = [" ".join(d) for d in docs]
    toks = {i: (" ".join(t.lower().split())).split(" ")
            for i, t in enumerate(texts)}
    occ: dict = {}
    for ts in toks.values():
        for j in range(len(ts) - K + 1):
            s = " ".join(ts[j:j + K])
            occ[s] = occ.get(s, 0) + 1
    want = {}
    for i, ts in toks.items():
        n = len(ts)
        dup_pos = [j for j in range(n - K + 1)
                   if occ[" ".join(ts[j:j + K])] >= 2]
        covered: set = set()
        for j in dup_pos:
            covered.update(range(j, j + K))
        want[i] = (n, max(n - K + 1, 0), len(dup_pos), len(covered),
                   round(len(covered) / n, 4))

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = {r.doc_id: (r.n_tokens, r.n_spans, r.n_dup_spans,
                      r.covered_tokens, r.dup_coverage)
           for r in duplicated_spans(df, K).collect()}
    assert got == want


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(docs=st.lists(
    st.lists(st.sampled_from(["p", "q", "r"]), min_size=0, max_size=14),
    min_size=1, max_size=6))
def test_remove_duplicated_spans_python_reference_and_conservation(
        spark, docs):
    """remove_duplicated_spans equals a direct python cut over tiny
    high-repetition corpora, and conserves tokens: clean_text holds
    EXACTLY the uncovered tokens in original order, so
    n_tokens_clean == n_tokens - covered_tokens and splitting
    clean_text reproduces the kept token stream."""
    from flink_user_behavior_analysis_spark.operators.chunking import (
        remove_duplicated_spans,
    )

    K = 3
    texts = [" ".join(d) for d in docs]
    toks = {i: (" ".join(t.lower().split())).split(" ")
            for i, t in enumerate(texts)}
    occ: dict = {}
    for ts in toks.values():
        for j in range(len(ts) - K + 1):
            s = " ".join(ts[j:j + K])
            occ[s] = occ.get(s, 0) + 1
    want = {}
    for i, ts in toks.items():
        n = len(ts)
        covered: set = set()
        for j in range(n - K + 1):
            if occ[" ".join(ts[j:j + K])] >= 2:
                covered.update(range(j, j + K))
        kept = [t for j, t in enumerate(ts) if j not in covered]
        want[i] = (n, len(covered), len(kept), " ".join(kept))

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    rows = remove_duplicated_spans(df, K).collect()
    got = {r.doc_id: (r.n_tokens, r.covered_tokens, r.n_tokens_clean,
                      r.clean_text)
           for r in rows}
    assert got == want
    for r in rows:
        assert r.n_tokens_clean == r.n_tokens - r.covered_tokens
        if r.clean_text:
            # '' is ambiguous under the repo tokenization (an empty
            # doc IS one empty token), so round-trip only visible text
            assert len(r.clean_text.split(" ")) == r.n_tokens_clean


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(pairs=st.lists(
    st.tuples(st.integers(min_value=0, max_value=5),      # user
              st.integers(min_value=0, max_value=12)),    # day
    min_size=1, max_size=40))
def test_dau_stickiness_matches_python_reference(spark, pairs):
    """Trailing-7-day WAU via contribution-explode equals the direct
    set computation day by day (including duplicate activity rows,
    window edges, and gap days with no activity)."""
    from flink_user_behavior_analysis_spark.operators.funnel import (
        dau_stickiness_from_user_days,
        user_day_activity,
    )

    rows = [(u, d * 86400) for u, d in pairs]
    df = spark.createDataFrame(
        [(u, sec) for u, sec in rows], "user_id long, sec long"
    ).select("user_id", F.timestamp_seconds("sec").alias("ts"))

    ud = {(u, d) for u, d in pairs}
    days = sorted({d for _, d in ud})
    want = {}
    for d in days:
        dau = {u for u, dd in ud if dd == d}
        wau = {u for u, dd in ud if d - 6 <= dd <= d}
        want[d] = (len(dau), len(wau), round(len(dau) / len(wau), 4))

    got = {r.day: (r.dau, r.wau, r.stickiness)
           for r in dau_stickiness_from_user_days(
               user_day_activity(df)).collect()}
    assert got == want


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(vals=st.lists(st.integers(min_value=1, max_value=500),
                     min_size=1, max_size=30))
def test_revenue_deciles_ntile_matches_python_reference(spark, vals):
    """ntile(10) bucket boundaries equal the SQL-standard formula
    (first n_rows % 10 buckets get the extra row) under the total
    order (revenue desc, user asc) — ties and tiny user counts
    included."""
    rows = [(u, float(v), "purchase") for u, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows, "user_id long, value double, event_type string")

    # same per-user agg + ntile expression as queries.revenue_deciles
    from pyspark.sql import Window

    cents = F.round(F.col("value") * 100).cast("long")
    per_user = df.groupBy("user_id").agg(F.sum(cents).alias("_rc"))
    w = Window.orderBy(F.col("_rc").desc(), F.col("user_id").asc())
    got = {(r.decile, r.n_users)
           for r in per_user
           .withColumn("decile", F.ntile(10).over(w).cast("long"))
           .groupBy("decile")
           .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
           .collect()}

    n = len(vals)
    base, extra = divmod(n, 10)
    want = set()
    for b in range(1, 11):
        size = base + (1 if b <= extra else 0)
        if size > 0:
            want.add((b, size))
    assert got == want


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    vecs=st.lists(
        st.lists(st.integers(-3, 3), min_size=4, max_size=4),
        min_size=1, max_size=14),
    cents=st.lists(
        st.lists(st.integers(-2, 2), min_size=4, max_size=4),
        min_size=1, max_size=3),
    eps_pct=st.integers(min_value=-50, max_value=100),
)
def test_semantic_dedup_matches_python_reference(spark, vecs, cents,
                                                 eps_pct):
    """SemDeDup on arbitrary small integer vectors (including zero
    vectors, duplicate vectors, and degenerate centroids) equals the
    rule computed directly in Python: argmax-cosine assignment at
    6dp (ties to the lowest cell), keep-priority (cent_sim asc, id
    asc), dropped iff any higher-priority cluster-mate has 4dp
    cosine >= eps."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from flink_user_behavior_analysis_spark.operators.similarity import (
        semantic_dedup,
    )

    eps = eps_pct / 100.0

    def r(x, dp):
        return float(Decimal(repr(x)).quantize(
            Decimal(1).scaleb(-dp), rounding=ROUND_HALF_UP))

    def cos(u, v, dp):
        nu = math.sqrt(sum(x * x for x in u))
        nv = math.sqrt(sum(x * x for x in v))
        return r(0.0 if nu == 0 or nv == 0 else
                 sum(a * b for a, b in zip(u, v)) / (nu * nv), dp)

    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows,
                               "vec_id LONG, embedding ARRAY<DOUBLE>")
    cents_f = [[float(x) for x in c] for c in cents]
    got = {row.vec_id: (row.cell, row.cent_sim, row.status)
           for row in semantic_dedup(df, cents_f, eps).collect()}

    assign = {}
    for i, v in rows:
        best, bc = None, None
        for ci, c in enumerate(cents_f):
            cs = cos(v, c, 6)
            if best is None or cs > best:
                best, bc = cs, ci
        assign[i] = (bc, best)
    expected = {}
    for i, v in rows:
        cell, cs = assign[i]
        dropped = any(
            assign[j][0] == cell and (assign[j][1], j) < (cs, i)
            and cos(v, dict(rows)[j], 4) >= eps
            for j, _ in rows if j != i
        )
        expected[i] = (cell, cs, "dropped" if dropped else "kept")
    assert got == expected


# fragments that exercise every boundary of the PII patterns: full
# matches, near-misses (bad phone grouping, 3-part dotted version
# numbers), and plain words the scrub must pass through untouched
_pii_frag = st.sampled_from([
    "hello", "a.b@x.co", "u_1%z@mail-srv.example.org", "not@an",
    "12-345-678-9012", "123-456-789-0123", "1-23-456-7890",
    "10.0.0.1", "256.1.2.3", "1.2.3", "ver 1.2.3.4beta", "x@y.z",
    "...", "@", "dot.", "9.9.9.9", "99-999-999-9999",
])


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(frags=st.lists(_pii_frag, min_size=0, max_size=12))
def test_pii_scrub_matches_python_re(spark, frags):
    """pii_scrub on arbitrary fragment soup equals Python's re module
    applying the same patterns in the same class order — Java regex
    and python re agree on this construct subset (character classes,
    bounded repetition, \\b), so a divergence means the Spark-side
    chaining or counting broke."""
    import re

    from flink_user_behavior_analysis_spark.operators.text import (
        PII_PATTERNS,
        pii_scrub,
    )

    text = " ".join(frags)
    df = spark.createDataFrame([(0, text)], "doc_id LONG, text STRING")
    row = pii_scrub(df).collect()[0]

    expected_counts = {name: len(re.findall(pat, text))
                       for name, pat in PII_PATTERNS.items()}
    scrubbed = text
    for name, pat in PII_PATTERNS.items():
        scrubbed = re.sub(pat, f"<{name.upper()}>", scrubbed)
    got_counts = {name: row[f"n_{name}"] for name in PII_PATTERNS}
    assert got_counts == expected_counts, text
    assert row.scrubbed == scrubbed, text


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    vecs=st.lists(
        st.lists(st.integers(min_value=-3, max_value=3),
                 min_size=3, max_size=3),
        min_size=2, max_size=14),
    split=st.integers(min_value=0, max_value=100),
)
def test_semdedup_corpus_probe_is_split_invariant(spark, vecs, split):
    """The micro-batch probe's load-bearing claim
    (streaming/jobs.run_probe_foreach_batch): with vs_delta=False the
    probe verdict is per-row against the frozen corpus, so probing
    any 2-way split of a batch and unioning the results must equal
    probing the whole batch at once — for arbitrary vectors,
    including zero vectors and exact duplicates."""
    from flink_user_behavior_analysis_spark.operators.similarity import (
        semdedup_probe,
        semdedup_store_corpus,
    )

    cents = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]]
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    half = (split * len(rows)) // 101
    corpus_rows, batch_rows = rows[: max(1, len(rows) // 2)], rows
    corpus = spark.createDataFrame(
        corpus_rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    prefix = "t_prop_probe"
    for t in spark.catalog.listTables():
        if t.name.startswith(prefix):
            spark.sql(f"DROP TABLE {t.name}")
    semdedup_store_corpus(corpus, cents, prefix)

    def probe(rs):
        if not rs:
            return []
        df = spark.createDataFrame(
            rs, "vec_id LONG, embedding ARRAY<DOUBLE>")
        return semdedup_probe(spark, prefix, df, cents, 0.8,
                              vs_delta=False).collect()

    whole = sorted(map(tuple, probe(batch_rows)))
    parts = sorted(map(tuple, probe(batch_rows[:half])
                       + probe(batch_rows[half:])))
    assert whole == parts
    for t in spark.catalog.listTables():
        if t.name.startswith(prefix):
            spark.sql(f"DROP TABLE {t.name}")


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    vecs=st.lists(
        st.lists(st.integers(-3, 3), min_size=4, max_size=4),
        min_size=2, max_size=14),
    cents=st.lists(
        st.lists(st.integers(-2, 2), min_size=4, max_size=4),
        min_size=1, max_size=2),
    eps_pct=st.integers(min_value=-50, max_value=100),
    grain=st.integers(min_value=2, max_value=5),
)
def test_semantic_dedup_gemm_blocked_matches_python_reference(
        spark, vecs, cents, eps_pct, grain):
    """r14 decomposition property: the block-pair GEMM kernel under a
    RANDOM tiny grain (2-5 rows per priority block, so hypothesis
    randomizes which drop pairs land cross-block vs diagonal) must
    equal the same pure-Python rule as the SQL kernel — zero vectors,
    duplicate vectors, degenerate one-centroid models included. The
    rounding space is disagreement-free by enumeration (all 3,221
    distinct cosines of [-3,3]^4 integer vectors round identically
    under scale-floor HALF_UP and Decimal-repr HALF_UP), so any
    failure here is a decomposition bug, not a rounding ulp."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from flink_user_behavior_analysis_spark.operators import similarity
    from flink_user_behavior_analysis_spark.operators.similarity import (
        semantic_dedup,
    )

    eps = eps_pct / 100.0

    def r(x, dp):
        return float(Decimal(repr(x)).quantize(
            Decimal(1).scaleb(-dp), rounding=ROUND_HALF_UP))

    def cos(u, v, dp):
        nu = math.sqrt(sum(x * x for x in u))
        nv = math.sqrt(sum(x * x for x in v))
        return r(0.0 if nu == 0 or nv == 0 else
                 sum(a * b for a, b in zip(u, v)) / (nu * nv), dp)

    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows,
                               "vec_id LONG, embedding ARRAY<DOUBLE>")
    cents_f = [[float(x) for x in c] for c in cents]
    old = similarity._CELL_BLOCK_ROWS
    similarity._CELL_BLOCK_ROWS = grain
    try:
        got = {row.vec_id: (row.cell, row.cent_sim, row.status)
               for row in semantic_dedup(
                   df, cents_f, eps, pair_kernel="gemm").collect()}
    finally:
        similarity._CELL_BLOCK_ROWS = old

    assign = {}
    for i, v in rows:
        best, bc = None, None
        for ci, c in enumerate(cents_f):
            cs = cos(v, c, 6)
            if best is None or cs > best:
                best, bc = cs, ci
        assign[i] = (bc, best)
    expected = {}
    for i, v in rows:
        cell, cs = assign[i]
        dropped = any(
            assign[j][0] == cell and (assign[j][1], j) < (cs, i)
            and cos(v, dict(rows)[j], 4) >= eps
            for j, _ in rows if j != i
        )
        expected[i] = (cell, cs, "dropped" if dropped else "kept")
    assert got == expected
