"""Streaming twins and stream-applied operators against their batch
forms.

Each ``test_<twin>_...`` below drains its ``STREAMING_QUERIES`` entry
over a single-file sf0.001 replay and asserts the entry's rule
through ``assert_twin`` (tests/test_streaming_split.py, which also
drains every entry over a 3-file replay). The other tests apply batch
operators to ``file_replay_stream`` or drive the foreachBatch runners.
"""

from pyspark.sql import functions as F

from flink_user_behavior_analysis_spark.sources import load_table
from flink_user_behavior_analysis_spark.streaming import run_available_now

from .test_streaming_split import (_events_with_edges, _write_replay,
                                   assert_twin)


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _assert_same(stream_df, batch_df, cols):
    assert _rows(stream_df, cols) == _rows(batch_df, cols)


def test_hot_items_counts_stream_equals_batch(spark, sf_dir):
    assert_twin(spark, "hot_items_counts", sf_dir)


def test_page_views_stream_equals_batch(spark, sf_dir):
    assert_twin(spark, "page_views", sf_dir)


def test_unique_visitors_stream_equals_batch(spark, sf_dir):
    assert_twin(spark, "unique_visitors", sf_dir)


def test_marketing_by_channel_stream_equals_batch(spark, sf_dir):
    assert_twin(spark, "marketing_by_channel", sf_dir)


def test_tx_interval_join_stream_equals_batch(spark, sf_dir, tmp_path):
    """sf0.001 has no pay with an in-band receipt: the edge rows add one."""
    replay = _write_replay(str(tmp_path), _events_with_edges(sf_dir), [])
    assert_twin(spark, "tx_interval_join", replay)


def test_consecutive_fail_stateful_equals_batch(spark, sf_dir):
    assert_twin(spark, "consecutive_fail", sf_dir)


def test_per_key_sorts_across_arrow_chunks(spark, tmp_path):
    """The runner's ordering contract: with 2 records per Arrow batch a
    6-row key reaches the worker as three chunks, and ``step`` must
    still see the key's rows in one ascending ``(ts, event_id)`` run —
    a per-chunk sort would hand it [5, 6, 3, 4, 1, 2]."""
    from datetime import datetime, timezone

    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType)

    from flink_user_behavior_analysis_spark.streaming.stateful import _per_key

    schema = "user_id long, ts timestamp, event_id long"
    data = [(1, datetime.fromtimestamp(s, tz=timezone.utc).replace(
        tzinfo=None), s) for s in range(6, 0, -1)]
    d = str(tmp_path / "desc")
    spark.createDataFrame(data, schema).coalesce(1).write.parquet(d)
    ev = spark.readStream.schema(schema).parquet(d)
    prepared = ev.select(
        "user_id",
        F.unix_micros("ts").alias("__ts_us"),
        F.col("event_id").alias("__ord"))

    def step(key, rows, state):
        return [(key[0], ",".join(str(t // 1_000_000)
                                  for t in rows["__ts_us"]))]

    out_schema = StructType([StructField("user_id", LongType()),
                             StructField("seen", StringType())])
    state_schema = StructType([StructField("unused", LongType())])
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        got = run_available_now(
            _per_key(prepared, ["user_id"], step, out_schema, state_schema,
                     GroupStateTimeout.NoTimeout, ["__ts_us", "__ord"]),
            "append")
        assert [tuple(r) for r in got.collect()] == [(1, "1,2,3,4,5,6")]
    finally:
        spark.conf.set(key, prev)


def test_cap_filter_stateful_equals_batch(spark, sf_dir):
    assert_twin(spark, "cap_filter", sf_dir)


def test_python_worker_startup_path(spark):
    """The session's Python daemon starts through the package's
    worker start-up module (session.get_spark), so every worker runs
    with no jar on its import path and, when the unpacked tree of the
    Spark build exists, pyspark imported from plain files. Otherwise
    each task's importlib.invalidate_caches() re-reads the archives.
    The applyInPandasWithState twins of this file
    (consecutive_fail / cap_filter / reconcile) run on this same
    session, so their equality with the batch twins is the end-to-end
    check that the reordered path changes no result."""
    import json
    import os

    import pyarrow as pa

    def probe(batches):
        import sys

        import pyspark

        for _ in batches:
            yield pa.RecordBatch.from_pylist([{"info": json.dumps({
                "path": list(sys.path),
                "cache": list(sys.path_importer_cache),
                "pyspark": pyspark.__file__})}])

    row = (spark.range(1, numPartitions=1)
           .mapInArrow(probe, "info string").collect())
    info = json.loads(row[0]["info"])
    assert not [p for p in info["path"] if p.endswith(".jar")], info["path"]
    assert not [p for p in info["cache"] if p.endswith(".jar")], info["cache"]
    tree = os.path.join(os.environ.get("SPARK_HOME", ""), "python", "pyspark")
    if os.environ.get("SPARK_HOME") and os.path.isdir(tree):
        assert ".zip" + os.sep not in info["pyspark"], info["pyspark"]


def test_worker_reorder_path_drops_jars_and_prefers_tree(tmp_path):
    from flink_user_behavior_analysis_spark.worker_daemon import reorder_path

    (tmp_path / "pyspark").mkdir()
    (tmp_path / "pyspark" / "__init__.py").write_text("")
    zip_entry = str(tmp_path / "lib" / "pyspark.zip")
    jar = "/spark/jars/spark-core.jar"
    cache = {jar: object(), jar + "/org": object(), zip_entry: object()}
    got = reorder_path(["", zip_entry, jar, "/site-packages"], cache)
    assert got == ["", str(tmp_path), zip_entry, "/site-packages"]
    assert list(cache) == [zip_entry]
    # no unpacked tree next to the zip: the path keeps the zip alone
    other = "/elsewhere/lib/pyspark.zip"
    assert reorder_path([other, jar], {}) == [other]


def test_sessionize_stream_equals_batch(spark, sf_dir):
    assert_twin(spark, "sessionize", sf_dir)


def test_reconcile_stateful_equals_batch(spark, sf_dir):
    """Some unmatched row is emitted: its timer fired."""
    got = assert_twin(spark, "reconcile", sf_dir)
    assert any(r["kind"] != "matched" for r in got)


def test_order_timeout_stateful_matches_batch_for_closed_keys(spark, sf_dir):
    """order_timeout's one check: over one file its timers fire only in
    the closing micro-batch, so no key receives rows after its deadline
    has passed (over several files the operator fails,
    test_streaming_split.py)."""
    assert assert_twin(spark, "order_timeout", sf_dir)


def test_exact_dedup_stream_equals_batch(spark, sf_dir):
    assert_twin(spark, "exact_dedup", sf_dir)


def test_streaming_curation_smoke(spark, sf_dir):
    """End-to-end streaming curation (VERDICT r3 item 6): the curation
    twin's drained survivors (equal to its batch twin) fed into the
    incremental near-dup probe must reproduce the batch probe verdicts
    exactly (kept/dup_corpus/dup_delta)."""
    from flink_user_behavior_analysis_spark.operators.dedup import (
        dedup_incremental,
        release_signature_cache,
    )
    from flink_user_behavior_analysis_spark.streaming import (
        STREAMING_QUERIES,
    )

    got = spark.createDataFrame(
        [(r["keeper_id"],) for r in assert_twin(spark, "curation", sf_dir)],
        "keeper_id long")
    want = STREAMING_QUERIES["curation"].batch_frame(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    assert got.count() > 0

    # stage 3: the STREAMED survivors feed the incremental probe —
    # older half as the materialized corpus, newer half as the delta
    surv = docs.join(got.select(F.col("keeper_id").alias("doc_id")),
                     "doc_id")
    cut = surv.agg(F.expr("percentile(doc_id, 0.5)")).first()[0]
    res_stream = dedup_incremental(
        surv.where(F.col("doc_id") < cut),
        surv.where(F.col("doc_id") >= cut), 0.6)
    bsurv = docs.join(want.select(F.col("keeper_id").alias("doc_id")),
                      "doc_id")
    res_batch = dedup_incremental(
        bsurv.where(F.col("doc_id") < cut),
        bsurv.where(F.col("doc_id") >= cut), 0.6)
    try:
        stream_rows = _rows(res_stream,
                            ["doc_id", "status", "n_corpus_matches"])
        batch_rows = _rows(res_batch,
                           ["doc_id", "status", "n_corpus_matches"])
    finally:
        release_signature_cache()
    assert stream_rows == batch_rows
    # non-vacuous: every delta doc got a verdict and at least one kept
    assert len(stream_rows) == surv.where(F.col("doc_id") >= cut).count()
    assert any(s == "kept" for _, s, _ in stream_rows)


def test_stateless_pipeline_ops_compose_on_streams_unchanged(spark, sf_dir):
    """The DataFrame-unification property: STATELESS pipeline
    operators (text_stats, language_id, quantize_embeddings) apply to
    a streaming frame with zero code changes, and the drained result
    equals the batch run — the reason the batch operator library IS
    the streaming library for every per-row stage."""
    from flink_user_behavior_analysis_spark.operators.similarity import (
        quantize_embeddings,
    )
    from flink_user_behavior_analysis_spark.operators.text import (
        language_id,
        text_stats,
    )
    from flink_user_behavior_analysis_spark.sources import (
        file_replay_stream,
    )

    from flink_user_behavior_analysis_spark.operators.text import (
        gopher_rules,
    )

    sdocs = file_replay_stream(spark, sf_dir, "documents")
    bdocs = load_table(spark, sf_dir, "documents")
    for op, key in ((text_stats, "quality_score"),
                    (language_id, "predicted_lang"),
                    (gopher_rules, "keep")):
        got = run_available_now(op(sdocs), output_mode="append")
        want = op(bdocs)
        _assert_same(got, want, ["doc_id", key])

    sembs = file_replay_stream(spark, sf_dir, "embeddings")
    bembs = load_table(spark, sf_dir, "embeddings")
    got = run_available_now(quantize_embeddings(sembs),
                            output_mode="append")
    want = quantize_embeddings(bembs)
    _assert_same(got, want, ["vec_id", "q_sum", "q_min", "q_max"])


def test_drop_duplicates_within_watermark_bounded_state(spark, sf_dir):
    """The production bounded-state form of the dedup twins (streaming/
    jobs.py): dropDuplicatesWithinWatermark keeps O(watermark window)
    state instead of O(distinct keys). On the bounded replay with a
    watermark covering the full span, it must keep exactly one row per
    key — the same distinct set as the batch aggregation."""
    from flink_user_behavior_analysis_spark.sources import (
        file_replay_stream,
    )
    from flink_user_behavior_analysis_spark.streaming.jobs import ensure_utc

    ensure_utc(spark)
    ev = file_replay_stream(spark, sf_dir, "events")
    dd = (
        ev.select("ts", "user_id", "event_type")
        .withWatermark("ts", "10 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
    )
    got = run_available_now(dd, output_mode="append")
    want = (load_table(spark, sf_dir, "events")
            .select("user_id", "event_type").distinct())
    assert got.count() == want.count()
    assert (got.select("user_id", "event_type").distinct().count()
            == want.count())


def test_streaming_registry_names_and_builders(spark, sf_dir):
    """Every STREAMING_QUERIES entry builds an unstarted streaming
    DataFrame (isStreaming, no action run)."""
    from flink_user_behavior_analysis_spark.streaming import STREAMING_QUERIES

    assert len(STREAMING_QUERIES) >= 7
    for name, twin in STREAMING_QUERIES.items():
        assert twin.build(spark, sf_dir).isStreaming, name


def test_cms_stream_accumulation_matches_batch(spark, sf_dir, tmp_path):
    """VERDICT r4 #6: the streaming count-min sketch (per micro-batch
    aggregate + mergeInPlace) must be equivalent to the single batch
    sketch over the same data — CMS cell updates commute and the hash
    functions are seed-determined, so estimates agree exactly and the
    assembled heavy-hitters frame equals heavy_hitters_cms."""
    from flink_user_behavior_analysis_spark.operators.sketches import (
        cms_merge_stream,
        heavy_hitters_cms,
        heavy_hitters_from_sketch,
    )

    ev = load_table(spark, sf_dir, "events").withColumn(
        "item_id",
        F.regexp_extract("props", r'"k":\s*(\d+)', 1).cast("long"),
    ).where(F.col("item_id").isNotNull()).select("item_id")

    # 3-file replay -> 3 micro-batches, so the merge path is exercised
    replay = str(tmp_path / "cms_replay")
    ev.repartition(3).write.parquet(replay)
    sdf = (spark.readStream.schema(ev.schema)
           .option("maxFilesPerTrigger", "1").parquet(replay))

    cms, n = cms_merge_stream(sdf, "item_id")
    assert n == ev.count()

    batch = heavy_hitters_cms(ev, "item_id", k=10)
    exact_top = (
        ev.groupBy("item_id")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("item_id").asc())
        .limit(10)
    )
    streamed = heavy_hitters_from_sketch(spark, cms, n, exact_top,
                                         "item_id")
    cols = ["item_id", "cnt", "rnk", "est_ok"]
    assert _rows(streamed, cols) == _rows(batch, cols)
    assert all(r.est_ok == 1 for r in streamed.collect())


def test_error_spike_scoring_composes_on_streamed_counts(spark, sf_dir):
    """error_spikes' production streaming form: the hourly error
    count runs as a streaming aggregation (bounded replay), and the
    scoring stage (median/MAD over the window-granular counts table)
    applies to the drained counts — equal to the batch operator end
    to end."""
    from flink_user_behavior_analysis_spark.operators.funnel import (
        error_spikes,
        score_window_counts,
    )
    from flink_user_behavior_analysis_spark.operators.windows import (
        windowed_agg,
    )
    from flink_user_behavior_analysis_spark.sources import (
        file_replay_stream,
    )

    sev = file_replay_stream(spark, sf_dir, "events")
    counts = windowed_agg(
        sev.where(F.col("event_type") == "error"), "ts", [], "1 hour",
        None, [F.count(F.lit(1)).cast("long").alias("n_errors")],
    )
    drained = run_available_now(counts, output_mode="complete")
    got = score_window_counts(drained)
    want = error_spikes(load_table(spark, sf_dir, "events"), "1 hour")
    key = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    assert key(got) == key(want)


def test_funnel_composes_on_streamed_step_events(spark, sf_dir):
    assert_twin(spark, "funnel_step_events", sf_dir)


def test_retention_composes_on_streamed_user_weeks(spark, sf_dir):
    assert_twin(spark, "user_weeks", sf_dir)


def test_dau_composes_on_streamed_user_days(spark, sf_dir):
    assert_twin(spark, "user_days", sf_dir)


def test_span_ingest_loop_with_additive_count_updates(spark, sf_dir,
                                                      tmp_path):
    """Production streaming-ingest shape for substring dedup: docs
    arrive in micro-batches; each batch probes the ACCUMULATED
    span-count artifact and then merges its own counts in (counts
    are additive — union counts = sum of counts). Per-batch output
    must equal duplicated_spans_incremental(prefix-corpus, batch):
    flag-at-arrival semantics, corpus side never re-fingerprinted."""
    from flink_user_behavior_analysis_spark.operators.chunking import (
        duplicated_spans_incremental,
        span_fp_counts,
    )
    from flink_user_behavior_analysis_spark.operators.sampling import (
        hash_uniform,
    )

    K = 8
    docs = load_table(spark, sf_dir, "documents")
    u = hash_uniform("doc_id", "ingest")
    batches = [docs.where(u < 0.4),
               docs.where((u >= 0.4) & (u < 0.7)),
               docs.where(u >= 0.7)]

    counts_dir = str(tmp_path / "span_counts")
    # seed: empty counts table
    empty = spark.createDataFrame([], "fp string, n_corpus long")
    empty.write.parquet(counts_dir)

    def read_counts():
        return spark.read.parquet(counts_dir)

    got_rows = []
    for batch in batches:
        counts = read_counts()
        out = duplicated_spans_incremental(
            None, batch, K, corpus_counts=counts)
        got_rows.extend(map(tuple, out.collect()))
        merged = (
            counts.unionByName(span_fp_counts(batch, K))
            .groupBy("fp")
            .agg(F.sum("n_corpus").cast("long").alias("n_corpus"))
        )
        # rewrite the artifact (a real pipeline would MERGE INTO)
        merged_rows = merged.collect()
        spark.createDataFrame(merged_rows, merged.schema) \
            .write.mode("overwrite").parquet(counts_dir)

    want_rows = []
    prefix = None
    for batch in batches:
        if prefix is None:
            base = batch.limit(0)
        else:
            base = prefix
        want = duplicated_spans_incremental(base, batch, K)
        want_rows.extend(map(tuple, want.collect()))
        prefix = base.unionByName(batch)

    assert sorted(got_rows) == sorted(want_rows)


def test_props_topk_composes_on_streamed_counts(spark, sf_dir):
    assert_twin(spark, "props_counts", sf_dir)


def test_semdedup_drift_stream_equals_batch(spark, sf_dir):
    """The drift monitor's streaming state (per-cell count +
    integer micro-unit cosine sum) drains to exactly the batch
    aggregation, and composing the drained stats with the stored
    corpus reproduces the inline drift report row-for-row —
    additivity is what lets the monitor run always-on with one
    state row per cell."""
    from flink_user_behavior_analysis_spark.operators.similarity import (
        _semdedup_assigned,
        semdedup_assign,
        semdedup_batch_stats,
        semdedup_drift,
        semdedup_drift_from_stats,
        semdedup_store_corpus,
    )
    from flink_user_behavior_analysis_spark.queries_pipeline import (
        _embs,
        _semdedup_centroid_path,
        _semdedup_read_centroids,
    )
    from flink_user_behavior_analysis_spark.sources import (
        file_replay_stream,
    )

    cents = _semdedup_read_centroids(_semdedup_centroid_path())
    embs = _embs(spark, sf_dir)

    streamed = run_available_now(
        semdedup_batch_stats(semdedup_assign(
            file_replay_stream(spark, sf_dir, "embeddings"), cents)),
        output_mode="complete")
    batch_stats = semdedup_batch_stats(
        _semdedup_assigned(embs, cents, "vec_id", "embedding"))
    assert sorted(map(tuple, streamed.collect())) == \
        sorted(map(tuple, batch_stats.collect()))

    prefix = "t_semdd_drift_stream"
    for t in spark.catalog.listTables():
        if t.name.startswith(prefix):
            spark.sql(f"DROP TABLE {t.name}")
    semdedup_store_corpus(embs, cents, prefix)
    composed = semdedup_drift_from_stats(spark, prefix, streamed)
    inline = semdedup_drift(spark, prefix, embs, cents)
    assert sorted(map(tuple, composed.collect())) == \
        sorted(map(tuple, inline.collect()))
    for t in spark.catalog.listTables():
        if t.name.startswith(prefix):
            spark.sql(f"DROP TABLE {t.name}")


def test_semdedup_ingest_loop_exactly_once_appends(spark, sf_dir):
    """The full incremental-SemDeDup lifecycle as the foreachBatch
    ingest shape: each arriving micro-batch probes the ACCUMULATED
    corpus, keeps the survivors, and appends them under
    batch_id=epoch — Spark's canonical idempotent-sink pattern
    (epoch_id-keyed writes). Then one epoch is RE-DELIVERED (the
    at-least-once retry) and the corpus must be unchanged. Per-batch
    statuses equal references probed against explicitly stored
    snapshot corpora."""
    from flink_user_behavior_analysis_spark.operators.sampling import (
        hash_uniform,
    )
    from flink_user_behavior_analysis_spark.operators.similarity import (
        semdedup_append_corpus,
        semdedup_probe,
        semdedup_store_corpus,
    )
    from flink_user_behavior_analysis_spark.queries_pipeline import (
        SEMDEDUP_EPS,
        _embs,
        _semdedup_read_centroids_or_fit,
    )

    def _cleanup(pfx):
        for t in spark.catalog.listTables():
            if t.name.startswith(pfx):
                spark.sql(f"DROP TABLE {t.name}")

    cents = _semdedup_read_centroids_or_fit(spark)
    embs = _embs(spark, sf_dir).select("vec_id", "embedding")
    u = hash_uniform("vec_id", "semdd_loop")
    corpus0 = embs.where(u < 0.4)
    epochs = [embs.where((u >= 0.4) & (u < 0.7)),
              embs.where(u >= 0.7)]

    prefix = "t_semdd_loop"
    _cleanup(prefix)
    semdedup_store_corpus(corpus0, cents, prefix)

    got, kept_frames = [], []
    for i, batch in enumerate(epochs):
        marked = semdedup_probe(spark, prefix, batch, cents,
                                SEMDEDUP_EPS)
        rows = marked.collect()  # materialize BEFORE the append
        got.append(sorted((r.vec_id, r.status) for r in rows))
        kept_ids = [r.vec_id for r in rows if r.status == "kept"]
        keepers = batch.where(F.col("vec_id").isin(kept_ids))
        kept_frames.append(keepers)
        assert semdedup_append_corpus(spark, prefix, keepers, cents,
                                      batch_id=f"e{i}") == len(kept_ids)

    # at-least-once retry: epoch e0 re-delivered after commit — no-op
    n_total = spark.table(f"{prefix}_cells").count()
    assert semdedup_append_corpus(spark, prefix, kept_frames[0], cents,
                                  batch_id="e0") == 0
    assert spark.table(f"{prefix}_cells").count() == n_total

    # references: probe each epoch against an explicitly stored
    # snapshot of (corpus0 + prior keepers)
    snap = corpus0
    for i, batch in enumerate(epochs):
        ref_pfx = f"t_semdd_snap{i}"
        _cleanup(ref_pfx)
        semdedup_store_corpus(snap, cents, ref_pfx)
        want = sorted(
            (r.vec_id, r.status)
            for r in semdedup_probe(spark, ref_pfx, batch, cents,
                                    SEMDEDUP_EPS).collect())
        assert got[i] == want, f"epoch {i} diverged from snapshot ref"
        snap = snap.unionByName(kept_frames[i])
        _cleanup(ref_pfx)
    _cleanup(prefix)


def test_semdedup_assign_stream_equals_batch(spark, sf_dir):
    """Streaming cluster routing == batch assignment, row for row:
    the SemDeDup argmax projection is stateless, so the batch operator
    applied to the replayed embeddings stream (append mode,
    availableNow) must assign every vector to the same cell with the
    same cent_sim as over the batch table."""
    from flink_user_behavior_analysis_spark.operators.similarity import (
        semdedup_assign,
    )
    from flink_user_behavior_analysis_spark.queries_pipeline import (
        _embs,
        _semdedup_centroid_path,
        _semdedup_read_centroids,
    )
    from flink_user_behavior_analysis_spark.sources.readers import (
        file_replay_stream,
    )
    from flink_user_behavior_analysis_spark.streaming.jobs import (
        run_available_now,
    )

    cents = _semdedup_read_centroids(_semdedup_centroid_path())
    streamed = run_available_now(
        semdedup_assign(file_replay_stream(spark, sf_dir, "embeddings"),
                        cents), output_mode="append")
    batch = semdedup_assign(_embs(spark, sf_dir), cents)
    assert sorted(map(tuple, streamed.collect())) == \
        sorted(map(tuple, batch.collect()))


def test_semdedup_probe_stream_equals_batch(spark, sf_dir, tmp_path):
    """VERDICT r7 #4: the stored-corpus SemDeDup probe as a
    foreachBatch micro-batch stream — the corpus-side verdict
    (dup_corpus / n_corpus_matches) is per-row against the frozen
    cell-partitioned artifact, so draining a 3-micro-batch replay
    must equal the one-shot batch probe row-for-row."""
    from flink_user_behavior_analysis_spark.operators.sampling import (
        hash_uniform,
    )
    from flink_user_behavior_analysis_spark.operators.similarity import (
        semdedup_probe,
        semdedup_store_corpus,
    )
    from flink_user_behavior_analysis_spark.queries_pipeline import (
        SEMDEDUP_EPS,
        _embs,
        _semdedup_read_centroids_or_fit,
    )
    from flink_user_behavior_analysis_spark.sources.readers import (
        file_replay_stream,
    )
    from flink_user_behavior_analysis_spark.streaming.jobs import (
        run_probe_foreach_batch,
    )

    cents = _semdedup_read_centroids_or_fit(spark)
    embs = _embs(spark, sf_dir).select("vec_id", "embedding")
    u = hash_uniform("vec_id", "semdd_probe_stream")
    corpus, delta = embs.where(u < 0.6), embs.where(u >= 0.6)

    prefix = "t_semdd_probe_stream"
    for t in spark.catalog.listTables():
        if t.name.startswith(prefix):
            spark.sql(f"DROP TABLE {t.name}")
    semdedup_store_corpus(corpus, cents, prefix)

    # 3-file replay dir -> 3 micro-batches
    stage = tmp_path / "probe_replay"
    delta.repartition(3).write.parquet(str(stage / "embeddings.parquet"))

    streamed = run_probe_foreach_batch(
        file_replay_stream(spark, str(stage), "embeddings"),
        lambda batch: semdedup_probe(spark, prefix, batch, cents,
                                     SEMDEDUP_EPS, vs_delta=False))
    batch = semdedup_probe(spark, prefix, delta, cents, SEMDEDUP_EPS,
                           vs_delta=False)
    cols = ["vec_id", "status", "n_corpus_matches"]
    assert sorted(map(tuple, streamed.select(*cols).collect())) == \
        sorted(map(tuple, batch.select(*cols).collect()))
    assert streamed.count() == delta.count()
    for t in spark.catalog.listTables():
        if t.name.startswith(prefix):
            spark.sql(f"DROP TABLE {t.name}")


def test_dsir_score_stream_equals_inline_weights(spark, sf_dir, tmp_path):
    """DSIR scoring as a foreachBatch micro-batch stream against the
    STORED raw/target LMs: weighting is stateless per document given
    the frozen artifacts, so a 3-micro-batch replay must drain to
    exactly the INLINE dsir_weights result (which refits both LMs
    from the same corpus/target) — stored+streamed ≡ inline in one
    assertion."""
    from pyspark.sql import functions as F

    from flink_user_behavior_analysis_spark.operators.text import (
        dsir_weights,
        dsir_weights_from_models,
        lm_read_model,
        lm_store_model,
    )
    from flink_user_behavior_analysis_spark.sources.readers import (
        file_replay_stream,
    )
    from flink_user_behavior_analysis_spark.streaming.jobs import (
        run_probe_foreach_batch,
    )

    docs = load_table(spark, sf_dir, "documents")
    in_target = F.col("source").isin("src0", "src1")
    pr, pt = "t_dsir_str_raw", "t_dsir_str_tgt"
    tables = (lm_store_model(docs, pr)
              + lm_store_model(docs.where(in_target), pt))

    # 3-file replay dir -> 3 micro-batches
    stage = tmp_path / "dsir_replay"
    docs.repartition(3).write.parquet(str(stage / "documents.parquet"))
    try:
        model_r, model_t = lm_read_model(spark, pr), lm_read_model(spark, pt)
        streamed = run_probe_foreach_batch(
            file_replay_stream(spark, str(stage), "documents"),
            lambda batch: dsir_weights_from_models(model_r, model_t, batch))
        inline = dsir_weights(docs, in_target)
        cols = ["doc_id", "n_bigrams", "logw"]
        assert sorted(map(tuple, streamed.select(*cols).collect())) == \
            sorted(map(tuple, inline.select(*cols).collect()))
        assert streamed.count() > 0
    finally:
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_ann_filtered_probe_stream_equals_batch(spark, sf_dir, tmp_path):
    """VERDICT r7 #4: filtered vector search over the stored IVFADC
    index as a foreachBatch micro-batch stream — per-query top-k is
    independent of every other query, so a 3-micro-batch replay of
    the query set must drain to exactly the one-shot batch search,
    and every neighbor must satisfy the pushed metadata predicate."""
    from flink_user_behavior_analysis_spark.operators.similarity import (
        ivfpq_store_index,
        ivfpq_topk_filtered_from_index,
    )
    from flink_user_behavior_analysis_spark.queries_pipeline import _embs
    from flink_user_behavior_analysis_spark.sources.readers import (
        file_replay_stream,
    )
    from flink_user_behavior_analysis_spark.streaming.jobs import (
        run_probe_foreach_batch,
    )

    embs = _embs(spark, sf_dir)
    label = embs.select("label").first()[0]
    queries = embs.where(F.col("vec_id") < 12)

    prefix = "t_annf_stream"
    for t in spark.catalog.listTables():
        if t.name.startswith(prefix):
            spark.sql(f"DROP TABLE {t.name}")
    ivfpq_store_index(embs, prefix, n_centroids=8, m=4, codes=8,
                      meta_cols=["label"])

    stage = tmp_path / "annf_replay"
    queries.repartition(3).write.parquet(str(stage / "embeddings.parquet"))

    pred = F.col("label") == label
    streamed = run_probe_foreach_batch(
        file_replay_stream(spark, str(stage), "embeddings"),
        lambda batch: ivfpq_topk_filtered_from_index(
            spark, prefix, batch, 3, pred, nprobe=4))
    batch = ivfpq_topk_filtered_from_index(spark, prefix, queries, 3,
                                           pred, nprobe=4)
    assert sorted(map(tuple, streamed.collect())) == \
        sorted(map(tuple, batch.collect()))
    # predicate honored on the wire: every streamed neighbor carries
    # the filtered label in the corpus
    bad = (streamed.select(F.col("neighbor_id").alias("vec_id"))
           .join(embs.select("vec_id", "label"), "vec_id")
           .where(F.col("label") != label).count())
    assert bad == 0
    for t in spark.catalog.listTables():
        if t.name.startswith(prefix):
            spark.sql(f"DROP TABLE {t.name}")


def test_pii_scrub_stream_equals_batch(spark, sf_dir):
    """Streaming PII redaction == batch scrub row-for-row: the scrub
    is a stateless per-row projection, so an append-mode replay must
    redact identically to the batch pass over the same documents."""
    from flink_user_behavior_analysis_spark.operators.text import (
        pii_scrub,
    )
    from flink_user_behavior_analysis_spark.queries_pipeline import _docs
    from flink_user_behavior_analysis_spark.sources.readers import (
        file_replay_stream,
    )
    from flink_user_behavior_analysis_spark.streaming.jobs import (
        run_available_now,
    )

    streamed = run_available_now(
        pii_scrub(file_replay_stream(spark, sf_dir, "documents")),
        output_mode="append")
    batch = pii_scrub(_docs(spark, sf_dir))
    cols = ["doc_id", "n_email", "n_phone", "n_ip", "scrubbed"]
    assert _rows(streamed, cols) == _rows(batch, cols)


def test_media_headers_stream_equals_batch(spark, sf_dir):
    """Streaming header parse == batch parse row-for-row: building
    the real-format payloads (the doc_id % 4 dispatch) and parsing
    their headers are stateless per-row operations, so applied to the
    replayed document stream in append mode they must recover
    identical (dims, depth, channels) for every document."""
    from flink_user_behavior_analysis_spark import queries as Q
    from flink_user_behavior_analysis_spark.operators.multimodal import (
        documents_by_format,
        media_headers,
    )
    from flink_user_behavior_analysis_spark.sources.readers import (
        file_replay_stream,
    )
    from flink_user_behavior_analysis_spark.streaming.jobs import (
        run_available_now,
    )

    docs = file_replay_stream(spark, sf_dir, "documents")
    streamed = run_available_now(media_headers(documents_by_format(docs)),
                                 output_mode="append")
    batch = Q.QUERIES["multimodal_headers"](spark, sf_dir)
    cols = ["media_id", "format", "width", "height", "bit_depth",
            "channels"]
    assert _rows(streamed, cols) == _rows(batch, cols)
    assert streamed.count() > 0


def test_media_ahash_stream_equals_batch(spark, sf_dir):
    """Streaming perceptual-hash pass == batch pass row-for-row
    (stateless per-row Arrow kernel over the replayed documents)."""
    from flink_user_behavior_analysis_spark.operators.multimodal import (
        documents_as_ppm,
        media_ahash,
    )
    from flink_user_behavior_analysis_spark.queries_pipeline import _docs
    from flink_user_behavior_analysis_spark.sources.readers import (
        file_replay_stream,
    )
    from flink_user_behavior_analysis_spark.streaming.jobs import (
        run_available_now,
    )

    docs = file_replay_stream(spark, sf_dir, "documents")
    streamed = run_available_now(media_ahash(documents_as_ppm(docs)),
                                 output_mode="append")
    batch = media_ahash(documents_as_ppm(_docs(spark, sf_dir)))
    cols = ["media_id", "phash", "w", "h"]
    assert _rows(streamed, cols) == _rows(batch, cols)
    assert streamed.count() > 0


def test_asof_stateful_equals_batch_for_decided_lefts(spark, sf_dir):
    assert_twin(spark, "asof", sf_dir)


def test_asof_stateful_late_right_within_delay_wins(spark, tmp_path):
    """Cross-batch lateness: a right event that arrives one micro-batch
    LATER but timestamps between the current best right and a pending
    left must become the left's match — the reason lefts buffer until
    the watermark passes them instead of matching greedily on arrival.
    Batch 1: left@100 plus rights@50 and @105 (max ts 105 -> watermark
    95 for the next batch, so left@100 stays pending). Batch 2: the
    late right@98 (admissible, 98 > 95) plus a far-future row that
    drives the final watermark past 100; the event-time timer then
    finalizes left@100 against right@98 — not @50."""
    from datetime import datetime, timezone

    from flink_user_behavior_analysis_spark.streaming import (
        asof_stateful,
        run_available_now,
    )

    def _ts(sec):
        return datetime.fromtimestamp(sec, tz=timezone.utc).replace(
            tzinfo=None)

    schema = "user_id long, ts timestamp, event_type string, event_id long"
    d = str(tmp_path / "asof_late")
    b1 = [(1, _ts(100), "purchase", 10),
          (1, _ts(50), "view", 20),
          (1, _ts(105), "view", 21)]
    b2 = [(1, _ts(98), "view", 22),
          (2, _ts(200), "view", 30)]
    import time as _t

    spark.createDataFrame(b1, schema).coalesce(1).write.mode(
        "append").parquet(d)
    _t.sleep(1.2)  # distinct mtimes => deterministic file order
    spark.createDataFrame(b2, schema).coalesce(1).write.mode(
        "append").parquet(d)

    ev = (spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(d)
          .withWatermark("ts", "10 seconds"))
    got = run_available_now(asof_stateful(ev, "purchase", "view"),
                            "append")
    rows = [(r.user_id, r.left_id, r.right_id, r.right_us)
            for r in got.collect()]
    assert rows == [(1, 10, 22, 98 * 1_000_000)]


def test_asof_stateful_idle_ttl_evicts_without_touching_active_keys(
        spark, tmp_path):
    """VERDICT r11 #5: idle-key TTL. Key 1 receives one right and
    then goes silent — once the watermark passes its activity horizon
    by the TTL, its state (the carried best) is evicted via the
    event-time timer, so a left that RESUMES the key later matches
    null, exactly like a brand-new key. Key 2 stays active across
    the same window (its left arrives before the horizon) and must
    match its right as if no TTL existed."""
    from datetime import datetime, timezone

    from flink_user_behavior_analysis_spark.streaming import (
        asof_stateful,
        run_available_now,
    )

    def _ts(sec):
        return datetime.fromtimestamp(sec, tz=timezone.utc).replace(
            tzinfo=None)

    schema = "user_id long, ts timestamp, event_type string, event_id long"
    d = str(tmp_path / "asof_ttl")
    # b1: both keys get a right @50 (max ts 50 -> wm 40 for b2)
    b1 = [(1, _ts(50), "view", 10), (2, _ts(50), "view", 20)]
    # b2: key 2's left @60 arrives while wm=40 < its TTL horizon
    # (50+20=70), so key 2 is active; the far-future row pushes the
    # watermark to 490 for b3, past key 1's horizon
    b2 = [(2, _ts(60), "purchase", 21), (3, _ts(500), "view", 30)]
    # b3: wm=490 -> key 1's TTL timer fires (idle since 50, horizon
    # 70): best evicted, state removed. key 2's decide timer fires
    # too: left@60 matches right@50 (TTL never applied — active).
    b3 = [(3, _ts(600), "view", 31)]
    # b4: key 1 RESUMES with a left @700 (> wm 590); the trailing
    # far-future row drives the final watermark past it
    b4 = [(1, _ts(700), "purchase", 11), (3, _ts(2000), "view", 32)]
    import time as _t

    for batch in (b1, b2, b3, b4):
        spark.createDataFrame(batch, schema).coalesce(1).write.mode(
            "append").parquet(d)
        _t.sleep(1.2)  # distinct mtimes => deterministic file order

    ev = (spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(d)
          .withWatermark("ts", "10 seconds"))
    got = run_available_now(
        asof_stateful(ev, "purchase", "view", idle_ttl_sec=20.0),
        "append")
    rows = {(r.user_id, r.left_id): (r.right_id, r.right_us)
            for r in got.collect()}
    # active key: matched through the TTL window untouched
    assert rows[(2, 21)] == (20, 50 * 1_000_000)
    # resumed-after-TTL key: history evicted -> null match
    assert rows[(1, 11)] == (None, None)
    assert len(rows) == 2


def test_snapshot_diff_stream_equals_batch_added_changed(spark, sf_dir):
    """Streaming CDC diff twin: micro-batches of the candidate
    snapshot probe the stored fps artifact; the drained union must
    equal the batch diff's added+changed rows exactly (removed is
    batch-only by design — absence needs the complete snapshot)."""
    from flink_user_behavior_analysis_spark.operators.versioning import (
        snapshot_probe_from_store,
        snapshot_store_fps,
    )
    from flink_user_behavior_analysis_spark.queries_pipeline import (
        q_snapshot_diff,
    )
    from flink_user_behavior_analysis_spark.sources import load_table
    from flink_user_behavior_analysis_spark.sources.readers import (
        file_replay_stream,
    )
    from flink_user_behavior_analysis_spark.streaming.jobs import (
        run_probe_foreach_batch,
    )

    docs = load_table(spark, sf_dir, "documents")
    old = docs.where(F.col("doc_id") % 11 != 0).select(
        "doc_id", "text", "source")
    prefix = "t_snapcdc"
    spark.sql(f"DROP TABLE IF EXISTS {prefix}_fps")
    spark.sql(f"DROP TABLE IF EXISTS {prefix}_manifest")
    snapshot_store_fps(old, prefix, ["doc_id"], ["text", "source"])

    def to_candidate(d):
        return d.where(F.col("doc_id") % 13 != 0).select(
            "doc_id",
            F.when(F.col("doc_id") % 7 == 0,
                   F.concat(F.col("text"), F.lit(" [rev2]")))
            .otherwise(F.col("text")).alias("text"),
            "source",
        )

    got = run_probe_foreach_batch(
        to_candidate(file_replay_stream(spark, sf_dir, "documents")),
        lambda batch: snapshot_probe_from_store(
            spark, prefix, batch, ["doc_id"], ["text", "source"]))
    want = q_snapshot_diff(spark, sf_dir).where(
        F.col("status") != "removed")
    cols = ["doc_id", "status", "old_fp", "new_fp"]
    assert _rows(got, cols) == _rows(want, cols)
    assert got.count() > 0
    spark.sql(f"DROP TABLE IF EXISTS {prefix}_fps")
    spark.sql(f"DROP TABLE IF EXISTS {prefix}_manifest")


def test_snapshot_cdc_ingest_plus_compact_equals_one_shot_diff(
        spark, sf_dir, tmp_path):
    """VERDICT r11 #6 end-to-end: the production CDC loop — streaming
    slice probes (added/changed) + the periodic compaction that runs
    the full diff for removals and cuts the next version — must
    reproduce the one-shot snapshot diff EXACTLY, removals included,
    under the exactly-once ledger."""
    from flink_user_behavior_analysis_spark.operators.versioning import (
        fingerprint_snapshot,
        snapshot_diff,
        snapshot_store_fps,
    )
    from flink_user_behavior_analysis_spark.queries_pipeline import (
        q_snapshot_diff,
    )
    from flink_user_behavior_analysis_spark.sources import load_table
    from flink_user_behavior_analysis_spark.streaming.jobs import (
        run_snapshot_cdc_ingest,
        snapshot_cdc_compact,
        snapshot_cdc_ingest_batch,
    )

    docs = load_table(spark, sf_dir, "documents")
    old = docs.where(F.col("doc_id") % 11 != 0).select(
        "doc_id", "text", "source")
    candidate = docs.where(F.col("doc_id") % 13 != 0).select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0,
               F.concat(F.col("text"), F.lit(" [rev2]")))
        .otherwise(F.col("text")).alias("text"),
        "source",
    )
    prefix = "t_snapcdc2"
    for t in ("fps", "manifest", "appends"):
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")
    snapshot_store_fps(old, prefix, ["doc_id"], ["text", "source"])

    # the candidate snapshot arrives as 3 key-disjoint slices
    cand_dir = str(tmp_path / "cand")
    candidate.repartition(3).write.parquet(cand_dir)
    stream = (spark.readStream.schema(candidate.schema)
              .option("maxFilesPerTrigger", "1").parquet(cand_dir))
    staging = str(tmp_path / "staging")
    sink = str(tmp_path / "verdicts")
    run_snapshot_cdc_ingest(stream, prefix, staging,
                            str(tmp_path / "ckpt"),
                            ["doc_id"], ["text", "source"],
                            verdict_sink=sink)

    streamed = spark.read.parquet(sink).select(
        "doc_id", "status", "old_fp", "new_fp")

    # exactly-once WITHIN the cycle: a re-delivered committed epoch is
    # a ledger hit — no re-probe, no re-stage (0 verdicts reported).
    # The default job_id derives from the staging dir's QUALIFIED URI
    # (ADVICE r12/r13) — spelling the path differently (trailing
    # slash, unqualified) must derive the SAME id, or a crash-restart
    # would replay committed epochs under fresh batch ids
    from flink_user_behavior_analysis_spark.streaming.jobs import (
        cdc_default_job_id,
    )

    cyc1_id = cdc_default_job_id(spark, staging)
    assert cdc_default_job_id(spark, staging + "/") == cyc1_id
    assert cdc_default_job_id(spark, "file:" + staging) == cyc1_id
    assert snapshot_cdc_ingest_batch(
        spark, prefix, staging, candidate.limit(5), f"{cyc1_id}-0",
        ["doc_id"], ["text", "source"]) == 0

    removed = snapshot_cdc_compact(spark, prefix, staging, ["doc_id"])
    want = q_snapshot_diff(spark, sf_dir)
    cols = ["doc_id", "status", "old_fp", "new_fp"]
    assert _rows(streamed.unionByName(removed), cols) == _rows(want, cols)
    assert removed.count() > 0 and streamed.count() > 0

    # the compaction cut the next version: the stored fps now ARE the
    # candidate snapshot's fingerprints (content never reread)...
    assert _rows(spark.table(f"{prefix}_fps"), ["doc_id", "fp"]) == \
        _rows(fingerprint_snapshot(candidate, ["doc_id"],
                                   ["text", "source"]),
              ["doc_id", "fp"])
    # ...and the cut cleared the append ledger (ADVICE r12): the new
    # version absorbed every staged batch, so the ids are waived —
    # not quarantined — and the next cycle starts with a clean ledger
    assert not spark.catalog.tableExists(f"{prefix}_appends")
    assert not spark.catalog.tableExists(f"{prefix}_cleared")

    # CYCLE 2 (ADVICE r12 regression): rotated staging/checkpoint
    # restart epoch ids at 0 — run it under cycle 1's EXACT job_id so
    # every batch id collides with cycle 1's; before the fix the stale
    # ledger skipped every slice as a "replay" (zero verdicts, every
    # key spuriously 'removed'). The compact's ledger clear makes the
    # colliding ids fresh again.
    candidate2 = candidate.where(F.col("doc_id") % 17 != 0).select(
        "doc_id",
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(F.col("text"), F.lit(" [rev3]")))
        .otherwise(F.col("text")).alias("text"),
        "source",
    )
    cand2_dir = str(tmp_path / "cand2")
    candidate2.repartition(3).write.parquet(cand2_dir)
    stream2 = (spark.readStream.schema(candidate2.schema)
               .option("maxFilesPerTrigger", "1").parquet(cand2_dir))
    staging2 = str(tmp_path / "staging2")
    sink2 = str(tmp_path / "verdicts2")
    run_snapshot_cdc_ingest(stream2, prefix, staging2,
                            str(tmp_path / "ckpt2"),
                            ["doc_id"], ["text", "source"],
                            verdict_sink=sink2, job_id=cyc1_id)
    streamed2 = spark.read.parquet(sink2).select(
        "doc_id", "status", "old_fp", "new_fp")
    removed2 = snapshot_cdc_compact(spark, prefix, staging2, ["doc_id"])
    want2 = snapshot_diff(candidate, candidate2, ["doc_id"],
                          ["text", "source"])
    assert _rows(streamed2.unionByName(removed2), cols) == \
        _rows(want2, cols)
    assert streamed2.count() > 0 and removed2.count() > 0
    for t in ("fps", "manifest", "appends", "cleared"):
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")


def test_snapshot_cdc_compact_with_zero_removals(spark, tmp_path):
    """ADVICE r12 regression guard for the parquet-sidecar
    materialization: a cycle whose candidate covers every stored key
    has NO removals, and the compact must still round-trip the empty
    removed set through the sidecar (empty parquet write + read with
    the full schema), cut the version, and clear the ledger."""
    from flink_user_behavior_analysis_spark.operators.versioning import (
        fingerprint_snapshot,
        snapshot_store_fps,
    )
    from flink_user_behavior_analysis_spark.streaming.jobs import (
        snapshot_cdc_compact,
        snapshot_cdc_ingest_batch,
    )

    prefix = "t_snapcdc_zero"
    for t in ("fps", "manifest", "appends", "cleared"):
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")
    old = spark.createDataFrame(
        [(1, "a", "s"), (2, "b", "s")],
        "doc_id long, text string, source string")
    snapshot_store_fps(old, prefix, ["doc_id"], ["text", "source"])
    # candidate = old + one new row: adds, changes nothing, removes
    # nothing
    cand = old.unionByName(spark.createDataFrame(
        [(3, "c", "s")], old.schema))
    staging = str(tmp_path / "staging")
    n = snapshot_cdc_ingest_batch(
        spark, prefix, staging, cand, "zr-0",
        ["doc_id"], ["text", "source"])
    assert n == 1  # the added row
    removed = snapshot_cdc_compact(spark, prefix, staging, ["doc_id"])
    assert removed.count() == 0
    assert [f.name for f in removed.schema.fields] == [
        "doc_id", "status", "old_fp", "new_fp"]
    # version cut + ledger cleared despite the empty removal set
    assert {r.doc_id for r in spark.table(f"{prefix}_fps")
            .select("doc_id").collect()} == {1, 2, 3}
    assert not spark.catalog.tableExists(f"{prefix}_appends")
    got = {tuple(r) for r in spark.table(f"{prefix}_fps").collect()}
    want = {tuple(r) for r in fingerprint_snapshot(
        cand, ["doc_id"], ["text", "source"]).collect()}
    assert got == want

    # the compact CLOSED the cycle (r13): staging another slice into
    # the same landing zone, or compacting it again, must refuse —
    # either would corrupt the next removal sweep
    import pytest

    with pytest.raises(ValueError, match="already compacted"):
        snapshot_cdc_ingest_batch(
            spark, prefix, staging, cand, "zr-1",
            ["doc_id"], ["text", "source"])
    with pytest.raises(ValueError, match="already compacted"):
        snapshot_cdc_compact(spark, prefix, staging, ["doc_id"])
    # compacting a cycle that never staged anything must refuse too
    # (it would report every stored key as removed)
    with pytest.raises(ValueError, match="does not exist"):
        snapshot_cdc_compact(spark, prefix,
                             str(tmp_path / "nope"), ["doc_id"])
    for t in ("fps", "manifest", "cleared"):
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")


def test_snapshot_cdc_compact_torn_state_recovery(spark, tmp_path):
    """ADVICE r13 (medium): a crash AFTER snapshot_cut_version but
    BEFORE the _compacted marker used to make the re-run recompute
    removals against the already-cut fps table (now equal to staged →
    zero removals) and overwrite the correct sidecar — losing the
    cycle's removal verdicts in exactly the recovery path the marker
    protocol exists to harden. The _cut_pending marker must make the
    re-run reuse the sidecar, finish the idempotent cut + ledger
    clear + close, and return the ORIGINAL removed set."""
    import pytest

    from flink_user_behavior_analysis_spark.operators.versioning import (
        _diff_fps,
        fingerprint_snapshot,
        snapshot_cut_version,
        snapshot_store_fps,
    )
    from flink_user_behavior_analysis_spark.streaming.jobs import (
        _hadoop_path_exists,
        _hadoop_touch,
        snapshot_cdc_compact,
        snapshot_cdc_ingest_batch,
    )

    prefix = "t_snapcdc_torn"
    for t in ("fps", "manifest", "appends", "cleared"):
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")
    old = spark.createDataFrame(
        [(1, "a", "s"), (2, "b", "s"), (3, "c", "s")],
        "doc_id long, text string, source string")
    snapshot_store_fps(old, prefix, ["doc_id"], ["text", "source"])
    # candidate drops doc_id=3 → exactly one removal this cycle
    cand = old.where(F.col("doc_id") != 3)
    staging = str(tmp_path / "staging")
    snapshot_cdc_ingest_batch(spark, prefix, staging, cand, "tr-0",
                              ["doc_id"], ["text", "source"])

    # simulate the compact crashing INSIDE the cut window: sidecar
    # written, _cut_pending touched, version cut — then "crash"
    # before ledger clear and _compacted (the exact torn state)
    staged = spark.read.parquet(staging).select("doc_id", "fp")
    removed_df = (_diff_fps(spark.table(f"{prefix}_fps"),
                            staged, ["doc_id"])
                  .where(F.col("status") == "removed"))
    removed_df.write.mode("overwrite").parquet(f"{staging}/_removed")
    _hadoop_touch(spark, f"{staging}/_cut_pending")
    snapshot_cut_version(spark, prefix, staged, ["doc_id"])
    # fps now EQUALS staged: a naive recompute would find 0 removals

    # the in-flight cycle is closed to new slices (staging one now
    # would be invisible to the materialized removed set)
    with pytest.raises(ValueError, match="_cut_pending"):
        snapshot_cdc_ingest_batch(spark, prefix, staging, cand, "tr-1",
                                  ["doc_id"], ["text", "source"])

    # recovery re-run: must return the ORIGINAL removed set, not the
    # empty recompute, and finish the cycle (ledger clear + close)
    removed = snapshot_cdc_compact(spark, prefix, staging, ["doc_id"])
    assert [(r.doc_id, r.status) for r in removed.collect()] == \
        [(3, "removed")]
    assert not spark.catalog.tableExists(f"{prefix}_appends")
    assert _hadoop_path_exists(spark, f"{staging}/_compacted")
    got = {tuple(r) for r in spark.table(f"{prefix}_fps").collect()}
    want = {tuple(r) for r in fingerprint_snapshot(
        cand, ["doc_id"], ["text", "source"]).collect()}
    assert got == want

    # a tampered zone (_cut_pending without the sidecar) must refuse
    staging2 = str(tmp_path / "staging2")
    snapshot_cdc_ingest_batch(spark, prefix, staging2, cand, "tr-2",
                              ["doc_id"], ["text", "source"])
    _hadoop_touch(spark, f"{staging2}/_cut_pending")
    with pytest.raises(ValueError, match="no\\s+_removed sidecar|tampered"):
        snapshot_cdc_compact(spark, prefix, staging2, ["doc_id"])
    for t in ("fps", "manifest", "appends", "cleared"):
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")


def test_snapshot_cdc_reclaim_deletes_only_old_closed_cycles(
        spark, tmp_path):
    """VERDICT r13 stretch #7: closed CDC cycles accumulate staging
    trees nothing reclaims. The janitor must delete only CLOSED
    cycles beyond the keep_last audit window — never the open
    (active) cycle, never an in-flight (_cut_pending) one whose
    sidecar is the sole copy of its removals — and dry_run must
    classify without deleting."""
    import os
    import time as _time

    import pytest

    from flink_user_behavior_analysis_spark.streaming.jobs import (
        _hadoop_path_exists,
        _hadoop_touch,
        snapshot_cdc_reclaim,
    )

    root = tmp_path / "zones"
    root.mkdir()

    def mk(name, *markers):
        d = root / name
        d.mkdir()
        (d / "ingest_batch=b-0").mkdir()
        (d / "ingest_batch=b-0" / "part-0.parquet").write_bytes(b"x")
        for m in markers:
            _hadoop_touch(spark, f"{d}/{m}")
            _time.sleep(0.02)  # distinct marker mtimes -> stable order
        return str(d)

    c1 = mk("cycle1", "_cut_pending", "_compacted")  # oldest closed
    c2 = mk("cycle2", "_cut_pending", "_compacted")
    c3 = mk("cycle3", "_cut_pending", "_compacted")  # newest closed
    fl = mk("cycle4", "_cut_pending")                # in-flight
    op = mk("cycle5")                                # open/active

    got = snapshot_cdc_reclaim(spark, str(root), keep_last=1,
                               dry_run=True)
    assert [os.path.basename(u) for u in got["reclaimed"]] == \
        ["cycle1", "cycle2"]
    assert [os.path.basename(u) for u in got["kept"]] == ["cycle3"]
    assert [os.path.basename(u) for u in got["in_flight"]] == ["cycle4"]
    assert [os.path.basename(u) for u in got["open"]] == ["cycle5"]
    # dry run deleted nothing
    for d in (c1, c2, c3, fl, op):
        assert _hadoop_path_exists(spark, d)

    got = snapshot_cdc_reclaim(spark, str(root), keep_last=1)
    assert [os.path.basename(u) for u in got["reclaimed"]] == \
        ["cycle1", "cycle2"]
    assert not _hadoop_path_exists(spark, c1)
    assert not _hadoop_path_exists(spark, c2)
    # the audit window, the in-flight cycle, and the active cycle
    # all survive — including their contents
    for d in (c3, fl, op):
        assert _hadoop_path_exists(spark, f"{d}/ingest_batch=b-0")

    # keep_last=0 reclaims every closed cycle; non-closed still safe
    got = snapshot_cdc_reclaim(spark, str(root), keep_last=0)
    assert [os.path.basename(u) for u in got["reclaimed"]] == ["cycle3"]
    assert _hadoop_path_exists(spark, fl)
    assert _hadoop_path_exists(spark, op)

    with pytest.raises(ValueError, match="keep_last"):
        snapshot_cdc_reclaim(spark, str(root), keep_last=-1)
    with pytest.raises(ValueError, match="does not exist"):
        snapshot_cdc_reclaim(spark, str(tmp_path / "nope"))
