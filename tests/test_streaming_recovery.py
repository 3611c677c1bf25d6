"""Stateful streaming recovery: stop a checkpointed stateful query
mid-stream, restart it, and verify state carries across the restart
with no duplicate or missing emissions (the RocksDB/HDFS-state-store
story the reference gets from Flink checkpoints)."""

from pyspark.sql import functions as F

from flink_user_behavior_analysis_spark import queries as Q
from flink_user_behavior_analysis_spark.sources import load_table, with_item
from flink_user_behavior_analysis_spark.streaming import STREAMING_QUERIES


def _run_once(spark, src_dir, ckpt, out_dir, raw_schema,
              build=STREAMING_QUERIES["consecutive_fail"].body):
    raw = spark.readStream.schema(raw_schema).parquet(src_dir)
    ev = raw.withWatermark("ts", "0 seconds")
    out = build(ev)
    q = (
        out.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir).collect()


def test_consecutive_fail_survives_restart(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    # cut INSIDE the widest known fail-run so at least one warning's
    # state must be rebuilt from the checkpoint after the restart
    runs = Q.QUERIES["login_fail"](spark, sf_dir).collect()
    widest = max(runs, key=lambda r: r.last_fail_us - r.first_fail_us)
    assert widest.last_fail_us > widest.first_fail_us
    mid_us = (widest.first_fail_us + widest.last_fail_us) // 2
    mid = F.timestamp_micros(F.lit(mid_us))
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")

    out_dir = str(tmp_path / "out")

    # phase 1: only the first half of the timeline exists
    ev.where(F.col("ts") <= mid).coalesce(1).write.parquet(src)
    first = _run_once(spark, src, ckpt, out_dir, ev.schema)
    # phase 2: the rest arrives; SAME checkpoint -> file-source log
    # skips phase-1 files, state store restores fail buffers
    ev.where(F.col("ts") > mid).coalesce(1).write.mode("append").parquet(src)
    both = _run_once(spark, src, ckpt, out_dir, ev.schema)
    second = [r for r in both if r not in first] if len(both) > len(first) else []

    combined = sorted(
        (r.user_id, r.first_fail_us, r.last_fail_us) for r in both
    )
    want = sorted(
        (r.user_id, r.first_fail_us, r.last_fail_us)
        for r in Q.QUERIES["login_fail"](spark, sf_dir).collect()
    )
    assert combined == want
    # both phases must have contributed (otherwise the test is vacuous)
    assert first and second
    # cross-restart runs exist: some warning spans the checkpoint cut
    spanning = [r for r in second if r.first_fail_us <= mid_us]
    assert spanning, "no fail-run crossed the restart boundary"


def _two_phase(spark, ev, cut, tmp_path, build):
    """Drain ``ev`` up to ``cut``, then restart the same checkpoint after
    the rest arrives; return (phase-1 rows, rows of both phases)."""
    src, ckpt, out_dir = (str(tmp_path / d) for d in ("src", "ckpt", "out"))
    ev.where(F.col("ts") <= cut).coalesce(1).write.parquet(src)
    first = _run_once(spark, src, ckpt, out_dir, ev.schema, build)
    ev.where(F.col("ts") > cut).coalesce(1).write.mode("append").parquet(src)
    both = _run_once(spark, src, ckpt, out_dir, ev.schema, build)
    return first, both


def test_cap_filter_survives_restart(spark, sf_dir, tmp_path):
    """The per-user count state carries a (behavior, day) count across
    the restart: the cut falls after the first event of a group whose
    warning fires after it."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type")
    want = sorted(tuple(r) for r in Q.QUERIES["blacklist_warnings"](
        spark, sf_dir).collect())
    u, b, day, _ = want[0]
    first_us = ev.where(
        (F.col("user_id") == u) & (F.col("event_type") == b)
        & (F.date_format("ts", "yyyy-MM-dd") == day)
    ).agg(F.min(F.unix_micros("ts"))).first()[0]
    first, both = _two_phase(
        spark, ev, F.timestamp_micros(F.lit(first_us)), tmp_path,
        STREAMING_QUERIES["cap_filter"].body)
    assert sorted(tuple(r) for r in both) == want
    assert (u, b, day) not in {(r.user_id, r.behavior, r.day) for r in first}


def test_reconcile_survives_restart(spark, sf_dir, tmp_path):
    """A pay buffered before the restart matches its receipt after it;
    the matched leg equals the batch twin and every unmatched row is in
    it. sf0.001 holds no matched pair, so the input is the split test's
    (sf0.001 plus edge rows, among them one matched pair next to a
    NULL-item pay of the same user)."""
    from .test_streaming_split import _events_with_edges, _write_replay

    whole = _write_replay(str(tmp_path / "whole"), _events_with_edges(sf_dir),
                          [])
    ev = with_item(load_table(spark, whole, "events")).select(
        "event_id", "ts", "user_id", "item_id", "event_type")
    want = [tuple(r) for r in Q.QUERIES["tx_match"](spark, whole).collect()]
    want_m = sorted(r for r in want if r[0] == "matched")
    pay_us, receipt_us = next((p, r) for _, _, _, p, r in want_m if p < r)
    cut = F.timestamp_micros(F.lit(pay_us))
    first, both = _two_phase(
        spark, ev, cut, tmp_path,
        STREAMING_QUERIES["reconcile"].body)
    got = [tuple(r) for r in both]
    assert sorted(r for r in got if r[0] == "matched") == want_m
    assert set(got) <= set(want)
    assert any(r[0] == "matched" and r[3] == pay_us and r[4] == receipt_us
               for r in got if r not in first)


def test_streaming_ingest_exactly_once_across_restart(spark, sf_dir,
                                                      tmp_path):
    """VERDICT r8 #5 end-to-end: a streaming ingest that appends each
    micro-batch's near-dup survivors into the stored corpus under the
    epoch-derived batch_id must survive a crash AFTER the append
    committed but BEFORE the epoch checkpointed — the restart replays
    that epoch with the same id, the ledger dedupes it, and the
    stored corpus ends duplicate-free and EQUAL to a batch-mode
    replay of the same micro-batch sequence."""
    import pytest
    from pyspark.sql.streaming import StreamingQueryException

    from flink_user_behavior_analysis_spark.operators.dedup import (
        dedup_append_corpus,
        dedup_incremental_from_store,
        dedup_store_corpus,
    )
    from flink_user_behavior_analysis_spark.streaming.jobs import (
        curation_ingest_batch,
        run_ingest_foreach_batch,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.where("doc_id % 10 < 2")
    incoming = docs.where("doc_id % 10 >= 2")
    src = str(tmp_path / "src")
    incoming.repartition(4).write.parquet(src)  # 4 micro-batches

    prefix = "t_ing_eo"
    for t in spark.catalog.listTables():
        if t.name.startswith(prefix):
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")
    dedup_store_corpus(base, prefix)

    seen: dict[str, list] = {}  # batch_id -> doc_ids (first attempt wins)

    def _stream():
        return (spark.readStream.schema(incoming.schema)
                .option("maxFilesPerTrigger", 1).parquet(src))

    def _record(batch_df, batch_id):
        ids = sorted(r.doc_id for r in batch_df.select("doc_id").collect())
        seen.setdefault(batch_id, ids)
        return curation_ingest_batch(spark, prefix, batch_df, batch_id)

    crashed = {"done": False}

    def _sabotaged(batch_df, batch_id):
        n = _record(batch_df, batch_id)
        if not crashed["done"]:
            crashed["done"] = True
            assert n > 0, "sabotage must fire after a real append"
            raise RuntimeError("simulated crash after append, before "
                               "epoch commit")

    ckpt = str(tmp_path / "ckpt")
    with pytest.raises(StreamingQueryException, match="simulated crash"):
        run_ingest_foreach_batch(_stream(), ckpt, _sabotaged, job_id="j")
    # restart from the same checkpoint: epoch 0 replays under the SAME
    # batch_id; the ledger turns it into a no-op, the rest drains
    run_ingest_foreach_batch(_stream(), ckpt, _record, job_id="j")

    stored = spark.table(f"{prefix}_shingles").select("doc_id")
    n_rows = stored.count()
    n_ids = stored.distinct().count()
    assert n_rows == n_ids, (
        f"replayed epoch duplicated corpus rows: {n_rows} rows over "
        f"{n_ids} distinct ids")

    # every replayed id was re-delivered with identical content (the
    # WAL contract the ledger relies on), and all 4 files were seen
    assert len(seen) == 4
    assert set().union(*seen.values()) == {
        r.doc_id for r in incoming.select("doc_id").collect()}

    # batch-mode replay of the SAME micro-batch sequence on a second
    # prefix must land the exact same survivor set
    ref = "t_ing_ref"
    for t in spark.catalog.listTables():
        if t.name.startswith(ref):
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")
    dedup_store_corpus(base, ref)
    for bid in sorted(seen, key=lambda b: int(b.rsplit("-", 1)[1])):
        batch = docs.where(F.col("doc_id").isin(seen[bid]))
        decisions = dedup_incremental_from_store(spark, ref, batch, 0.8)
        survivors = batch.join(
            decisions.where("status = 'kept'").select("doc_id"), "doc_id")
        dedup_append_corpus(spark, ref, survivors, batch_id=bid)
    got = {r.doc_id for r in stored.collect()}
    want = {r.doc_id for r in
            spark.table(f"{ref}_shingles").select("doc_id").collect()}
    assert got == want and got >= {r.doc_id for r in base.collect()}
    for p in (prefix, ref):
        for t in spark.catalog.listTables():
            if t.name.startswith(p):
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")


def _crash_once_then_restart(spark, stream_fn, ckpt, ingest_fn,
                             job_id):
    """Drive run_ingest_foreach_batch to a crash AFTER the first
    successful append (before its epoch commits), then restart from
    the same checkpoint and drain — the harness every exactly-once
    family test shares."""
    import pytest
    from pyspark.sql.streaming import StreamingQueryException

    from flink_user_behavior_analysis_spark.streaming.jobs import (
        run_ingest_foreach_batch,
    )

    crashed = {"done": False}

    def _sabotaged(batch_df, batch_id):
        n = ingest_fn(batch_df, batch_id)
        if not crashed["done"]:
            crashed["done"] = True
            assert n > 0, "sabotage must fire after a real append"
            raise RuntimeError("simulated crash after append")

    with pytest.raises(StreamingQueryException, match="simulated crash"):
        run_ingest_foreach_batch(stream_fn(), ckpt, _sabotaged,
                                 job_id=job_id)
    run_ingest_foreach_batch(stream_fn(), ckpt, ingest_fn,
                             job_id=job_id)


def test_rebuild_mid_stream_quarantines_and_stream_recovers(
        spark, sf_dir, tmp_path):
    """VERDICT r9 #7 — quarantine × streaming ingest composition: a
    REBUILD that lands between micro-batches (a concurrent
    maintenance job rebuilding from base only) discards an already
    COMMITTED epoch's rows. Its stream checkpoint is committed, so
    the engine will never replay it — the quarantine ledger is the
    only thing standing between that and silent loss. The next
    epoch's append must REFUSE (QuarantinedBatchesError surfacing
    through foreachBatch), an orchestrator re-delivery under the
    quarantined batch_id must drain it, and a checkpoint restart must
    then finish the stream — ending with the same corpus a sequential
    batch-mode replay produces."""
    import pytest
    from pyspark.sql.streaming import StreamingQueryException

    from flink_user_behavior_analysis_spark.operators.dedup import (
        dedup_store_corpus,
    )
    from flink_user_behavior_analysis_spark.sources import readers
    from flink_user_behavior_analysis_spark.streaming.jobs import (
        curation_ingest_batch,
        run_ingest_foreach_batch,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.where("doc_id % 10 < 2")
    incoming = docs.where("doc_id % 10 >= 2")
    src = str(tmp_path / "src")
    incoming.repartition(4).write.parquet(src)  # 4 micro-batches

    prefix = "t_ing_quar"
    for t in spark.catalog.listTables():
        if t.name.startswith(prefix):
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")
    dedup_store_corpus(base, prefix)

    seen: dict[str, list] = {}  # batch_id -> doc_ids (first attempt)

    def _stream():
        return (spark.readStream.schema(incoming.schema)
                .option("maxFilesPerTrigger", 1).parquet(src))

    def _record(batch_df, batch_id):
        ids = sorted(r.doc_id for r in batch_df.select("doc_id").collect())
        seen.setdefault(batch_id, ids)
        return curation_ingest_batch(spark, prefix, batch_df, batch_id)

    rebuilt = {"done": False}

    def _with_concurrent_rebuild(batch_df, batch_id):
        # epoch 0 commits normally; then the "maintenance job" rebuilds
        # from base only BEFORE epoch 1's body — epoch 0's appended
        # rows are discarded while its stream checkpoint stands
        if batch_id.endswith("-1") and not rebuilt["done"]:
            rebuilt["done"] = True
            dedup_store_corpus(base, prefix)
        return _record(batch_df, batch_id)

    ckpt = str(tmp_path / "ckpt")
    with pytest.raises(StreamingQueryException) as exc:
        run_ingest_foreach_batch(_stream(), ckpt,
                                 _with_concurrent_rebuild, job_id="j")
    assert "QuarantinedBatchesError" in str(exc.value) \
        or "quarantined" in str(exc.value)
    assert rebuilt["done"]
    assert readers.quarantined_batch_ids(spark, prefix) == ["j-0"]

    # orchestrator re-delivery of the quarantined epoch under its own
    # batch_id (the drain path require_appendable leaves open); the
    # rebuild cleared the ledger, so this re-probes and re-appends
    # against the post-rebuild corpus (= base, the same state the
    # original epoch 0 saw)
    batch0 = docs.where(F.col("doc_id").isin(seen["j-0"]))
    assert curation_ingest_batch(spark, prefix, batch0, "j-0") > 0
    assert readers.quarantined_batch_ids(spark, prefix) == []

    # checkpoint restart: epoch 1 (crashed pre-commit) replays under
    # the same id and now commits; 2 and 3 drain behind it
    run_ingest_foreach_batch(_stream(), ckpt, _record, job_id="j")
    assert sorted(seen) == ["j-0", "j-1", "j-2", "j-3"]

    stored = spark.table(f"{prefix}_shingles").select("doc_id")
    assert stored.count() == stored.distinct().count()

    # sequential batch-mode replay of the same epochs on a fresh
    # prefix must land the identical survivor set
    from flink_user_behavior_analysis_spark.operators.dedup import (
        dedup_append_corpus,
        dedup_incremental_from_store,
    )

    ref = "t_ing_quar_ref"
    for t in spark.catalog.listTables():
        if t.name.startswith(ref):
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")
    dedup_store_corpus(base, ref)
    for bid in sorted(seen, key=lambda b: int(b.rsplit("-", 1)[1])):
        batch = docs.where(F.col("doc_id").isin(seen[bid]))
        decisions = dedup_incremental_from_store(spark, ref, batch, 0.8)
        survivors = batch.join(
            decisions.where("status = 'kept'").select("doc_id"), "doc_id")
        dedup_append_corpus(spark, ref, survivors, batch_id=bid)
    got = {r.doc_id for r in stored.collect()}
    want = {r.doc_id for r in
            spark.table(f"{ref}_shingles").select("doc_id").collect()}
    assert got == want and got >= {r.doc_id for r in base.collect()}
    for p in (prefix, ref):
        for t in spark.catalog.listTables():
            if t.name.startswith(p):
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")


def test_streaming_span_ingest_exactly_once_across_restart(
        spark, sf_dir, tmp_path):
    """The ADDITIVE-MERGE family (span counts) through the streaming
    ingest harness: a replayed epoch must not double-count any
    fingerprint — the final counts table equals a one-shot store of
    base ∪ everything streamed, bit-for-bit."""
    from flink_user_behavior_analysis_spark.operators.chunking import (
        span_append_counts,
        span_store_counts,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.where("doc_id % 10 < 3")
    incoming = docs.where("doc_id % 10 >= 3")
    src = str(tmp_path / "src")
    incoming.repartition(3).write.parquet(src)

    prefix, ref = "t_spi_eo", "t_spi_ref"
    for p in (prefix, ref):
        for t in spark.catalog.listTables():
            if t.name.startswith(p):
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")
    span_store_counts(base, prefix)

    def _stream():
        return (spark.readStream.schema(incoming.schema)
                .option("maxFilesPerTrigger", 1).parquet(src))

    _crash_once_then_restart(
        spark, _stream, str(tmp_path / "ckpt"),
        lambda b, bid: span_append_counts(spark, prefix, b,
                                          batch_id=bid),
        job_id="sp")

    span_store_counts(docs, ref)  # base ∪ incoming in one shot
    got = sorted(map(tuple, spark.table(f"{prefix}_spancounts").collect()))
    want = sorted(map(tuple, spark.table(f"{ref}_spancounts").collect()))
    assert got == want and got, (
        "streamed additive merges with a replayed epoch diverged "
        "from the one-shot union store")
    for p in (prefix, ref):
        for t in spark.catalog.listTables():
            if t.name.startswith(p):
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")


def test_streaming_semdedup_ingest_exactly_once_across_restart(
        spark, sf_dir, tmp_path):
    """The IDEMPOTENT DYNAMIC-OVERWRITE family (SemDeDup cells)
    through the streaming ingest harness — the OTHER recovery mode
    (batch-keyed partition overwrite instead of a manifest-bracket
    transaction) must compose with epoch replay the same way: the
    replayed epoch overwrites only its own partitions, so the cells
    table ends with every vector exactly once."""
    from pyspark.sql import functions as F

    from flink_user_behavior_analysis_spark.operators.similarity import (
        semdedup_append_corpus,
        semdedup_store_corpus,
    )
    from flink_user_behavior_analysis_spark.queries_pipeline import (
        _embs,
        _semdedup_read_centroids_or_fit,
    )

    prefix = "t_sdi_eo"
    for t in spark.catalog.listTables():
        if t.name.startswith(prefix):
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")
    cents = _semdedup_read_centroids_or_fit(spark)
    embs = _embs(spark, sf_dir).select("vec_id", "embedding")
    h = F.abs(F.xxhash64("vec_id") % 10)
    part_a = embs.where(h >= 5)
    incoming = embs.where(h < 5)
    src = str(tmp_path / "src")
    incoming.repartition(3).write.parquet(src)
    semdedup_store_corpus(part_a, cents, prefix)
    n_a = spark.table(f"{prefix}_cells").count()

    def _stream():
        return (spark.readStream.schema(incoming.schema)
                .option("maxFilesPerTrigger", 1).parquet(src))

    _crash_once_then_restart(
        spark, _stream, str(tmp_path / "ckpt"),
        lambda b, bid: semdedup_append_corpus(spark, prefix, b, cents,
                                              batch_id=bid),
        job_id="sd")

    cells = spark.table(f"{prefix}_cells").select("vec_id")
    n_rows, n_ids = cells.count(), cells.distinct().count()
    assert n_rows == n_ids == n_a + incoming.count(), (
        f"replayed epoch broke the cells table: {n_rows} rows, "
        f"{n_ids} distinct ids, expected {n_a + incoming.count()}")
    for t in spark.catalog.listTables():
        if t.name.startswith(prefix):
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")


def test_streaming_dsir_ingest_scores_selects_appends_exactly_once(
        spark, sf_dir, tmp_path):
    """VERDICT r10 #7 — the streaming DSIR ingest COMPOSITION: each
    epoch scores against the EVOLVING raw LM + frozen target LM,
    selects by importance weight into an idempotent per-epoch sink,
    and folds the whole batch into the raw LM under the exactly-once
    ledger. A crash after the first committed append must replay into
    a ledger hit, and the finished stream must equal a sequential
    batch-mode replay of the same epochs: identical per-epoch
    selections (proving epoch k scored against base + batches < k)
    and bit-identical final raw-LM count tables."""
    from flink_user_behavior_analysis_spark.operators.text import (
        dsir_weights_from_models,
        lm_append_to_model,
        lm_read_model,
        lm_store_model,
    )
    from flink_user_behavior_analysis_spark.streaming.jobs import (
        dsir_ingest_batch,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.where("doc_id % 10 < 2")
    target = docs.where("doc_id % 10 = 9")
    incoming = docs.where("doc_id % 10 >= 2 and doc_id % 10 <= 8")
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sel")
    incoming.repartition(3).write.parquet(src)  # 3 micro-batches

    raw_pfx, tgt_pfx, ref = "t_dsi_raw", "t_dsi_tgt", "t_dsi_ref"
    for p in (raw_pfx, tgt_pfx, ref):
        for t in spark.catalog.listTables():
            if t.name.startswith(p):
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")
    lm_store_model(base, raw_pfx)
    lm_store_model(target, tgt_pfx)

    seen: dict[str, list] = {}  # batch_id -> doc_ids (first attempt)

    def _stream():
        return (spark.readStream.schema(incoming.schema)
                .option("maxFilesPerTrigger", 1).parquet(src))

    def _record(batch_df, bid):
        ids = sorted(r.doc_id for r in batch_df.select("doc_id").collect())
        seen.setdefault(bid, ids)
        return dsir_ingest_batch(spark, raw_pfx, tgt_pfx, batch_df, bid,
                                 logw_threshold=0.0, select_sink=sink)

    _crash_once_then_restart(spark, _stream, str(tmp_path / "ckpt"),
                             _record, job_id="ds")
    assert sorted(seen) == ["ds-0", "ds-1", "ds-2"]

    # sequential batch-mode replay: score against the evolving ref LM,
    # select, append — epoch order from the recorded WAL mapping
    lm_store_model(base, ref)
    want_sel: dict[str, list] = {}
    for bid in sorted(seen, key=lambda b: int(b.rsplit("-", 1)[1])):
        batch = docs.where(F.col("doc_id").isin(seen[bid]))
        w = dsir_weights_from_models(lm_read_model(spark, ref),
                                     lm_read_model(spark, tgt_pfx), batch)
        want_sel[bid] = sorted((r.doc_id, r.logw)
                               for r in w.where("logw >= 0.0").collect())
        lm_append_to_model(spark, ref, batch, batch_id=bid)

    sel = spark.read.parquet(sink)  # Hive-partitioned on ingest_batch
    got_sel = {bid: sorted((r.doc_id, r.logw)
                           for r in sel.where(
                               F.col("ingest_batch") == bid).collect())
               for bid in seen}
    assert got_sel == want_sel
    n_sel = sum(len(v) for v in want_sel.values())
    assert 0 < n_sel < incoming.count(), (
        f"threshold is vacuous: {n_sel} of {incoming.count()} selected")

    # final raw LM state == sequential fold, bit-for-bit
    for s in ("big", "uni", "vocab"):
        got = sorted(map(tuple, spark.table(f"{raw_pfx}_{s}").collect()))
        want = sorted(map(tuple, spark.table(f"{ref}_{s}").collect()))
        assert got == want, f"{s} diverged from sequential replay"
    for p in (raw_pfx, tgt_pfx, ref):
        for t in spark.catalog.listTables():
            if t.name.startswith(p):
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")


def test_streaming_dsir_ingest_rebuild_mid_stream_quarantines(
        spark, sf_dir, tmp_path):
    """The quarantine × streaming composition (pattern of
    test_rebuild_mid_stream_quarantines_and_stream_recovers) for the
    DSIR ingest: a raw-LM rebuild from base landing between epochs
    discards epoch 0's committed append while its stream checkpoint
    stands; the next epoch's append must REFUSE, the orchestrator
    re-delivery under the quarantined batch_id must drain it (also
    rewriting that epoch's selection sink against the restored
    pre-epoch-0 LM state — the same scores the original attempt saw),
    and a checkpoint restart must finish the stream, landing the same
    LM state and selections as a sequential replay."""
    import pytest
    from pyspark.sql.streaming import StreamingQueryException

    from flink_user_behavior_analysis_spark.operators.text import (
        dsir_weights_from_models,
        lm_append_to_model,
        lm_read_model,
        lm_store_model,
    )
    from flink_user_behavior_analysis_spark.sources import readers
    from flink_user_behavior_analysis_spark.streaming.jobs import (
        dsir_ingest_batch,
        run_ingest_foreach_batch,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.where("doc_id % 10 < 2")
    target = docs.where("doc_id % 10 = 9")
    incoming = docs.where("doc_id % 10 >= 2 and doc_id % 10 <= 8")
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sel")
    incoming.repartition(3).write.parquet(src)

    raw_pfx, tgt_pfx, ref = "t_dsq_raw", "t_dsq_tgt", "t_dsq_ref"
    for p in (raw_pfx, tgt_pfx, ref):
        for t in spark.catalog.listTables():
            if t.name.startswith(p):
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")
    lm_store_model(base, raw_pfx)
    lm_store_model(target, tgt_pfx)

    seen: dict[str, list] = {}

    def _stream():
        return (spark.readStream.schema(incoming.schema)
                .option("maxFilesPerTrigger", 1).parquet(src))

    def _record(batch_df, bid):
        ids = sorted(r.doc_id for r in batch_df.select("doc_id").collect())
        seen.setdefault(bid, ids)
        return dsir_ingest_batch(spark, raw_pfx, tgt_pfx, batch_df, bid,
                                 logw_threshold=0.0, select_sink=sink)

    rebuilt = {"done": False}

    def _with_concurrent_rebuild(batch_df, bid):
        if bid.endswith("-1") and not rebuilt["done"]:
            rebuilt["done"] = True
            lm_store_model(base, raw_pfx)  # maintenance rebuild, base only
        return _record(batch_df, bid)

    ckpt = str(tmp_path / "ckpt")
    with pytest.raises(StreamingQueryException) as exc:
        run_ingest_foreach_batch(_stream(), ckpt,
                                 _with_concurrent_rebuild, job_id="dq")
    assert "QuarantinedBatchesError" in str(exc.value) \
        or "quarantined" in str(exc.value)
    assert rebuilt["done"]
    assert readers.quarantined_batch_ids(spark, raw_pfx) == ["dq-0"]

    # orchestrator re-delivery: the rebuild restored the pre-epoch-0
    # LM state, so the rescore reproduces epoch 0's original
    # selections and the sink rewrite is a no-op change
    batch0 = docs.where(F.col("doc_id").isin(seen["dq-0"]))
    assert dsir_ingest_batch(spark, raw_pfx, tgt_pfx, batch0, "dq-0",
                             logw_threshold=0.0, select_sink=sink) > 0
    assert readers.quarantined_batch_ids(spark, raw_pfx) == []

    # checkpoint restart: epoch 1 replays (its sink dir is rewritten
    # against the post-re-delivery LM), 2 drains behind it
    run_ingest_foreach_batch(_stream(), ckpt, _record, job_id="dq")
    assert sorted(seen) == ["dq-0", "dq-1", "dq-2"]

    # sequential replay equality: selections per epoch + final LM
    lm_store_model(base, ref)
    want_sel: dict[str, list] = {}
    for bid in sorted(seen, key=lambda b: int(b.rsplit("-", 1)[1])):
        batch = docs.where(F.col("doc_id").isin(seen[bid]))
        w = dsir_weights_from_models(lm_read_model(spark, ref),
                                     lm_read_model(spark, tgt_pfx), batch)
        want_sel[bid] = sorted((r.doc_id, r.logw)
                               for r in w.where("logw >= 0.0").collect())
        lm_append_to_model(spark, ref, batch, batch_id=bid)
    sel = spark.read.parquet(sink)
    got_sel = {bid: sorted((r.doc_id, r.logw)
                           for r in sel.where(
                               F.col("ingest_batch") == bid).collect())
               for bid in seen}
    assert got_sel == want_sel
    for s in ("big", "uni", "vocab"):
        got = sorted(map(tuple, spark.table(f"{raw_pfx}_{s}").collect()))
        want = sorted(map(tuple, spark.table(f"{ref}_{s}").collect()))
        assert got == want, f"{s} diverged after quarantine recovery"
    for p in (raw_pfx, tgt_pfx, ref):
        for t in spark.catalog.listTables():
            if t.name.startswith(p):
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")
