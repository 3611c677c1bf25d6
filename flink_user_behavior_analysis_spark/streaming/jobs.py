"""Structured Streaming twins of the batch queries, and the runners
that drain them.

The reference runs every query as an unbounded Flink DataStream job
with event-time watermarks (TimeCharacteristic.EventTime, e.g.
HotItem.java:39; watermark assignment HotItem.java:62-67,
HotPage.java:55-60). Here a streaming twin is its batch query's own
frame function over a replay stream; ``STREAMING_QUERIES`` pairs each
twin, streaming/stateful.py's machines included, with its batch twin
and the rule tests/test_streaming_split.py asserts (``Twin``).

Output-mode strategy:
- windowed aggregations run in *complete* mode for bounded replays
  (exact batch-equal output, no watermark-eviction races). Unbounded
  production runs use *update* mode + the same watermark; state
  eviction then follows the watermark exactly like the reference's
  window purge.
- Top-N over windowed counts is not expressible as a pure streaming
  aggregation (rank over an agg); the reference buffers per-window in
  keyed state and fires on watermark (HotItem.java:134-192). The Spark
  analogue is foreachBatch ranking — ``run_topn_to_parquet`` —
  mirroring HotPage's late-update-safe MapState upsert
  (HotPage.java:140-204): each micro-batch re-ranks the upserted
  counts and overwrites the windows it touched in a parquet sink.
- the dedup twins (exact_dedup, curation, the funnel / retention /
  DAU heads) hold one state row per distinct key on a bounded replay;
  an unbounded run with a late bound uses
  dropDuplicatesWithinWatermark, which caps state at the watermark
  window.
- Late rows (HotPage.java:66,76-77 side output) are routed at the
  source by ``run_with_late_channel_to_parquet`` into an on-time and a
  late parquet leg; the main computation reads the on-time leg.
"""

from __future__ import annotations

import uuid
from collections.abc import Callable
from dataclasses import dataclass
from functools import partial

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import exact_dedup, top_n_per_window
from ..operators.funnel import (dau_stickiness_from_user_days, funnel,
                                retention_from_user_weeks, user_day_activity,
                                user_week_activity)
from ..operators.sessionize import session_aggregate
from ..queries import (BL_CAP, FUNNEL_STEPS, FUNNEL_WITHIN, IJ_HI_S, IJ_LO_S,
                       LOGIN_FAIL_N, LOGIN_FAIL_SPAN_S, ORDER_TIMEOUT_S,
                       QUERIES, RETENTION_MAX_WEEKS, SESSION_GAP_S,
                       channel_behavior_counts, hot_item_counts,
                       page_view_counts, pays_receipts, props_k_counts,
                       props_top5, tx_pairs)
from ..queries_pipeline import curation_head
from ..session import ensure_utc
from ..sources.readers import file_replay_stream, load_table, with_item
from .stateful import (asof_stateful, cap_filter_stateful,
                       consecutive_fail_stateful, order_timeout_stateful,
                       reconcile_stateful)


def stream_events(
    spark: SparkSession, sf_dir: str, watermark: str | None = "0 seconds"
) -> DataFrame:
    """events table as an event-time stream with watermark (W1-W3:
    the reference's ascending/bounded-out-of-orderness extractors map
    to withWatermark with the matching delay). Pass watermark=None when
    the caller defines per-branch watermarks (e.g. stream-stream joins
    — Spark forbids redefining a watermark downstream)."""
    ensure_utc(spark)
    ev = file_replay_stream(spark, sf_dir, "events")
    if watermark is None:
        return ev
    return ev.withWatermark("ts", watermark)


def _item_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return with_item(stream_events(spark, sf_dir))


_raw_events = partial(stream_events, watermark=None)
_documents = partial(file_replay_stream, name="documents")


# ------------------------------------------------- stream-specific bodies

def unique_visitors_stream(ev: DataFrame) -> DataFrame:
    """A7 streaming: distinct users per tumbling hour as dropDuplicates
    on (window, user) then a count (UniqueVisitor.java:48-79's HashSet
    without the single-JVM memory bound)."""
    deduped = ev.select(
        F.window("ts", "1 hour").alias("w"), F.col("user_id"), F.col("ts")
    ).dropDuplicates(["w", "user_id"])
    return (
        deduped.groupBy("w")
        .agg(F.count(F.lit(1)).alias("uv"))
        .select(F.unix_micros(F.col("w.end")).alias("window_end_us"), "uv")
    )


def funnel_step_events_stream(ev: DataFrame) -> DataFrame:
    """Streaming head of the funnel rollup: the funnel's step events
    with exact (user, step, ts) replays dropped, so the state is
    bounded by distinct step events, never raw traffic. The funnel
    recursion (step i+1's match time depends on step i's) is no
    streaming aggregation; ``funnel`` re-aggregates the drained
    table."""
    return (
        ev.where(F.col("event_type").isin(list(FUNNEL_STEPS)))
        .select("user_id", "event_type", "ts")
        .dropDuplicates(["user_id", "event_type", "ts"])
    )


def tx_interval_join_stream(ev: DataFrame) -> DataFrame:
    """J1 streaming (TxPayMatchByJoin.java:63-93): the batch twin's pays
    and receipts, each side watermarked, in Spark's stream-stream inner
    join; matches emit as they arrive and both sides keep
    watermark-bounded state."""
    pays, receipts = pays_receipts(with_item(ev))
    band = (
        f"left.user_id = right.user_id AND left.item_id = right.item_id "
        f"AND right.receipt_ts >= left.pay_ts + INTERVAL {IJ_LO_S} SECONDS "
        f"AND right.receipt_ts <= left.pay_ts + INTERVAL {IJ_HI_S} SECONDS"
    )
    return tx_pairs(
        pays.withWatermark("pay_ts", "0 seconds").alias("left").join(
            receipts.withWatermark("receipt_ts", "0 seconds").alias("right"),
            F.expr(band), "inner"))


def run_ingest_foreach_batch(raw_sdf: DataFrame, checkpoint_dir: str,
                             ingest_fn, job_id: str = "ingest") -> None:
    """Exactly-once streaming INGEST into a stored index (VERDICT r8
    #5): drain ``raw_sdf`` via foreachBatch, calling
    ``ingest_fn(batch_df, batch_id)`` with ``batch_id =
    f"{job_id}-{epoch_id}"``. Structured Streaming's contract is
    at-least-once for foreachBatch — after a crash/restart the
    in-flight epoch REPLAYS with the SAME epoch id and the same file
    set (checkpoint WAL) — so an ingest_fn that routes through a
    ledgered append (dedup_append_corpus / span_append_counts /
    ivfpq_append_to_index / semdedup_append_corpus with this
    batch_id) composes to exactly-once: the replayed epoch is a
    ledger hit and appends nothing (restart-replay test-asserted in
    tests/test_streaming_recovery.py).

    ``job_id`` must be unique per (stream, index) pair — epoch ids
    restart from 0 per checkpoint, so two jobs sharing an index and
    a job_id would collide ledger entries."""

    def _ingest(batch_df: DataFrame, epoch_id: int) -> None:
        ingest_fn(batch_df, f"{job_id}-{epoch_id}")

    q = (
        raw_sdf.writeStream.outputMode("append")
        .foreachBatch(_ingest)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def curation_ingest_batch(spark: SparkSession, prefix: str,
                          batch_df: DataFrame, batch_id: str,
                          threshold: float = 0.8) -> int:
    """Per-micro-batch body of the streaming curation ingest: probe
    the batch against the STORED minhash corpus (probe-only —
    per-batch wall is a function of the batch, not the corpus), keep
    the near-dup survivors, and fold them into the corpus through the
    exactly-once ledgered append. Early-exits on a committed
    re-delivery BEFORE paying the probe (the ledger check
    dedup_append_corpus would repeat). Returns appended row count (0
    for a replayed epoch)."""
    from ..operators.dedup import (dedup_append_corpus,
                                   dedup_incremental_from_store)
    from ..sources.readers import append_recorded

    if append_recorded(spark, prefix, batch_id):
        return 0
    batch_df = batch_df.persist()
    try:
        decisions = dedup_incremental_from_store(
            spark, prefix, batch_df, threshold)
        survivors = batch_df.join(
            decisions.where(F.col("status") == "kept").select("doc_id"),
            "doc_id")
        return dedup_append_corpus(spark, prefix, survivors,
                                   batch_id=batch_id)
    finally:
        batch_df.unpersist()


def dsir_ingest_batch(spark: SparkSession, prefix_raw: str,
                      prefix_tgt: str, batch_df: DataFrame,
                      batch_id: str, logw_threshold: float = 0.0,
                      select_sink: str | None = None) -> int:
    """Per-micro-batch body of the streaming DSIR ingest (VERDICT r10
    #7): score the arriving docs against the CURRENT raw LM and the
    frozen target LM (probe-only likelihood ratio,
    operators/text.dsir_weights_from_models), select the docs whose
    importance weight clears ``logw_threshold``, then fold the WHOLE
    batch into the raw LM through the exactly-once ledgered append —
    the raw LM is the raw-stream distribution estimate, so it absorbs
    everything it has seen regardless of selection, and every later
    batch is scored against a raw LM that already reflects this one.

    Exactly-once composition: the ledger check on ``prefix_raw``
    early-exits a committed re-delivery BEFORE paying the scoring
    probe (same shape as curation_ingest_batch); the selection output
    is made idempotent by writing each epoch's survivors to an
    overwrite-mode ``ingest_batch=<id>`` subdirectory of
    ``select_sink`` — a replayed epoch rewrites the same directory
    with the same rows (the scores are a pure function of the batch
    and the PRE-append LM state, which the ledger guarantees is what
    a replay sees). Returns the number of SELECTED docs (0 for a
    replayed epoch)."""
    from ..operators.text import (dsir_weights_from_models,
                                  lm_append_to_model, lm_read_model)
    from ..sources.readers import append_recorded

    if append_recorded(spark, prefix_raw, batch_id):
        return 0
    batch_df = batch_df.persist()
    try:
        weights = dsir_weights_from_models(
            lm_read_model(spark, prefix_raw),
            lm_read_model(spark, prefix_tgt), batch_df)
        selected = (batch_df.join(
            weights.where(F.col("logw") >= logw_threshold)
            .select("doc_id", "logw"), "doc_id").persist())
        n_selected = selected.count()
        if select_sink is not None:
            (selected.write.mode("overwrite")
             .parquet(f"{select_sink}/ingest_batch={batch_id}"))
        # the ledgered append commits LAST: a crash before this point
        # replays the epoch (ledger miss -> rescore, same pre-append
        # LM state -> same selections, idempotent sink rewrite); a
        # crash after it replays into a ledger hit and appends nothing
        lm_append_to_model(spark, prefix_raw, batch_df,
                           batch_id=batch_id)
        selected.unpersist()
        return n_selected
    finally:
        batch_df.unpersist()


def run_probe_foreach_batch(raw_sdf: DataFrame, probe_fn) -> DataFrame:
    """Drain a bounded stream of probe inputs via foreachBatch,
    running ``probe_fn`` (batch DataFrame -> DataFrame) against
    STORED serving artifacts per micro-batch, and return the union
    of the per-batch results — the streaming form of the stored-index
    probes (SemDeDup corpus probe, filtered ANN, DSIR scoring, the
    snapshot-diff probe). The probe functions are stateless per
    row/query given the frozen artifacts, so the drained union equals
    the one-shot batch probe whatever the micro-batch split
    (test-asserted).

    Bounded-replay harness: per-batch results are collected to the
    driver. An unbounded production run writes each micro-batch's
    probe result straight to a keyed sink from inside foreachBatch
    instead — the probe plan itself is identical."""
    spark = raw_sdf.sparkSession
    holder: dict = {"rows": [], "schema": None}

    def _probe(batch_df: DataFrame, _bid: int) -> None:
        out = probe_fn(batch_df)
        holder["rows"].extend(out.collect())
        holder["schema"] = out.schema

    q = (
        raw_sdf.writeStream.outputMode("append")
        .foreachBatch(_probe)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if holder["schema"] is None:
        # zero micro-batches (empty replay source): derive the output
        # schema by probing an empty batch, so callers get an empty
        # frame of the right shape instead of a schema-inference error
        return probe_fn(spark.createDataFrame([], raw_sdf.schema))
    return spark.createDataFrame(holder["rows"], holder["schema"])


def _hadoop_path_exists(spark: SparkSession, path: str) -> bool:
    """Scheme-agnostic existence check via the Hadoop FileSystem API
    (os.path would silently say False for s3://... on a cluster)."""
    sc = spark.sparkContext
    hpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(sc._jsc.hadoopConfiguration())
    return bool(fs.exists(hpath))


def _hadoop_touch(spark: SparkSession, path: str) -> None:
    """Create an empty marker file (any scheme)."""
    sc = spark.sparkContext
    hpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(sc._jsc.hadoopConfiguration())
    fs.create(hpath, True).close()


def cdc_default_job_id(spark: SparkSession, staging_dir: str) -> str:
    """Deterministic default job id for a CDC snapshot cycle, derived
    from the staging dir's FULLY-QUALIFIED Hadoop URI (ADVICE r13):
    hashing the raw string makes the id path-SPELLING-sensitive — a
    crash-restart of the same cycle that spells the path differently
    (trailing slash, relative vs absolute, scheme-qualified vs not)
    would derive a different id, replay committed epochs under fresh
    batch ids, and double-stage the same keys into the version cut.
    makeQualified resolves scheme, authority, working-dir-relative
    paths, and trailing slashes to one canonical spelling.

    MIGRATION (r14): the derivation changed from sha1(raw string) to
    sha1(qualified URI), so the SAME path spelling derives a
    DIFFERENT id across the upgrade. A cycle in flight across the
    upgrade must either finish (compact) before upgrading or pass
    its pre-upgrade id explicitly via ``job_id=`` on restart —
    otherwise replayed epochs would commit under fresh batch ids and
    double-stage their keys (the exact hazard the derivation exists
    to prevent). Fresh cycles need nothing."""
    import hashlib

    sc = spark.sparkContext
    hpath = sc._jvm.org.apache.hadoop.fs.Path(staging_dir)
    fs = hpath.getFileSystem(sc._jsc.hadoopConfiguration())
    qualified = fs.makeQualified(hpath).toString()
    return "snapcdc-" + hashlib.sha1(qualified.encode()).hexdigest()[:8]


def snapshot_cdc_ingest_batch(spark: SparkSession, prefix: str,
                              staging_dir: str, batch_df: DataFrame,
                              batch_id: str, key_cols, content_cols,
                              verdict_sink: str | None = None) -> int:
    """Per-micro-batch body of the CDC snapshot-ingest loop (VERDICT
    r11 #6): probe the arriving candidate-snapshot slice against the
    frozen {prefix}_fps artifact for added/changed verdicts
    (operators/versioning.snapshot_probe_from_store — split-invariant
    per row), and STAGE the slice's fingerprints so the periodic
    compaction can see the complete candidate snapshot and close the
    'removed' gap that a per-slice probe structurally cannot.

    Exactly-once composition (the dsir_ingest_batch shape, through
    begin_append and record_batch): an uncommitted {prefix}_fps
    (a version cut in flight) refuses; the ledger check early-exits a
    committed re-delivery BEFORE paying the probe; the quarantine
    gate refuses NEW batches while rebuild-discarded ids are pending,
    like every stored family. Both writes are idempotent per-batch
    directory overwrites (a replayed epoch rewrites the same rows —
    verdicts are a pure function of the slice and the frozen store);
    the ledger commits LAST. A crash anywhere replays the epoch into
    either a clean rewrite (pre-ledger) or a no-op (post-ledger).
    Slices must partition the candidate snapshot's keys (two live
    batches sharing a key would stage
    conflicting fingerprints — same precondition as the contam-gram
    appends; epoch REPLAYS are deduped by the ledger and are fine).

    Returns the number of added/changed verdicts (0 for a replayed
    epoch)."""
    from ..operators.versioning import (fingerprint_snapshot,
                                        snapshot_probe_from_store)
    from ..sources.readers import begin_append, record_batch

    if not begin_append(spark, prefix, batch_id,
                        "snapshot_cdc_ingest_batch"):
        return 0
    # a compacted staging dir is a CLOSED cycle: staging more slices
    # into it would pollute the next compact's "complete candidate
    # snapshot" union with the previous cycle's leftovers (wrong
    # removals) — the caller must rotate staging_dir per cycle
    if _hadoop_path_exists(spark, f"{staging_dir}/_compacted"):
        raise ValueError(
            f"staging dir {staging_dir} was already compacted into a "
            f"version cut — rotate staging_dir (and checkpoint_dir) "
            f"per snapshot cycle; staging into a closed cycle would "
            f"corrupt the next compaction's removal sweep")
    # a cycle whose compact already MATERIALIZED its removal sweep
    # (ADVICE r13 torn-state protocol) is closed to new slices even
    # if the compact crashed before the _compacted marker: a slice
    # staged now would be invisible to the already-computed removed
    # set and double-counted by the (idempotent) re-cut
    if _hadoop_path_exists(spark, f"{staging_dir}/_cut_pending"):
        raise ValueError(
            f"staging dir {staging_dir} has a compaction in flight "
            f"(_cut_pending) — re-run snapshot_cdc_compact to finish "
            f"the cycle, then rotate staging_dir for new slices")
    batch_df = batch_df.persist()
    try:
        verdicts = snapshot_probe_from_store(
            spark, prefix, batch_df, key_cols, content_cols).persist()
        try:
            n = verdicts.count()
            if verdict_sink is not None:
                (verdicts.write.mode("overwrite")
                 .parquet(f"{verdict_sink}/ingest_batch={batch_id}"))
        finally:
            verdicts.unpersist()
        (fingerprint_snapshot(batch_df, key_cols, content_cols)
         .write.mode("overwrite")
         .parquet(f"{staging_dir}/ingest_batch={batch_id}"))
        record_batch(spark, prefix, [], batch_id)  # ledger LAST
        return int(n)
    finally:
        batch_df.unpersist()


def run_snapshot_cdc_ingest(candidate: DataFrame, prefix: str,
                            staging_dir: str, checkpoint_dir: str,
                            key_cols, content_cols,
                            verdict_sink: str | None = None,
                            job_id: str | None = None) -> None:
    """End-to-end streaming half of the CDC versioning loop (VERDICT
    r11 #6): candidate-snapshot slices arrive as a stream; each
    micro-batch emits added/changed verdicts against the frozen
    previous-version fingerprints AND stages its own fingerprints,
    under one exactly-once foreachBatch loop — the same composition
    dsir_ingest_batch uses for score+select+append. The batch half
    (snapshot_cdc_compact) closes the loop with removals and the next
    version cut once the snapshot is complete.

    ``job_id`` defaults to a value DERIVED FROM ``staging_dir``
    (ADVICE r12): callers rotate staging/checkpoint per snapshot
    cycle, and each rotated checkpoint restarts epoch ids at 0 — a
    fixed job_id would make cycle 2's batch ids collide with cycle
    1's ledger entries, so every cycle-2 slice would be skipped as a
    "replay" (no probe, no staging, every key spuriously 'removed' at
    compact). The derivation is deterministic per staging_dir —
    hashed over the fully-QUALIFIED URI, not the raw spelling
    (cdc_default_job_id, ADVICE r13) — so a crash-restart of the
    SAME cycle still replays under the same ids (exactly-once
    preserved) even if the restart spells the path differently,
    while rotated cycles can never collide, whatever ledger a crashed
    snapshot_cdc_compact left behind."""
    spark = candidate.sparkSession
    if job_id is None:
        job_id = cdc_default_job_id(spark, staging_dir)
    run_ingest_foreach_batch(
        candidate, checkpoint_dir,
        lambda b, bid: snapshot_cdc_ingest_batch(
            spark, prefix, staging_dir, b, bid, key_cols, content_cols,
            verdict_sink),
        job_id=job_id)


def snapshot_cdc_compact(spark: SparkSession, prefix: str,
                         staging_dir: str, key_cols,
                         n_buckets: int = 8) -> DataFrame:
    """Periodic compaction closing the CDC 'removed' gap (VERDICT r11
    #6): once the candidate snapshot's slices have all streamed, the
    staged fingerprint union IS the complete candidate snapshot, so
    'removed' = keys of the stored {prefix}_fps with no staged row —
    the one verdict class absence makes invisible to per-slice
    probes. Emits exactly the diff's removed rows (key..., status,
    old_fp, new_fp=null), MATERIALIZED before the version cut (the
    cut invalidates the very table they derive from), then cuts the
    next version from the staged fingerprints (crash-atomic manifest
    bracket, content never reread — it was hashed on the wire).

    union(streamed added/changed, this) ≡ one-shot snapshot_diff of
    the two snapshots, including removals (test-asserted). The
    caller rotates staging_dir/checkpoint_dir per snapshot cycle,
    like any per-version landing zone: the next cycle's slices stage
    into a fresh directory and diff against the version cut here.
    Cost shape at 100 TB: the removal scan joins two hash-width
    fingerprint tables (no content), the removed set spills to a
    parquet sidecar under the staging dir (never through driver
    memory — a retired partition can drop billions of keys, ADVICE
    r12), and the cut is one bucketed write of rows that already
    exist on disk.

    The cut is this family's rebuild analog, so its bracket CLEARS
    the append ledger (ADVICE r12, snapshot_cut_version): the new
    version IS the staged batches' union, so every ledgered id's data
    is contained in the cut — the provably-lossless ``waive``
    handling. Without the clear, a next cycle whose batch ids
    collided would be silently skipped as replays. The clear runs
    inside the cut's bracket, so there is no committed version whose
    ledger still holds the previous cycle's ids; while the bracket
    is open the ``_cut_pending`` marker and the invalidated manifest
    both refuse new slices. (Belt-and-suspenders: the default job_id
    also derives from the rotated staging_dir, so ids can't collide
    across cycles.)

    The compact also drops a ``_compacted`` marker into the staging
    dir: the cycle is closed, and any later stage or re-compact
    against the same landing zone refuses with the rotate-per-cycle
    remedy instead of corrupting the next removal sweep with the
    previous cycle's leftover slices.

    Torn-state protocol (ADVICE r13): a ``_cut_pending`` marker is
    written AFTER the removed sidecar and BEFORE the version cut. A
    crash inside the cut window (cut done, marker not yet) used to
    make a re-run recompute the diff against the ALREADY-CUT fps
    (now equal to staged → zero removals) and overwrite the correct
    sidecar — silently losing the cycle's removals in exactly the
    recovery path. With the marker, a re-run reuses the sidecar,
    re-runs the idempotent cut (ledger clear included), and closes
    the cycle; the ingest gate also refuses new slices once the
    marker exists.

    Return-value lifetime: the returned DataFrame reads LAZILY from
    the ``_removed`` sidecar under this staging dir — consume it (or
    copy it out) BEFORE snapshot_cdc_reclaim deletes the cycle, or
    the scan fails on the vanished files. The janitor's default
    keep_last=1 keeps the newest closed cycle for exactly this
    reason."""
    from ..operators.versioning import _diff_fps, snapshot_cut_version

    keys = list(key_cols)
    if _hadoop_path_exists(spark, f"{staging_dir}/_compacted"):
        raise ValueError(
            f"staging dir {staging_dir} was already compacted — a "
            f"second compact of the same cycle would re-cut the "
            f"version from a closed landing zone; rotate staging_dir "
            f"per cycle")
    if not _hadoop_path_exists(spark, staging_dir):
        raise ValueError(
            f"staging dir {staging_dir} does not exist — no slices "
            f"have streamed this cycle (run_snapshot_cdc_ingest "
            f"stages them); compacting an empty cycle would report "
            f"every stored key as removed")
    staged = spark.read.parquet(staging_dir).select(*keys, "fp")
    removed_path = f"{staging_dir}/_removed"
    pending_path = f"{staging_dir}/_cut_pending"
    if _hadoop_path_exists(spark, pending_path):
        # torn-state recovery (ADVICE r13): a prior compact already
        # materialized the removed sidecar and entered the cut window
        # — the stored fps may ALREADY equal the staged fingerprints,
        # so recomputing the diff here would overwrite the correct
        # sidecar with an empty one and silently lose the cycle's
        # removal verdicts. Reuse the sidecar; the cut is idempotent
        # (same staged rows, ledger clear inside its manifest
        # bracket), so finishing it plus the _compacted marker is
        # safe whether the crash hit before or after each of them.
        if not _hadoop_path_exists(spark, removed_path):
            raise ValueError(
                f"staging dir {staging_dir} has _cut_pending but no "
                f"_removed sidecar — the torn-state protocol writes "
                f"the sidecar first, so this landing zone was "
                f"tampered with; refuse rather than guess removals")
    else:
        removed_df = (_diff_fps(spark.table(f"{prefix}_fps"),
                                staged, keys)
                      .where(F.col("status") == "removed"))
        # materialize BEFORE the cut (the cut invalidates the very
        # table the removed set derives from); "_removed" is
        # underscore-prefixed so the staged-slice reader's directory
        # listing never picks it up
        removed_df.write.mode("overwrite").parquet(removed_path)
        # the pending marker brackets the cut: its presence on
        # re-entry means "sidecar is authoritative, fps may be cut"
        _hadoop_touch(spark, pending_path)
    snapshot_cut_version(spark, prefix, staged, keys, n_buckets)
    # close the cycle: later stage/compact attempts against this
    # landing zone refuse instead of corrupting the next removal
    # sweep (underscore-prefixed, invisible to the staged-slice scan)
    _hadoop_touch(spark, f"{staging_dir}/_compacted")
    return spark.read.parquet(removed_path)


def snapshot_cdc_reclaim(spark: SparkSession, staging_root: str,
                         keep_last: int = 1,
                         dry_run: bool = False) -> dict:
    """Storage-lifecycle janitor for the CDC landing zones (VERDICT
    r13 stretch #7): callers rotate ``staging_dir`` per snapshot
    cycle under a common parent, and every CLOSED cycle leaves its
    whole tree behind — staged slices, the ``_removed`` sidecar, the
    ``_compacted`` marker. At 100 TB a daily-diff deployment retires
    a full fingerprint snapshot per day; without reclamation the
    landing zones grow without bound while serving nothing (the cut
    version lives in the ``{prefix}_fps`` catalog table, and the
    verdict sink is the caller's own artifact — neither is under the
    staging root).

    Scans the immediate children of ``staging_root`` and classifies
    each directory:

      closed    — has ``_compacted``: fully absorbed into a version
                  cut; safe to delete. The newest ``keep_last`` (by
                  marker modification time) are kept as the audit
                  window for the most recent cycles' removed
                  sidecars — and because snapshot_cdc_compact's
                  return value reads lazily from its cycle's
                  sidecar, reclaim only cycles whose removed set has
                  been consumed (keep_last=0 invalidates the newest
                  compact's unconsumed return).
      in_flight — has ``_cut_pending`` but not ``_compacted``: a
                  compact crashed mid-cut; NEVER deleted (the sidecar
                  is the only copy of the cycle's removals until the
                  re-run finishes the protocol).
      open      — no markers: the active cycle still staging slices;
                  NEVER deleted.

    Hadoop FileSystem API throughout (any scheme — the 100 TB
    deployment's landing zone is object storage, not a local disk).
    ``dry_run=True`` classifies and reports without deleting.
    Returns {"reclaimed": [...], "kept": [...], "in_flight": [...],
    "open": [...]} with fully-qualified child URIs, each list sorted.
    """
    if keep_last < 0:
        raise ValueError(f"keep_last must be >= 0, got {keep_last}")
    sc = spark.sparkContext
    root = sc._jvm.org.apache.hadoop.fs.Path(staging_root)
    fs = root.getFileSystem(sc._jsc.hadoopConfiguration())
    if not fs.exists(root):
        raise ValueError(
            f"staging root {staging_root} does not exist — nothing "
            f"to reclaim (did the cycles rotate under a different "
            f"parent?)")
    closed: list[tuple[int, str]] = []  # (marker mtime, uri)
    in_flight: list[str] = []
    open_: list[str] = []
    for st in fs.listStatus(root):
        if not st.isDirectory():
            continue
        child = st.getPath()
        uri = child.toString()
        marker = sc._jvm.org.apache.hadoop.fs.Path(uri + "/_compacted")
        pending = sc._jvm.org.apache.hadoop.fs.Path(
            uri + "/_cut_pending")
        if fs.exists(marker):
            closed.append(
                (int(fs.getFileStatus(marker).getModificationTime()),
                 uri))
        elif fs.exists(pending):
            in_flight.append(uri)
        else:
            open_.append(uri)
    closed.sort()  # oldest first; ties break on the uri
    cut = len(closed) - keep_last
    reclaim = [uri for _, uri in closed[:max(cut, 0)]]
    kept = [uri for _, uri in closed[max(cut, 0):]]
    if not dry_run:
        for uri in reclaim:
            fs.delete(sc._jvm.org.apache.hadoop.fs.Path(uri), True)
    return {"reclaimed": sorted(reclaim), "kept": sorted(kept),
            "in_flight": sorted(in_flight), "open": sorted(open_)}


# ----------------------------------------------------------------- runner

def run_available_now(
    sdf: DataFrame, output_mode: str = "complete"
) -> DataFrame:
    """Drain a bounded stream (trigger availableNow) into a memory sink
    and return the materialized result table — S5 print-sink analogue
    that tests can assert on."""
    name = f"mem_{uuid.uuid4().hex[:12]}"
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return sdf.sparkSession.table(name)


def run_with_late_channel_to_parquet(
    raw_sdf: DataFrame,
    delay_seconds: float,
    out_dir: str,
    ts_col: str = "ts",
    checkpoint_dir: str | None = None,
) -> dict[str, str]:
    """Late-row side channel (reference HotPage.java:66,76-77: elements
    later than watermark + allowedLateness go to a side output; Spark
    drops late rows silently, so the channel is built at the source).
    Per micro-batch, rows are routed to a late leg or an on-time leg
    and written to two parquet sinks from inside foreachBatch. No row
    reaches the driver; the only driver-side state is the routing
    watermark, one max() aggregate per batch. The main computation
    then runs over the on-time parquet as a batch or follow-on
    streaming stage (kept outside this function: the sink is the
    handoff point, like the reference's side-output tag splitting a
    pipeline).

    Routing rule: a row of batch N is late when its event time is
    below max(event time through batch N-1) - ``delay_seconds``, the
    watermark Spark reports for batch N; batch 0 has no late rows.
    Spark itself is one batch slower: a watermarked aggregation drops
    the rows of batch N that are below the watermark in force during
    batch N-1 (``eventTimeWatermarkForLateEvents``). So the late leg
    holds every row Spark would drop, plus the rows Spark still
    accepts in that one batch of grace (test-asserted: the late leg
    contains every row ``numRowsDroppedByWatermark`` counts; on a
    late-heavy replay it holds more).

    Returns {"on_time": path, "late": path}.

    Restart semantics (ADVICE r4): each leg is written into its own
    ``_bid=<micro-batch id>`` partition directory with overwrite, so a
    replayed batch replaces exactly its own partition in both legs
    instead of re-appending — effectively-once rows per batch when
    ``checkpoint_dir`` is set. The running watermark is NOT
    driver-memory-only: on (re)start it is rebuilt from the sink
    itself — max event ts across both legs minus the delay — which
    dominates the pre-crash watermark because every processed batch's
    rows live in the sink. A replayed batch may therefore route
    against a watermark >= the one it originally saw; that is within
    the watermark contract (the watermark is a lower bound — any row
    below it MAY be routed late), and routing inside one batch stays
    deterministic. Readers should ignore the ``_bid`` partition
    column.
    """
    import os

    spark = raw_sdf.sparkSession
    on_time_path = os.path.join(out_dir, "on_time")
    late_path = os.path.join(out_dir, "late")
    delay_us = int(delay_seconds * 1_000_000)

    def _sink_max_ts_us(path: str):
        if not _hadoop_path_exists(spark, path):
            return None  # first run: the sink does not exist yet
        try:
            df = spark.read.parquet(path)
        except AnalysisException as e:
            # only a crashed first write's _temporary dir: no rows
            if e.getCondition() == "UNABLE_TO_INFER_SCHEMA":
                return None
            raise
        if ts_col not in df.columns:
            return None
        return df.agg(F.max(F.unix_micros(F.col(ts_col)))).first()[0]

    prior = [m for m in (_sink_max_ts_us(on_time_path),
                         _sink_max_ts_us(late_path)) if m is not None]
    holder: dict = {"wm_us": max(prior) - delay_us if prior else None}

    def _route(batch_df: DataFrame, bid: int) -> None:
        wm = holder["wm_us"]
        ts_us = F.unix_micros(F.col(ts_col))
        if wm is None:
            ontime, late = batch_df, batch_df.limit(0)
        else:
            late = batch_df.where(ts_us < F.lit(wm))
            ontime = batch_df.where(ts_us >= F.lit(wm))
        # write each leg DIRECTLY into its _bid=<id> partition
        # directory with overwrite — not partitionBy + dynamic
        # overwrite, which only replaces partitions PRESENT IN THE
        # OUTPUT: a replayed batch whose re-routing leaves one leg
        # empty would then keep that leg's stale rows and the batch
        # would exist in both legs at once. A direct overwrite
        # replaces the partition even with an empty frame (schema-only
        # parquet), so a replay always fully supersedes both legs.
        # Hive-style dir names keep _bid a discoverable partition
        # column for readers (who ignore it).
        for leg, path in ((ontime, on_time_path), (late, late_path)):
            (leg.write.mode("overwrite")
             .parquet(os.path.join(path, f"_bid={int(bid)}")))
        mx = batch_df.agg(F.max(ts_us)).first()[0]
        if mx is not None:
            new_wm = mx - delay_us
            holder["wm_us"] = new_wm if wm is None else max(wm, new_wm)

    w = (raw_sdf.writeStream.outputMode("append")
         .foreachBatch(_route)
         .trigger(availableNow=True))
    if checkpoint_dir is not None:
        w = w.option("checkpointLocation", checkpoint_dir)
    q = w.start()
    q.awaitTermination()
    return {"on_time": on_time_path, "late": late_path}


def run_topn_to_parquet(
    counts_sdf: DataFrame,
    n: int,
    order_cols,
    out_dir: str,
    partition_cols=("window_end_us",),
    checkpoint_dir: str | None = None,
) -> str:
    """PRODUCTION T1/T2 sink: per complete-mode batch, the re-ranked
    top-N is UPSERTED into a parquet table partitioned by window —
    dynamic partition overwrite replaces exactly the window
    partitions present in the batch (a late count update re-fires
    its window and overwrites just that partition, matching
    HotPage's MapState upsert + re-emit at HotPage.java:160), and
    closed windows' partitions are left untouched.  No driver
    collect anywhere; readers see each window's latest ranking.

    Returns the sink path.
    """
    def _rank(batch_df: DataFrame, _bid: int) -> None:
        ranked = top_n_per_window(
            batch_df, n, partition_cols=partition_cols,
            order_cols=order_cols, rank_alias="rnk",
        )
        (ranked.write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy(*partition_cols)
         .parquet(out_dir))

    w = (counts_sdf.writeStream.outputMode("complete")
         .foreachBatch(_rank)
         .trigger(availableNow=True))
    if checkpoint_dir is not None:
        w = w.option("checkpointLocation", checkpoint_dir)
    q = w.start()
    q.awaitTermination()
    return out_dir


# ------------------------------------------------------------------ table

@dataclass(frozen=True)
class Twin:
    """A streaming twin: ``body`` applied to ``source``'s replay stream.

    mode:    the output mode of a bounded drain.
    batch:   a ``queries.QUERIES`` name, or a ``(spark, sf_dir)``
             function where no registered query is the batch form.
    cols:    the columns compared.
    rule:    ``exact`` (equal multisets); ``composed`` (exact after
             ``compose``); ``closed_keys`` (every emitted decision is
             its key's batch decision, and every ``payed`` one, which
             needs no timer, is emitted); ``matched_exact`` (matched
             rows equal, unmatched rows a subset: they fire once the
             watermark passes their deadline); or ``decided_lefts``
             (emitted rows a subset, every left below the final
             watermark emitted).
    compose: maps the drained table to the batch twin's output (a
             re-aggregation, a rank, a rename), or None.
    why:     why ``body`` is not the batch query's own frame function.
    """

    body: Callable[[DataFrame], DataFrame]
    mode: str
    batch: str | Callable[[SparkSession, str], DataFrame]
    cols: tuple[str, ...]
    rule: str = "exact"
    compose: Callable[[DataFrame], DataFrame] | None = None
    source: Callable[[SparkSession, str], DataFrame] = stream_events
    why: str = ""

    def build(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        """The unstarted streaming DataFrame over ``sf_dir``'s replay."""
        return self.body(self.source(spark, sf_dir))

    def batch_frame(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        return (QUERIES.get(self.batch) or self.batch)(spark, sf_dir)


def _batch_of(body: Callable[[DataFrame], DataFrame], table: str = "events"):
    """``body`` over the batch table: the batch twin where no registered
    query is ``body`` alone (the registered one ranks or trims it)."""
    return lambda spark, sf_dir: body(load_table(ensure_utc(spark), sf_dir,
                                                 table))


def _asof_as_batch(drained: DataFrame) -> DataFrame:
    return drained.select(
        "user_id", F.col("left_id").alias("purchase_id"),
        F.col("left_us").alias("purchase_us"),
        F.col("right_id").alias("view_id"), F.col("right_us").alias("view_us"))


_STATE_MACHINE = ("a keyed state machine (streaming/stateful.py): the "
                  "batch twin's window or join form does not stream")

# name -> Twin: drain run_available_now(twin.build(spark, sf_dir),
# twin.mode), or writeStream it with your own sink and trigger. A new
# twin needs an entry (tests/test_streaming_split.py checks).
STREAMING_QUERIES: dict[str, Twin] = {
    "hot_items_counts": Twin(hot_item_counts, "complete",
                             _batch_of(hot_item_counts),
                             ("window_end_us", "item_id", "cnt")),
    "page_views": Twin(page_view_counts, "complete", "page_views",
                       ("window_end_us", "pv")),
    "unique_visitors": Twin(
        unique_visitors_stream, "complete", "unique_visitors",
        ("window_end_us", "uv"),
        why="count_distinct, the batch form's aggregate, does not stream"),
    "marketing_by_channel": Twin(
        channel_behavior_counts, "complete", "marketing_by_channel",
        ("window_end_us", "channel", "behavior", "cnt")),
    # session_id, a rank over each user's sessions, does not stream
    "sessionize": Twin(
        partial(session_aggregate, key_cols=["user_id"], ts_col="ts",
                gap_seconds=SESSION_GAP_S),
        "complete", "sessionize_users",
        ("user_id", "session_start_us", "session_end_us", "n_events")),
    "exact_dedup": Twin(exact_dedup, "complete", "dedup_exact",
                        ("fingerprint", "keeper_id", "n_docs"),
                        source=_documents),
    "curation": Twin(curation_head, "complete",
                     _batch_of(curation_head, "documents"),
                     ("fingerprint", "keeper_id", "n_docs"), source=_documents),
    "tx_interval_join": Twin(
        tx_interval_join_stream, "append", "tx_interval_join",
        ("user_id", "item_id", "pay_us", "receipt_us"), source=_raw_events,
        why="Spark evicts stream-stream join state only for a band on the "
            "watermarked timestamps themselves; over interval_join's "
            "unix_micros band it evicts none"),
    "funnel_step_events": Twin(
        funnel_step_events_stream, "append", "funnel_conversion",
        ("step_idx", "step", "n_users", "conversion"), "composed",
        compose=partial(funnel, steps=list(FUNNEL_STEPS),
                        within=FUNNEL_WITHIN),
        source=_raw_events,
        why="the batch funnel reads every event; the stream keeps only "
            "the distinct step events its re-aggregation needs"),
    "user_weeks": Twin(
        user_week_activity, "append", "retention_weekly",
        ("cohort_week", "week_offset", "n_active", "cohort_size",
         "retention"), "composed",
        compose=partial(retention_from_user_weeks,
                        max_weeks=RETENTION_MAX_WEEKS),
        source=_raw_events),
    "user_days": Twin(
        user_day_activity, "append", "dau_stickiness",
        ("day", "dau", "wau", "stickiness"), "composed",
        compose=dau_stickiness_from_user_days, source=_raw_events),
    "props_counts": Twin(
        props_k_counts, "complete", "props_topk",
        ("event_type", "k", "n", "rnk"), "composed", compose=props_top5,
        source=_raw_events),
    "consecutive_fail": Twin(
        partial(consecutive_fail_stateful, n=LOGIN_FAIL_N,
                within_seconds=LOGIN_FAIL_SPAN_S),
        "append", "login_fail", ("user_id", "first_fail_us", "last_fail_us"),
        why=_STATE_MACHINE),
    "cap_filter": Twin(
        partial(cap_filter_stateful, cap=BL_CAP, behavior_col="event_type"),
        "append", "blacklist_warnings",
        ("user_id", "behavior", "day", "warning_msg"), why=_STATE_MACHINE),
    "reconcile": Twin(
        partial(reconcile_stateful, lower_seconds=IJ_LO_S,
                upper_seconds=IJ_HI_S),
        "append", "tx_match",
        ("kind", "user_id", "item_id", "pay_us", "receipt_us"),
        "matched_exact", source=_item_events, why=_STATE_MACHINE),
    "order_timeout": Twin(
        partial(order_timeout_stateful, timeout_seconds=ORDER_TIMEOUT_S),
        "append", "order_timeout",
        ("user_id", "item_id", "create_us", "pay_us", "result_state"),
        "closed_keys", source=_item_events, why=_STATE_MACHINE),
    "asof": Twin(
        partial(asof_stateful, left_value="purchase", right_value="view"),
        "append", "purchase_asof_view",
        ("user_id", "purchase_id", "purchase_us", "view_id", "view_us"),
        "decided_lefts", compose=_asof_as_batch, why=_STATE_MACHINE),
}

# the A1 count stream under the name the benchmark imports
hot_items_counts_stream = STREAMING_QUERIES["hot_items_counts"].build
