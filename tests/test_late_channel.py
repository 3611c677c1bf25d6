"""The two streaming sinks: the late-row side channel (SURVEY section 4
custom work; reference HotPage.java:66,76-77) and the top-N sink.

- Replay events out of order across two files so the second batch
  carries rows older than the watermark, and assert they land in the
  ``late`` leg while the batch recompute over the ``on_time`` leg
  equals the recompute over the on-time rows.
- On a three-file late-heavy replay, every row a watermarked Spark
  aggregation drops is in the late leg.
- Restarts overwrite each batch's partitions instead of duplicating.
- ``foreachBatch(`` appears in the package only in the sinks and the
  other named runners, so no driver-collect twin of a sink can come
  back unnoticed.
"""

import glob
import os
import random
import shutil
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from flink_user_behavior_analysis_spark.operators import windowed_count
from flink_user_behavior_analysis_spark.sources import (
    file_replay_stream,
    load_table,
)
from flink_user_behavior_analysis_spark.streaming import (
    run_with_late_channel_to_parquet,
)

from .package_ast import calls

DELAY_S = 3600  # allowed lateness: 1 hour


def _two_file_replay_dir(spark, sf_dir, tmp_path):
    """Split events into two parquet files replayed in order: file 0
    (most rows, includes the global max ts), then file 1 (a sample
    spread over the whole time range — its old rows arrive 'late')."""
    ev = load_table(spark, sf_dir, "events")
    first = ev.where(F.col("event_id") % 5 != 0)
    second = ev.where(F.col("event_id") % 5 == 0)
    stream_dir = tmp_path / "replay"
    stream_dir.mkdir()
    for i, part in enumerate((first, second)):
        out = tmp_path / f"stage_{i}"
        part.coalesce(1).write.parquet(str(out))
        (src,) = glob.glob(str(out / "part-*.parquet"))
        dst = stream_dir / f"{i:02d}.parquet"
        shutil.copy(src, dst)
        # FileStreamSource drains oldest-mtime first — pin the order
        os.utime(dst, (1_000_000 + i * 1000, 1_000_000 + i * 1000))
    return stream_dir, first, second


def _compute(on_time):
    return windowed_count(
        on_time.where(F.col("event_type") == "click"),
        "ts", ["user_id"], "1 hour", "1 hour",
    )


def _key(df):
    return sorted((r.window_end_us, r.user_id, r.cnt) for r in df.collect())


def test_late_rows_routed_to_side_channel(spark, sf_dir, tmp_path):
    stream_dir, first, second = _two_file_replay_dir(spark, sf_dir, tmp_path)
    raw = (
        spark.readStream.schema(first.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(stream_dir))
    )

    paths = run_with_late_channel_to_parquet(
        raw, DELAY_S, str(tmp_path / "sink"),
        checkpoint_dir=str(tmp_path / "ckpt"))

    # expected late set: batch-2 rows older than wm = max ts(batch 1) - delay
    max_us_1 = first.agg(F.max(F.unix_micros("ts"))).first()[0]
    wm_us = max_us_1 - DELAY_S * 1_000_000
    expect_late = {
        r.event_id
        for r in second.where(F.unix_micros("ts") < F.lit(wm_us)).collect()
    }
    got_late = [r.event_id
                for r in spark.read.parquet(paths["late"]).collect()]
    assert sorted(got_late) == sorted(expect_late)
    assert got_late, "replay should produce late rows (else the test is vacuous)"

    # recompute over the on-time leg == recompute over exactly the
    # on-time rows (the _bid partition column is ignored)
    on_time = first.unionByName(
        second.where(F.unix_micros("ts") >= F.lit(wm_us))
    )
    assert _key(_compute(spark.read.parquet(paths["on_time"]))) == \
        _key(_compute(on_time))


def test_late_leg_holds_every_row_spark_drops(spark, tmp_path):
    """Three files, late-heavy: 100 rows, then two files of 60 rows
    spread over the same five hours. A watermarked aggregation drops
    the rows of batch N below the watermark in force during batch
    N-1; the router routes batch N against max(ts through N-1) -
    delay, one batch earlier. So every row Spark drops must be in the
    late leg. The aggregation keys on (1-minute window, event_id) in
    update mode, so each accepted row shows up in the output and the
    dropped rows are the ones missing from it."""
    rng = random.Random(7)
    t0 = datetime(2024, 1, 1)
    files = [[(1000 * f + i, t0 + timedelta(seconds=rng.randrange(5 * 3600)))
              for i in range(n)] for f, n in enumerate((100, 60, 60))]
    schema = "event_id long, ts timestamp"
    stream_dir = tmp_path / "replay"
    for f, rows in enumerate(files):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(stream_dir / f"f{f}"))
        # FileStreamSource drains oldest-mtime first — pin the order
        for p in glob.glob(str(stream_dir / f"f{f}" / "*")):
            os.utime(p, (1_000_000 + f * 1000, 1_000_000 + f * 1000))

    def raw():
        return (spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", "1")
                .parquet(str(stream_dir / "*")))

    agg = (raw().withWatermark("ts", f"{DELAY_S} seconds")
           .groupBy(F.window("ts", "1 minute"), "event_id").count())
    q = (agg.writeStream.format("memory").queryName("late_leg_wm_agg")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination()
    n_dropped = sum(op.numRowsDroppedByWatermark
                    for p in q.recentProgress for op in p.stateOperators)
    accepted = {r.event_id
                for r in spark.table("late_leg_wm_agg").collect()}
    dropped = {i for rows in files for i, _ in rows} - accepted
    assert n_dropped > 0, "vacuous: the aggregation dropped no rows"
    assert len(dropped) == n_dropped

    paths = run_with_late_channel_to_parquet(
        raw(), DELAY_S, str(tmp_path / "sink"))
    late = {r.event_id for r in spark.read.parquet(paths["late"]).collect()}
    assert dropped <= late


def test_late_channel_parquet_sink_replay_is_idempotent(spark, sf_dir,
                                                        tmp_path):
    """ADVICE r4: a full replay into the same sink (fresh checkpoint,
    same batch ids — the restart-after-crash shape) must not duplicate
    rows: each leg partitions by batch id and dynamically overwrites
    its own partitions, and the watermark is rebuilt from the sink, so
    after the rerun the two legs still hold the input exactly once."""
    stream_dir, first, second = _two_file_replay_dir(spark, sf_dir, tmp_path)

    def raw():
        return (
            spark.readStream.schema(first.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(stream_dir))
        )

    sink = str(tmp_path / "sink_replay")
    paths = run_with_late_channel_to_parquet(
        raw(), DELAY_S, sink, checkpoint_dir=str(tmp_path / "ckpt_a"))
    first_run = {
        leg: sorted(r.event_id for r in
                    spark.read.parquet(p).collect())
        for leg, p in paths.items()
    }
    all_ids = sorted(first_run["on_time"] + first_run["late"])
    want_ids = sorted(
        r.event_id for r in first.unionByName(second).collect())
    assert all_ids == want_ids  # exactly once, no dups, nothing lost

    # crash-replay: same sink, FRESH checkpoint -> batches re-run with
    # the same ids; the watermark starts from the sink's max ts
    paths2 = run_with_late_channel_to_parquet(
        raw(), DELAY_S, sink, checkpoint_dir=str(tmp_path / "ckpt_b"))
    rerun_ids = sorted(
        [r.event_id for r in spark.read.parquet(paths2["on_time"]).collect()]
        + [r.event_id for r in spark.read.parquet(paths2["late"]).collect()])
    assert rerun_ids == want_ids, "replay duplicated or dropped rows"
    # recovered watermark >= original: late leg can only grow
    assert (len([r for r in
                 spark.read.parquet(paths2["late"]).collect()])
            >= len(first_run["late"]))


def test_topn_parquet_sink_upserts_per_window(spark, sf_dir, tmp_path):
    """Production T1/T2 sink: the dynamically-overwritten parquet
    table holds the final late-update-safe ranking — equal to the
    batch hot_items query — partitioned one directory per window."""
    import glob as _glob

    from flink_user_behavior_analysis_spark import queries as Q
    from flink_user_behavior_analysis_spark.streaming import (
        hot_items_counts_stream,
        run_topn_to_parquet,
    )

    out = run_topn_to_parquet(
        hot_items_counts_stream(spark, sf_dir), 3,
        order_cols=[F.col("cnt").desc(), F.col("item_id").asc()],
        out_dir=str(tmp_path / "topn"),
        checkpoint_dir=str(tmp_path / "ckpt_topn"))
    got = spark.read.parquet(out)
    want = Q.QUERIES["hot_items"](spark, sf_dir)
    key = lambda df: sorted(
        (r.window_end_us, r.item_id, r.cnt, int(r.rnk)) for r in df.collect()
    )
    assert key(got) == key(want)
    # keyed layout: one partition directory per window
    assert _glob.glob(os.path.join(out, "window_end_us=*"))


def test_late_channel_empty_when_delay_covers_disorder(spark, sf_dir, tmp_path):
    """With allowed lateness wider than the replay's disorder, nothing
    is late and the result equals the full batch query."""
    stream_dir, first, second = _two_file_replay_dir(spark, sf_dir, tmp_path)
    raw = (
        spark.readStream.schema(first.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(stream_dir))
    )
    span_us = load_table(spark, sf_dir, "events").agg(
        F.max(F.unix_micros("ts")) - F.min(F.unix_micros("ts"))
    ).first()[0]

    paths = run_with_late_channel_to_parquet(
        raw, span_us / 1_000_000 + 1, str(tmp_path / "sink"),
        checkpoint_dir=str(tmp_path / "ckpt"))
    assert spark.read.parquet(paths["late"]).count() == 0
    want = _compute(load_table(spark, sf_dir, "events"))
    assert _key(_compute(spark.read.parquet(paths["on_time"]))) == _key(want)


def test_late_channel_start_reads_committed_legs_only(spark, sf_dir,
                                                     tmp_path):
    """A start rebuilds the watermark from the sink legs. A leg holding
    only the ``_temporary`` dir of a crashed first write has no
    committed rows, so the run starts with no watermark; a leg that
    cannot be read fails the start (a fallback to no watermark would
    route every replayed row on time)."""
    def run(sink, leftover, payload):
        leftover.mkdir(parents=True)
        (leftover / "part-00000.parquet").write_bytes(payload)
        return run_with_late_channel_to_parquet(
            file_replay_stream(spark, sf_dir, "events"), DELAY_S, str(sink))

    a = tmp_path / "a"
    paths = run(a, a / "on_time" / "_bid=0" / "_temporary" / "0", b"half")
    assert spark.read.parquet(paths["late"]).count() == 0
    assert (spark.read.parquet(paths["on_time"]).count()
            == load_table(spark, sf_dir, "events").count())
    b = tmp_path / "b"
    with pytest.raises(Exception, match="(?i)parquet|footer|magic"):
        run(b, b / "on_time" / "_bid=0", b"not a parquet file")
    assert not (b / "late").exists()


def test_late_channel_replay_clears_emptied_leg(spark, tmp_path):
    """The empty-leg replay hole: batch 0 is all-OLD rows, so on the
    crash-replay (watermark rebuilt from the sink) it routes ENTIRELY
    late — the on_time leg's _bid=0 partition must be emptied, not
    left holding the first run's copies. Dynamic partition overwrite
    cannot do this (an empty output overwrites nothing); the sink
    writes each leg's partition directory directly so a replay fully
    supersedes both legs."""
    t0 = datetime(2024, 1, 1)
    old = spark.createDataFrame(
        [(i, t0 + timedelta(minutes=i)) for i in range(5)],
        "event_id long, ts timestamp")
    new = spark.createDataFrame(
        [(100 + i, t0 + timedelta(hours=2, minutes=i)) for i in range(5)],
        "event_id long, ts timestamp")
    stream_dir = tmp_path / "stream"
    stream_dir.mkdir()
    old.coalesce(1).write.parquet(str(stream_dir / "a"))
    new.coalesce(1).write.parquet(str(stream_dir / "b"))
    # one file per trigger, lexicographic arrival: a (old) then b (new)
    def run(ckpt):
        return run_with_late_channel_to_parquet(
            spark.readStream.schema(old.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(stream_dir) + "/*"),
            3600, str(tmp_path / "sink"),
            checkpoint_dir=str(tmp_path / ckpt))

    run("ckpt1")
    paths = run("ckpt2")   # fresh checkpoint = crash replay, same sink
    on_ids = sorted(r.event_id
                    for r in spark.read.parquet(paths["on_time"]).collect())
    late_ids = sorted(r.event_id
                      for r in spark.read.parquet(paths["late"]).collect())
    want = sorted(r.event_id for r in old.unionByName(new).collect())
    assert sorted(on_ids + late_ids) == want, (
        "replay duplicated rows across legs")
    assert set(on_ids).isdisjoint(late_ids)
    # and the replay really did flip batch 0: the old rows are late now
    assert set(late_ids) == {0, 1, 2, 3, 4}


def test_late_channel_parquet_sink_crash_mid_batch_recovery(
        spark, sf_dir, tmp_path):
    """VERDICT r5 #8 (adversarial restart): simulate a crash DURING
    the final batch — the checkpoint never recorded its commit (here:
    a checkpoint snapshot taken before the batch, which is the
    recovery-equivalent state: batch ids continue deterministically
    from the last commit), and the crashed attempt already overwrote
    ONE leg's _bid=N partition with its own (corrupted, duplicated)
    rows before dying between the two leg writes. After a restart,
    the replayed batch must fully supersede BOTH legs' _bid=N
    partitions: the sink equals the clean final snapshot exactly —
    effectively-once per batch, no duplicates, no stale
    half-written leg. (The commit log is not mutated in place:
    Spark 4's metadata-log cache flags that as concurrent use.)"""
    stream_dir, first, second = _two_file_replay_dir(spark, sf_dir, tmp_path)

    def raw():
        return (
            spark.readStream.schema(first.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(stream_dir))
        )

    sink = str(tmp_path / "sink_crash")
    ckpt = str(tmp_path / "ckpt_crash")
    ckpt_pre = str(tmp_path / "ckpt_pre_final")

    # phase 1: only file 0 exists -> batch 0 commits; snapshot the
    # checkpoint in this state (= the on-disk state a crash during
    # batch 1 leaves behind, minus the uncommitted offsets entry)
    stage2 = stream_dir / "01.parquet"
    held_back = tmp_path / "01.parquet.held"
    os.rename(stage2, held_back)
    run_with_late_channel_to_parquet(
        raw(), DELAY_S, sink, checkpoint_dir=ckpt)
    shutil.copytree(ckpt, ckpt_pre)

    # phase 2: file 1 arrives -> batch 1 commits; the clean final state
    os.rename(held_back, stage2)
    paths = run_with_late_channel_to_parquet(
        raw(), DELAY_S, sink, checkpoint_dir=ckpt)
    snap = {
        leg: sorted(r.event_id for r in spark.read.parquet(p).collect())
        for leg, p in paths.items()
    }
    assert snap["late"], "vacuous: replay produced no late rows"

    # the crashed attempt's partial work: on_time/_bid=1 overwritten
    # with duplicated rows (a superset/garbage state), late leg stale
    second.limit(50).write.mode("overwrite").parquet(
        os.path.join(paths["on_time"], "_bid=1"))
    assert (sorted(r.event_id
                   for r in spark.read.parquet(paths["on_time"]).collect())
            != snap["on_time"]), "corruption must be visible pre-restart"

    # restart from the pre-final checkpoint: batch 1 replays (same
    # deterministic bid — last commit is 0, same pending file) and
    # must overwrite BOTH legs' _bid=1 partitions
    paths2 = run_with_late_channel_to_parquet(
        raw(), DELAY_S, sink, checkpoint_dir=ckpt_pre)
    got = {
        leg: sorted(r.event_id for r in spark.read.parquet(p).collect())
        for leg, p in paths2.items()
    }
    assert got == snap


def test_foreach_batch_only_in_the_runners():
    """Each streaming delivery pattern has one runner: a second
    ``foreachBatch`` loop (say, a driver-collect twin of a sink) fails
    here until it is named."""
    assert calls("foreachBatch") == [
        ("operators/sketches.py", "cms_merge_stream"),
        ("streaming/jobs.py", "run_ingest_foreach_batch"),
        ("streaming/jobs.py", "run_probe_foreach_batch"),
        ("streaming/jobs.py", "run_topn_to_parquet"),
        ("streaming/jobs.py", "run_with_late_channel_to_parquet"),
    ]
