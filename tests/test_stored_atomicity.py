"""Crash-atomicity of stored-index builds (VERDICT r6 #2).

Every multi-table *_store_* builder writes a ``{prefix}_manifest``
table LAST; every stored-twin query gates on
``sources.readers.index_ready`` (manifest exists AND every listed
artifact exists) instead of probing one mid-build artifact. These
tests simulate the two failure shapes a tableExists-on-one-artifact
gate could not survive:

1. crash BETWEEN artifact writes — some artifacts exist, no manifest;
2. an artifact table lost AFTER a successful build — manifest
   present but stale.

In both cases the gated query must REBUILD and return the same
hash-green result, not fail permanently.
"""

from __future__ import annotations

import pytest

from flink_user_behavior_analysis_spark.sources.readers import (
    index_ready,
    write_manifest,
)

from .package_ast import calls


def _drop(spark, table: str) -> None:
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def _drop_prefix(spark, prefix: str) -> None:
    for t in spark.catalog.listTables():
        if t.name.startswith(prefix):
            _drop(spark, t.name)


@pytest.mark.parametrize("step", ["invalidate_manifest", "write_manifest",
                                  "clear_append_ledger", "record_append"])
def test_commit_protocol_steps_only_in_readers(step):
    """Every stored family commits through sources/readers.py
    (index_commit, begin_append, commit_append, record_batch): no
    other module writes or drops a manifest or touches the append
    ledger, so the protocol exists once."""
    assert {m for m, _ in calls(step)} == {"sources/readers.py"}


def test_index_ready_requires_manifest_and_listed_tables(spark):
    prefix = "t_atom_unit"
    _drop_prefix(spark, prefix)
    assert not index_ready(spark, prefix)
    # manifest listing a table that does not exist -> not ready
    write_manifest(spark, prefix, [f"{prefix}_part_a"])
    assert not index_ready(spark, prefix)
    spark.createDataFrame([(1,)], "x LONG").write.mode(
        "overwrite").format("parquet").saveAsTable(f"{prefix}_part_a")
    assert index_ready(spark, prefix)
    # losing a listed artifact after commit -> not ready again
    _drop(spark, f"{prefix}_part_a")
    assert not index_ready(spark, prefix)
    _drop_prefix(spark, prefix)


@pytest.mark.parametrize("lost", ["manifest", "artifact"])
def test_bm25_stored_query_rebuilds_after_partial_build(
        spark, sf_dir, lost):
    """End-to-end through the registered stored-twin gate: build the
    bm25 artifacts for this sf, then simulate (a) a crash before the
    manifest write by dropping the manifest, or (b) a lost artifact
    with a surviving manifest by dropping the tf table — in both
    cases the registered query must rebuild and produce the same
    rows as a clean build."""
    from flink_user_behavior_analysis_spark.queries_pipeline import (
        _artifact_tag,
        q_bm25_topk_stored,
    )

    prefix = f"bm25_{_artifact_tag(sf_dir)}"
    _drop_prefix(spark, prefix)

    clean = sorted(map(tuple, q_bm25_topk_stored(spark, sf_dir).collect()))
    assert index_ready(spark, prefix)

    if lost == "manifest":
        _drop(spark, f"{prefix}_manifest")  # crash-before-commit shape
    else:
        _drop(spark, f"{prefix}_tf")  # artifact lost post-commit
    assert not index_ready(spark, prefix)

    again = sorted(map(tuple, q_bm25_topk_stored(spark, sf_dir).collect()))
    assert again == clean
    assert index_ready(spark, prefix)
    _drop_prefix(spark, prefix)


def test_rebuild_crash_invalidates_stale_manifest(spark, sf_dir,
                                                  monkeypatch):
    """REBUILD crash-atomicity: a builder re-run over an existing good
    index must drop the old manifest BEFORE overwriting any artifact.
    Otherwise a crash mid-rebuild (new tf, old dl/df/consts) leaves
    the stale manifest listing tables that all still exist — a
    mixed-generation index that index_ready would trust forever.
    Simulated by making the SECOND artifact write raise after the
    first succeeded."""
    from flink_user_behavior_analysis_spark.operators.text import (
        bm25_store_index,
    )
    from flink_user_behavior_analysis_spark.queries_pipeline import _docs
    from flink_user_behavior_analysis_spark.sources import readers

    prefix = "t_atom_rebuild"
    docs = _docs(spark, sf_dir).limit(50)
    _drop_prefix(spark, prefix)
    bm25_store_index(docs, prefix)
    assert index_ready(spark, prefix)

    orig = readers.write_bucketed
    calls = {"n": 0}

    def crashing(df, table, *a, **kw):
        calls["n"] += 1
        if calls["n"] == 2:  # first artifact overwritten, then crash
            raise RuntimeError("simulated crash mid-rebuild")
        return orig(df, table, *a, **kw)

    monkeypatch.setattr(readers, "write_bucketed", crashing)
    with pytest.raises(RuntimeError, match="simulated crash"):
        bm25_store_index(docs, prefix)
    monkeypatch.setattr(readers, "write_bucketed", orig)

    # every artifact the stale manifest would list still exists, but
    # the invalidate-first bracket means the index reads NOT ready
    for s in ("tf", "dl", "df", "consts"):
        assert spark.catalog.tableExists(f"{prefix}_{s}")
    assert not index_ready(spark, prefix)

    # and a clean re-run recovers
    bm25_store_index(docs, prefix)
    assert index_ready(spark, prefix)
    _drop_prefix(spark, prefix)


def test_semdedup_stale_model_invalidates_stored_cells(spark, sf_dir):
    """The SemDeDup cells table is only valid under the centroid model
    that assigned it. A refit model (e.g. the centroid artifact file
    deleted and regenerated from different data) must read as
    NOT-current so the gate rebuilds, even though every artifact
    table and the manifest still exist."""
    from flink_user_behavior_analysis_spark.operators.similarity import (
        semdedup_index_current,
        semdedup_store_corpus,
    )
    from flink_user_behavior_analysis_spark.queries_pipeline import _embs

    prefix = "t_atom_semdd"
    _drop_prefix(spark, prefix)
    embs = _embs(spark, sf_dir).limit(40)
    d = len(embs.select("embedding").first()[0])
    cents_a = [[1.0] + [0.0] * (d - 1), [0.0, 1.0] + [0.0] * (d - 2)]
    semdedup_store_corpus(embs, cents_a, prefix)
    assert semdedup_index_current(spark, prefix, cents_a)
    # same shape, different values -> stale
    cents_b = [[0.5] + [0.0] * (d - 1), [0.0, 1.0] + [0.0] * (d - 2)]
    assert not semdedup_index_current(spark, prefix, cents_b)
    # manifest itself is still committed — only the identity differs
    assert index_ready(spark, prefix)
    _drop_prefix(spark, prefix)


def test_ivfpq_append_batch_id_is_exactly_once(spark, sf_dir,
                                               monkeypatch):
    """The exactly-once ingestion contract: a batch_id-keyed append
    that is re-delivered must not duplicate rows — whether the first
    attempt COMMITTED (ledger hit -> no-op) or CRASHED between the
    data write and the ledger write (retry dynamic-overwrites the
    same (cell, batch) partitions)."""
    from pyspark.sql import functions as F

    from flink_user_behavior_analysis_spark.operators.similarity import (
        ivfpq_append_to_index,
        ivfpq_store_index,
    )
    from flink_user_behavior_analysis_spark.queries_pipeline import _embs
    from flink_user_behavior_analysis_spark.sources import readers

    prefix = "t_ivfpq_once"
    _drop_prefix(spark, prefix)
    embs = _embs(spark, sf_dir).select("vec_id", "embedding")
    base = embs.where(F.abs(F.xxhash64("vec_id") % 10) >= 3)
    extra = embs.where(F.abs(F.xxhash64("vec_id") % 10) < 3)
    ivfpq_store_index(base, prefix, n_centroids=8, m=8, codes=16)
    n_base = spark.table(f"{prefix}_codes").count()

    # crash AFTER the data write, BEFORE the ledger write
    orig = readers.record_append

    def crashing(spark_, prefix_, batch_id_):
        raise RuntimeError("simulated crash before ledger")

    monkeypatch.setattr(readers, "record_append", crashing)
    with pytest.raises(RuntimeError, match="before ledger"):
        ivfpq_append_to_index(spark, prefix, extra, batch_id="b1")
    monkeypatch.setattr(readers, "record_append", orig)
    n_extra = extra.count()
    # data landed but batch is not committed
    assert spark.table(f"{prefix}_codes").count() == n_base + n_extra
    assert not readers.append_recorded(spark, prefix, "b1")

    # retry: overwrites the same (cell, b1) partitions — no dup
    n = ivfpq_append_to_index(spark, prefix, extra, batch_id="b1")
    assert n == n_extra
    assert spark.table(f"{prefix}_codes").count() == n_base + n_extra
    assert readers.append_recorded(spark, prefix, "b1")

    # re-delivery after commit: ledger hit, clean no-op
    assert ivfpq_append_to_index(spark, prefix, extra,
                                 batch_id="b1") == 0
    assert spark.table(f"{prefix}_codes").count() == n_base + n_extra
    # ids unique across the whole table
    assert spark.table(f"{prefix}_codes").select("vec_id") \
        .distinct().count() == n_base + n_extra
    _drop_prefix(spark, prefix)


def test_rebuild_clears_append_ledger(spark, sf_dir):
    """A REBUILD starts a new generation containing only the source
    corpus — appended batches' data is gone, so their ledger entries
    must go too, or an at-least-once re-delivery would be skipped
    and the loss made permanent. (Compaction is the opposite case:
    it absorbs batch data, so its test asserts the ledger
    SURVIVES.)"""
    from pyspark.sql import functions as F

    from flink_user_behavior_analysis_spark.operators.similarity import (
        ivfpq_append_to_index,
        ivfpq_store_index,
    )
    from flink_user_behavior_analysis_spark.queries_pipeline import _embs
    from flink_user_behavior_analysis_spark.sources import readers

    prefix = "t_ivfpq_regen"
    _drop_prefix(spark, prefix)
    embs = _embs(spark, sf_dir).select("vec_id", "embedding")
    base = embs.where(F.abs(F.xxhash64("vec_id") % 10) >= 3)
    extra = embs.where(F.abs(F.xxhash64("vec_id") % 10) < 3)
    ivfpq_store_index(base, prefix, n_centroids=8, m=8, codes=16)
    assert ivfpq_append_to_index(spark, prefix, extra,
                                 batch_id="g1") > 0
    assert readers.append_recorded(spark, prefix, "g1")

    # rebuild from the base corpus only — g1's data is gone
    ivfpq_store_index(base, prefix, n_centroids=8, m=8, codes=16)
    assert not readers.append_recorded(spark, prefix, "g1"), (
        "stale ledger entry survived the rebuild — re-delivery of g1 "
        "would be skipped and its data permanently lost")
    # re-delivery now lands
    n = ivfpq_append_to_index(spark, prefix, extra, batch_id="g1")
    assert n == extra.count() and n > 0
    _drop_prefix(spark, prefix)


def test_clear_append_ledger_surfaces_cleared_batch_ids(spark):
    """ADVICE r7: a rebuild discards committed batches, so the
    delivery source must re-deliver them — the clear must RETURN the
    dropped ids (and log them) instead of silently erasing the only
    record of what was lost."""
    from flink_user_behavior_analysis_spark.sources import readers

    prefix = "t_ledger_surface"
    spark.sql(f"DROP TABLE IF EXISTS {prefix}_appends")
    # empty / missing ledger clears to nothing
    assert readers.clear_append_ledger(spark, prefix) == []
    readers.record_append(spark, prefix, "b1")
    readers.record_append(spark, prefix, "b2")
    readers.record_append(spark, prefix, "b2")  # duplicate marker rows
    cleared = readers.clear_append_ledger(spark, prefix)
    assert sorted(cleared) == ["b1", "b2"]
    assert not spark.catalog.tableExists(f"{prefix}_appends")
    spark.sql(f"DROP TABLE IF EXISTS {prefix}_cleared")


def test_quarantine_ledger_lifecycle(spark):
    """r9 close of the ADVICE-medium ledger-loss contract, unit level:
    a rebuild's cleared ids land in ``{prefix}_cleared`` and stay
    PENDING until re-delivered (ledger subtraction — self-healing, no
    cleanup write in the re-append path to crash around) or waived;
    require_appendable refuses NEW ids while anything pends but lets
    the pending ids themselves through (the drain path)."""
    import pytest

    from flink_user_behavior_analysis_spark.sources import readers

    prefix = "t_quarantine"
    for t in ("appends", "cleared"):
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")
    readers.record_append(spark, prefix, "b1")
    readers.record_append(spark, prefix, "b2")
    assert sorted(readers.clear_append_ledger(spark, prefix)) \
        == ["b1", "b2"]
    assert readers.quarantined_batch_ids(spark, prefix) == ["b1", "b2"]

    # new id refused, pending ids allowed, ad-hoc (None) refused
    with pytest.raises(readers.QuarantinedBatchesError) as exc:
        readers.require_appendable(spark, prefix, "b3", "t")
    assert exc.value.pending == ["b1", "b2"]
    with pytest.raises(readers.QuarantinedBatchesError):
        readers.require_appendable(spark, prefix, None, "t")
    readers.require_appendable(spark, prefix, "b1", "t")  # drain ok

    # re-delivery of b1 (ledger commit) lifts it with no extra write
    readers.record_append(spark, prefix, "b1")
    assert readers.quarantined_batch_ids(spark, prefix) == ["b2"]

    # explicit waiver of b2 clears the quarantine entirely
    assert readers.acknowledge_cleared(spark, prefix, ["b2"]) == ["b2"]
    assert readers.quarantined_batch_ids(spark, prefix) == []
    readers.require_appendable(spark, prefix, "b3", "t")

    # a SECOND rebuild re-quarantines what the ledger now holds (b1's
    # re-delivered data is lost again) — the waiver of b2 survives
    assert readers.clear_append_ledger(spark, prefix) == ["b1"]
    assert readers.quarantined_batch_ids(spark, prefix) == ["b1"]
    assert readers.acknowledge_cleared(spark, prefix) == ["b1"]
    assert not spark.catalog.tableExists(f"{prefix}_cleared")
    for t in ("appends", "cleared"):
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")


def test_rebuild_includes_appends_waives_quarantine_inline(spark):
    """ADVICE r9: the common rebuild-from-absorbed-corpus flow (the
    rebuild's source already contains every appended batch's rows)
    must not strand the pipeline behind an out-of-band
    acknowledge_cleared call. includes_appends=True waives the
    cleared ids inline: no quarantine table, new appends flow;
    the default (False) still quarantines."""
    from flink_user_behavior_analysis_spark.sources import readers

    prefix = "t_waive_inline"
    for t in ("appends", "cleared"):
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")
    readers.record_append(spark, prefix, "b1")
    readers.record_append(spark, prefix, "b2")
    cleared = readers.clear_append_ledger(spark, prefix,
                                          includes_appends=True)
    assert sorted(cleared) == ["b1", "b2"]       # still reported
    assert not spark.catalog.tableExists(f"{prefix}_appends")
    assert not spark.catalog.tableExists(f"{prefix}_cleared")
    assert readers.quarantined_batch_ids(spark, prefix) == []
    readers.require_appendable(spark, prefix, "b3", "t")  # flows

    # a pre-existing quarantine from an earlier honest rebuild is NOT
    # erased by a later includes_appends rebuild: the flag only
    # vouches for the ledger it clears, not for history
    readers.record_append(spark, prefix, "b4")
    readers.clear_append_ledger(spark, prefix)   # quarantines b4
    readers.record_append(spark, prefix, "b5")
    cleared = readers.clear_append_ledger(spark, prefix,
                                          includes_appends=True)
    assert cleared == ["b5"]
    assert readers.quarantined_batch_ids(spark, prefix) == ["b4"]
    for t in ("appends", "cleared"):
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")


def test_store_builder_accepts_rebuild_includes_appends(spark, sf_dir):
    """The opt-in reaches a real builder: append a batch, rebuild
    with rebuild_includes_appends=True from a corpus that includes
    the batch, and the next new-id append commits without any
    acknowledge_cleared call (this exact flow raised
    QuarantinedBatchesError before ADVICE r9)."""
    from pyspark.sql import functions as F

    from flink_user_behavior_analysis_spark.operators.dedup import (
        dedup_append_corpus,
        dedup_store_corpus,
    )
    from flink_user_behavior_analysis_spark.queries_pipeline import _docs
    from flink_user_behavior_analysis_spark.sources import readers

    docs = _docs(spark, sf_dir).limit(60)
    h = F.abs(F.xxhash64("doc_id") % 10)
    base, extra = docs.where(h >= 3), docs.where(h < 3)
    prefix = "t_waive_builder"
    for t in ("appends", "cleared", "buckets", "shingles", "manifest"):
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")
    dedup_store_corpus(base, prefix)
    dedup_append_corpus(spark, prefix, extra, batch_id="bA")
    # rebuild from the absorbed corpus (base ∪ bA) with the waiver
    dedup_store_corpus(base.unionByName(extra), prefix,
                       rebuild_includes_appends=True)
    assert readers.quarantined_batch_ids(spark, prefix) == []
    dedup_append_corpus(spark, prefix, extra.limit(5),
                        batch_id="bB")  # flows
    for t in ("appends", "cleared", "buckets", "shingles", "manifest"):
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")


def test_quarantine_blocks_new_appends_end_to_end(spark, sf_dir):
    """r9 crash-rebuild-reingest scenario through a real stored
    family: rebuild discards a committed batch -> appending a NEW
    batch refuses (no silent loss laundered into history), the lost
    batch's re-delivery is accepted and drains the quarantine, and
    only then does the new batch commit. Covers both skeletons: the
    manifest-bracket family (dedup/minhash) and the idempotent
    dynamic-overwrite family (semdedup) share the gate."""
    import pytest
    from pyspark.sql import functions as F

    from flink_user_behavior_analysis_spark.operators.dedup import (
        dedup_append_corpus,
        dedup_store_corpus,
    )
    from flink_user_behavior_analysis_spark.queries_pipeline import _docs
    from flink_user_behavior_analysis_spark.sources import readers

    docs = _docs(spark, sf_dir)
    h = F.abs(F.xxhash64("doc_id") % 10)
    part_a = docs.where(h >= 6)
    part_b = docs.where((h >= 3) & (h < 6))
    part_c = docs.where(h < 3)

    prefix = "t_dd_quar"
    _drop_prefix(spark, prefix)
    dedup_store_corpus(part_a, prefix)
    assert dedup_append_corpus(spark, prefix, part_b,
                               batch_id="lost1") > 0

    # rebuild from part_a only: lost1's rows are gone -> quarantined
    dedup_store_corpus(part_a, prefix)
    assert readers.quarantined_batch_ids(spark, prefix) == ["lost1"]

    # a NEW batch must refuse — committing it would silently build
    # past the known loss
    with pytest.raises(readers.QuarantinedBatchesError):
        dedup_append_corpus(spark, prefix, part_c, batch_id="new1")

    # re-delivery of the lost batch is the drain path
    assert dedup_append_corpus(spark, prefix, part_b,
                               batch_id="lost1") > 0
    assert readers.quarantined_batch_ids(spark, prefix) == []
    # ...and is still exactly-once afterwards (no silent re-accept
    # of a THIRD delivery as new data)
    assert dedup_append_corpus(spark, prefix, part_b,
                               batch_id="lost1") == 0
    assert dedup_append_corpus(spark, prefix, part_c,
                               batch_id="new1") > 0
    _drop_prefix(spark, prefix)


def test_semdedup_append_batch_id_is_exactly_once(spark, sf_dir):
    """Same ledger/overwrite contract on the SemDeDup cells table:
    double delivery of the same batch_id leaves exactly one copy."""
    from pyspark.sql import functions as F

    from flink_user_behavior_analysis_spark.operators.similarity import (
        semdedup_append_corpus,
        semdedup_store_corpus,
    )
    from flink_user_behavior_analysis_spark.queries_pipeline import (
        _embs,
        _semdedup_read_centroids_or_fit,
    )

    prefix = "t_semdd_once"
    _drop_prefix(spark, prefix)
    cents = _semdedup_read_centroids_or_fit(spark)
    embs = _embs(spark, sf_dir).select("vec_id", "embedding")
    part_a = embs.where(F.abs(F.xxhash64("vec_id") % 10) >= 5)
    part_b = embs.where(F.abs(F.xxhash64("vec_id") % 10) < 5)
    semdedup_store_corpus(part_a, cents, prefix)
    n_a = spark.table(f"{prefix}_cells").count()
    n_b = part_b.count()

    assert semdedup_append_corpus(spark, prefix, part_b, cents,
                                  batch_id="b7") == n_b
    assert semdedup_append_corpus(spark, prefix, part_b, cents,
                                  batch_id="b7") == 0
    assert spark.table(f"{prefix}_cells").count() == n_a + n_b
    _drop_prefix(spark, prefix)


def test_ivfpq_compact_absorbs_batches_probe_identical(spark, sf_dir):
    """Compaction closes the ingestion lifecycle: after several
    batch appends the inverted file holds one file set per (cell,
    batch); ivfpq_compact_index rewrites to one per cell with
    IDENTICAL probe results, fewer files, and the append ledger
    intact (absorbed batches still dedupe re-delivery). The
    manifest bracket keeps a torn compaction detectable."""
    from pyspark.sql import functions as F

    from flink_user_behavior_analysis_spark.operators.similarity import (
        ivfpq_append_to_index,
        ivfpq_compact_index,
        ivfpq_store_index,
        ivfpq_topk_from_index,
    )
    from flink_user_behavior_analysis_spark.queries_pipeline import _embs
    from flink_user_behavior_analysis_spark.sources import readers

    prefix = "t_ivfpq_cpt"
    _drop_prefix(spark, prefix)
    embs = _embs(spark, sf_dir).select("vec_id", "embedding")
    h = F.abs(F.xxhash64("vec_id") % 10)
    ivfpq_store_index(embs.where(h >= 4), prefix,
                      n_centroids=8, m=8, codes=16)
    for i, lo in enumerate((0, 2)):
        batch = embs.where((h >= lo) & (h < lo + 2))
        assert ivfpq_append_to_index(spark, prefix, batch,
                                     batch_id=f"c{i}") > 0
    queries = embs.where(F.col("vec_id") < 8)
    before = sorted(map(tuple, ivfpq_topk_from_index(
        spark, prefix, queries, 5, nprobe=4).collect()))
    n_before = spark.table(f"{prefix}_codes").count()

    stats = ivfpq_compact_index(spark, prefix)
    assert stats["files_after"] < stats["files_before"]
    assert stats["rows"] == n_before
    assert spark.table(f"{prefix}_codes").count() == n_before
    # one batch generation left
    assert [r._batch for r in spark.table(f"{prefix}_codes")
            .select("_batch").distinct().collect()] == ["base"]
    after = sorted(map(tuple, ivfpq_topk_from_index(
        spark, prefix, queries, 5, nprobe=4).collect()))
    assert after == before
    assert index_ready(spark, prefix)
    # ledger survived: absorbed batch ids still dedupe
    assert readers.append_recorded(spark, prefix, "c0")
    assert ivfpq_append_to_index(
        spark, prefix, embs.where(h < 2), batch_id="c0") == 0
    assert spark.table(f"{prefix}_codes").count() == n_before
    _drop_prefix(spark, prefix)


def test_semdedup_compact_probe_identical_and_race_guard(spark, sf_dir,
                                                         monkeypatch):
    """SemDeDup-side compaction: probe statuses identical across the
    rewrite, files shrink, ledger survives. Plus the single-writer
    race guard: an append committing mid-rewrite makes compaction
    RAISE (its data was erased — silent success would burn the batch
    id with no warning) and leaves the manifest invalidated."""
    from pyspark.sql import functions as F

    from flink_user_behavior_analysis_spark.operators.similarity import (
        semdedup_append_corpus,
        semdedup_compact_corpus,
        semdedup_probe,
        semdedup_store_corpus,
    )
    from flink_user_behavior_analysis_spark.queries_pipeline import (
        SEMDEDUP_EPS,
        _embs,
        _semdedup_read_centroids_or_fit,
    )
    from flink_user_behavior_analysis_spark.sources import readers

    prefix = "t_semdd_cpt"
    _drop_prefix(spark, prefix)
    cents = _semdedup_read_centroids_or_fit(spark)
    embs = _embs(spark, sf_dir).select("vec_id", "embedding")
    h = F.abs(F.xxhash64("vec_id") % 10)
    semdedup_store_corpus(embs.where(h >= 4), cents, prefix)
    semdedup_append_corpus(spark, prefix, embs.where((h >= 2) & (h < 4)),
                           cents, batch_id="k0")
    probe = embs.where(h < 2)
    before = sorted(map(tuple, semdedup_probe(
        spark, prefix, probe, cents, SEMDEDUP_EPS).collect()))

    stats = semdedup_compact_corpus(spark, prefix)
    assert stats["files_after"] < stats["files_before"]
    after = sorted(map(tuple, semdedup_probe(
        spark, prefix, probe, cents, SEMDEDUP_EPS).collect()))
    assert after == before
    assert readers.append_recorded(spark, prefix, "k0")  # ledger kept
    assert index_ready(spark, prefix)

    # race guard: a concurrent append lands mid-rewrite
    orig = readers.compact_partitioned_table

    def racing(spark_, table, *a, **kw):
        out = orig(spark_, table, *a, **kw)
        readers.record_append(spark_, prefix, "k_race")  # sneaks in
        return out

    monkeypatch.setattr(readers, "compact_partitioned_table", racing)
    with pytest.raises(RuntimeError, match="re-ingesting under NEW"):
        semdedup_compact_corpus(spark, prefix)
    assert not index_ready(spark, prefix), (
        "manifest must stay invalidated after a raced compaction"
    )
    _drop_prefix(spark, prefix)


def test_bm25_append_equals_rebuild_on_union(spark, sf_dir,
                                             monkeypatch):
    """Text-index ingestion: build on 70% of the docs, APPEND the
    rest — post-append probe scores must be BIT-IDENTICAL to a
    one-shot build on the full corpus (df counts are additive,
    avgdl recomputed from the merged dl table). Re-delivery of the
    committed batch is a no-op; a crash mid-append leaves the index
    not-ready (the manifest bracket is the transaction) and a
    rebuild recovers."""
    from pyspark.sql import functions as F

    from flink_user_behavior_analysis_spark.operators.text import (
        bm25_append_to_index,
        bm25_read_index,
        bm25_store_index,
        bm25_topk_from_index,
    )
    from flink_user_behavior_analysis_spark.queries_pipeline import _docs
    from flink_user_behavior_analysis_spark.sources import readers

    docs = _docs(spark, sf_dir)
    h = F.abs(F.xxhash64("doc_id") % 10)
    base, extra = docs.where(h >= 3), docs.where(h < 3)
    queries = (docs.where(F.col("doc_id") < 5)
               .select(F.col("doc_id").alias("query_id"),
                       F.col("text").alias("query_text")))

    for p in ("t_bm25_app", "t_bm25_full"):
        _drop_prefix(spark, p)
    bm25_store_index(base, "t_bm25_app")
    n = bm25_append_to_index(spark, "t_bm25_app", extra, batch_id="t1")
    assert n == extra.count() and n > 0
    got = sorted(map(tuple, bm25_topk_from_index(
        bm25_read_index(spark, "t_bm25_app"), queries, 5).collect()))

    bm25_store_index(docs, "t_bm25_full")
    want = sorted(map(tuple, bm25_topk_from_index(
        bm25_read_index(spark, "t_bm25_full"), queries, 5).collect()))
    assert got == want, "append diverged from one-shot rebuild"

    # the zero-exchange tf-dl join survives the bucketed append: the
    # appended files carry the table's own bucket spec (read back
    # from the catalog), so the probe still plans shuffle-free on
    # the stored sides
    tf_dl_plan = (
        spark.table("t_bm25_app_tf")
        .join(spark.table("t_bm25_app_dl"), "doc_id")
        ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange hashpartitioning" not in tf_dl_plan, (
        "bucketed append broke the exchange-free stored-probe join"
    )

    # committed re-delivery -> no-op
    n_tf = spark.table("t_bm25_app_tf").count()
    assert bm25_append_to_index(spark, "t_bm25_app", extra,
                                batch_id="t1") == 0
    assert spark.table("t_bm25_app_tf").count() == n_tf

    # torn append: crash during the df merge -> not ready -> rebuild
    def crashing(*a, **kw):
        raise RuntimeError("simulated crash mid-append")

    monkeypatch.setattr(readers, "save_as_table", crashing)
    with pytest.raises(RuntimeError, match="mid-append"):
        bm25_append_to_index(spark, "t_bm25_app", extra, batch_id="t2")
    monkeypatch.undo()
    assert not index_ready(spark, "t_bm25_app")
    # rebuild recovers and clears the ledger (t1's data is regenerated
    # from source, so its entry must not block a future re-ingest)
    bm25_store_index(docs, "t_bm25_app")
    assert index_ready(spark, "t_bm25_app")
    assert not readers.append_recorded(spark, "t_bm25_app", "t1")
    for p in ("t_bm25_app", "t_bm25_full"):
        _drop_prefix(spark, p)


def test_lm_append_equals_rebuild_on_union(spark, sf_dir):
    """Stored-LM ingestion: fold a batch into the count tables
    (additive merge, never re-tokenizing the corpus) — post-append
    scores bit-identical to a one-shot rebuild on the union;
    committed re-delivery a no-op; the probe's exchange-free w1
    join survives the rewrite (bucket spec read from the
    catalog)."""
    from pyspark.sql import functions as F

    from flink_user_behavior_analysis_spark.operators.text import (
        lm_append_to_model,
        lm_read_model,
        lm_score_from_model,
        lm_store_model,
    )
    from flink_user_behavior_analysis_spark.queries_pipeline import _docs

    docs = _docs(spark, sf_dir)
    h = F.abs(F.xxhash64("doc_id") % 10)
    base, extra = docs.where(h >= 3), docs.where(h < 3)
    probe = docs.where(F.col("doc_id") < 50)

    for p in ("t_lm_app", "t_lm_full"):
        _drop_prefix(spark, p)
    lm_store_model(base, "t_lm_app")
    n = lm_append_to_model(spark, "t_lm_app", extra, batch_id="L1")
    assert n == extra.count() and n > 0
    got = sorted(map(tuple, lm_score_from_model(
        lm_read_model(spark, "t_lm_app"), probe).collect()))

    lm_store_model(docs, "t_lm_full")
    want = sorted(map(tuple, lm_score_from_model(
        lm_read_model(spark, "t_lm_full"), probe).collect()))
    assert got == want, "LM append diverged from one-shot rebuild"

    assert lm_append_to_model(spark, "t_lm_app", extra,
                              batch_id="L1") == 0
    assert index_ready(spark, "t_lm_app")
    for p in ("t_lm_app", "t_lm_full"):
        _drop_prefix(spark, p)


def test_dedup_append_corpus_equals_bigger_store(spark, sf_dir):
    """Minhash-family accept loop: corpus A + appended keepers B must
    give a later probe the same view as storing A∪B in one shot;
    committed re-delivery is a no-op."""
    from pyspark.sql import functions as F

    from flink_user_behavior_analysis_spark.operators.dedup import (
        dedup_append_corpus,
        dedup_incremental_from_store,
        dedup_store_corpus,
    )
    from flink_user_behavior_analysis_spark.queries_pipeline import _docs

    docs = _docs(spark, sf_dir)
    h = F.abs(F.xxhash64("doc_id") % 10)
    part_a = docs.where(h >= 5)
    part_b = docs.where((h >= 2) & (h < 5))
    probe_c = docs.where(h < 2)

    for p in ("t_dd_app", "t_dd_full"):
        _drop_prefix(spark, p)
    dedup_store_corpus(part_a, "t_dd_app")
    n = dedup_append_corpus(spark, "t_dd_app", part_b, batch_id="d1")
    assert n == part_b.count() and n > 0
    assert dedup_append_corpus(spark, "t_dd_app", part_b,
                               batch_id="d1") == 0

    dedup_store_corpus(part_a.unionByName(part_b), "t_dd_full")
    got = sorted(map(tuple, dedup_incremental_from_store(
        spark, "t_dd_app", probe_c, 0.8).collect()))
    want = sorted(map(tuple, dedup_incremental_from_store(
        spark, "t_dd_full", probe_c, 0.8).collect()))
    assert got == want and got
    for p in ("t_dd_app", "t_dd_full"):
        _drop_prefix(spark, p)


def test_span_append_counts_equals_bigger_store(spark, sf_dir):
    """Span-count accept loop: additive merge of a batch's
    fingerprint counts == one-shot store of the union, probed by
    the incremental span detector; re-delivery a no-op."""
    from pyspark.sql import functions as F

    from flink_user_behavior_analysis_spark.operators.chunking import (
        duplicated_spans_incremental_from_store,
        span_append_counts,
        span_store_counts,
    )
    from flink_user_behavior_analysis_spark.queries_pipeline import _docs

    docs = _docs(spark, sf_dir)
    h = F.abs(F.xxhash64("doc_id") % 10)
    part_a = docs.where(h >= 5)
    part_b = docs.where((h >= 2) & (h < 5))
    probe_c = docs.where(h < 2)

    for p in ("t_sp_app", "t_sp_full"):
        _drop_prefix(spark, p)
    span_store_counts(part_a, "t_sp_app")
    n = span_append_counts(spark, "t_sp_app", part_b, batch_id="s1")
    assert n == part_b.count() and n > 0
    assert span_append_counts(spark, "t_sp_app", part_b,
                              batch_id="s1") == 0

    span_store_counts(part_a.unionByName(part_b), "t_sp_full")
    got = sorted(map(tuple, duplicated_spans_incremental_from_store(
        spark, "t_sp_app", probe_c).collect()))
    want = sorted(map(tuple, duplicated_spans_incremental_from_store(
        spark, "t_sp_full", probe_c).collect()))
    assert got == want and got
    for p in ("t_sp_app", "t_sp_full"):
        _drop_prefix(spark, p)


def test_appends_refuse_uncommitted_index(spark, sf_dir):
    """Every append path — idempotent-overwrite families included —
    must REFUSE a not-ready index: appending onto a torn rebuild
    would record the ledger, report success upstream, and then lose
    the batch when the gated reader rebuilds."""
    from pyspark.sql import functions as F

    from flink_user_behavior_analysis_spark.operators.similarity import (
        ivfpq_append_to_index,
        ivfpq_store_index,
        semdedup_append_corpus,
    )
    from flink_user_behavior_analysis_spark.queries_pipeline import (
        _embs,
        _semdedup_read_centroids_or_fit,
    )

    prefix = "t_gate_app"
    _drop_prefix(spark, prefix)
    embs = _embs(spark, sf_dir).select("vec_id", "embedding").limit(40)
    # no index at all -> refuse
    with pytest.raises(ValueError, match="not a committed index"):
        ivfpq_append_to_index(spark, prefix, embs, batch_id="x")
    with pytest.raises(ValueError, match="not a committed index"):
        semdedup_append_corpus(spark, prefix, embs,
                               _semdedup_read_centroids_or_fit(spark),
                               batch_id="x")
    # torn rebuild (artifacts present, manifest missing) -> refuse
    ivfpq_store_index(embs, prefix, n_centroids=4, m=8, codes=16)
    _drop(spark, f"{prefix}_manifest")
    with pytest.raises(ValueError, match="not a committed index"):
        ivfpq_append_to_index(spark, prefix, embs, batch_id="x")
    assert not spark.catalog.tableExists(f"{prefix}_appends")
    _drop_prefix(spark, prefix)


def test_every_store_builder_commits_a_manifest(spark, sf_dir):
    """Each *_store_* builder writes its manifest LAST and
    index_ready turns true exactly after a full build — exercised for
    the incremental-dedup and span-count catalog artifacts too
    (VERDICT r6 #8, same half-written-build exposure)."""
    from flink_user_behavior_analysis_spark.operators.chunking import (
        span_store_counts,
    )
    from flink_user_behavior_analysis_spark.operators.dedup import (
        dedup_store_corpus,
    )
    from flink_user_behavior_analysis_spark.queries_pipeline import _docs

    docs = _docs(spark, sf_dir).limit(50)
    for prefix, build in (
        ("t_atom_dedup", lambda: dedup_store_corpus(docs, "t_atom_dedup")),
        ("t_atom_span", lambda: span_store_counts(docs, "t_atom_span")),
    ):
        _drop_prefix(spark, prefix)
        assert not index_ready(spark, prefix)
        tables = build()
        assert index_ready(spark, prefix)
        listed = {r.artifact
                  for r in spark.table(f"{prefix}_manifest").collect()}
        assert listed == set(tables)
        _drop_prefix(spark, prefix)


def test_table_num_buckets_primary_and_ddl_fallback(spark):
    """Pin BOTH bucket-spec parses against the running Spark version
    (ADVICE r7): the primary reads DESCRIBE EXTENDED's human-readable
    'Num Buckets' row, the fallback reads SHOW CREATE TABLE's
    CLUSTERED BY ... INTO n BUCKETS clause. If a Spark upgrade
    reformats either surface, this fails here instead of hard-failing
    every append path at runtime."""
    from flink_user_behavior_analysis_spark.sources import readers

    table = "t_bucket_parse"
    _drop(spark, table)
    (spark.range(100).withColumnRenamed("id", "k")
     .write.format("parquet").bucketBy(7, "k").saveAsTable(table))
    try:
        assert readers.table_num_buckets(spark, table) == 7
        # the fallback alone must also resolve the spec (simulates a
        # DESCRIBE format drift by parsing the DDL directly)
        ddl = spark.sql(f"SHOW CREATE TABLE {table}").collect()[0][0]
        import re
        m = re.search(r"CLUSTERED BY\s*\(.*?\)\s*INTO\s+(\d+)\s+BUCKETS",
                      ddl, re.IGNORECASE | re.DOTALL)
        assert m and int(m.group(1)) == 7, ddl
        assert readers.require_bucket_count(spark, table) == 7
    finally:
        _drop(spark, table)
    # unbucketed table -> None (not a crash)
    _drop(spark, table)
    spark.range(10).write.format("parquet").saveAsTable(table)
    try:
        assert readers.table_num_buckets(spark, table) is None
    finally:
        _drop(spark, table)


def test_compact_partitioned_table_stage_cleanup_and_optional_stats(
        spark, monkeypatch):
    """ADVICE r7 on compact_partitioned_table: (1) collect_stats=False
    skips the two extra full-table jobs and returns None stats while
    still compacting; (2) a crash DURING the stage write drops the
    garbage staging table, but a crash during the FINAL overwrite
    KEEPS the stage — the target is torn then and the stage is the
    only intact copy (r8 review) — and the next successful
    compaction clears it."""
    from pyspark.sql import functions as F

    from flink_user_behavior_analysis_spark.sources import readers

    table = "t_compact_stage"
    _drop(spark, table)
    _drop(spark, f"{table}_stage")
    base = (spark.range(200)
            .withColumn("cell", (F.col("id") % 4).cast("int"))
            .withColumn("_batch", F.lit("base")))
    for b in range(3):  # a few appended batches -> many files
        (base.withColumn("_batch", F.lit(f"b{b}"))
         .write.mode("append").format("parquet")
         .partitionBy("cell", "_batch").saveAsTable(table))
    base.write.mode("append").format("parquet") \
        .partitionBy("cell", "_batch").saveAsTable(table)
    before = spark.table(table).count()

    stats = readers.compact_partitioned_table(
        spark, table, ["cell"], collect_stats=False)
    assert stats == {"rows": None, "files_before": None,
                     "files_after": None}
    assert spark.table(table).count() == before
    assert {r._batch for r in
            spark.table(table).select("_batch").distinct().collect()} \
        == {"base"}
    assert not spark.catalog.tableExists(f"{table}_stage")

    import pytest as _pytest

    orig = readers.save_as_table

    # crash DURING the stage write: the half-written stage is garbage
    # and must be dropped
    def crash_first(writer, name):
        raise RuntimeError("injected crash mid-stage-write")

    monkeypatch.setattr(readers, "save_as_table", crash_first)
    with _pytest.raises(RuntimeError, match="mid-stage-write"):
        readers.compact_partitioned_table(spark, table, ["cell"],
                                          collect_stats=False)
    monkeypatch.setattr(readers, "save_as_table", orig)
    assert not spark.catalog.tableExists(f"{table}_stage")

    # crash INSIDE the final overwrite: the target may be torn, so
    # the stage must SURVIVE as the only intact compacted copy
    calls = {"n": 0}

    def crash_second(writer, name):
        calls["n"] += 1
        if calls["n"] == 2:  # second call = final overwrite
            raise RuntimeError("injected crash mid-overwrite")
        return orig(writer, name)

    monkeypatch.setattr(readers, "save_as_table", crash_second)
    with _pytest.raises(RuntimeError, match="mid-overwrite"):
        readers.compact_partitioned_table(spark, table, ["cell"],
                                          collect_stats=False)
    monkeypatch.setattr(readers, "save_as_table", orig)
    assert spark.catalog.tableExists(f"{table}_stage"), (
        "recovery copy was destroyed")
    # the stage holds the full compacted row set
    assert spark.table(f"{table}_stage").count() == before

    # a fresh compaction must now REFUSE (r9, ADVICE r8): the target
    # may be torn and recompacting it would destroy the recovery copy
    with _pytest.raises(RuntimeError, match="stage already exists"):
        readers.compact_partitioned_table(spark, table, ["cell"],
                                          collect_stats=False)
    assert spark.catalog.tableExists(f"{table}_stage")
    # recover_from_stage finishes the interrupted overwrite from the
    # stage, clears it, and proceeds with the compaction
    readers.compact_partitioned_table(spark, table, ["cell"],
                                      collect_stats=False,
                                      recover_from_stage=True)
    assert not spark.catalog.tableExists(f"{table}_stage")
    assert spark.table(table).count() == before
    _drop(spark, table)


def test_maintenance_failure_carries_committed_rows(spark):
    """ADVICE r8: a failed in-path compaction must surface as
    'append committed, maintenance failed' — a dedicated type with
    the committed row count — not as a generic failure an
    orchestrator would mark the batch failed over."""
    import pytest

    from flink_user_behavior_analysis_spark.operators.similarity import (
        MaintenanceFailedError,
        _maybe_auto_compact,
    )

    spark.sql("DROP TABLE IF EXISTS t_maint")
    for v in (1, 2):  # two appends -> 2 files in the cell
        spark.createDataFrame([(v, "a")], "x long, cell string") \
            .write.mode("append").format("parquet") \
            .partitionBy("cell").saveAsTable("t_maint")

    def boom():
        raise RuntimeError("simulated compaction crash")

    with pytest.raises(MaintenanceFailedError) as exc:
        _maybe_auto_compact(spark, "t_m", "t_maint", 1, boom,
                            committed_rows=7)
    assert exc.value.committed_rows == 7
    assert exc.value.table == "t_maint"
    # threshold None / under-threshold never fires
    _maybe_auto_compact(spark, "t_m", "t_maint", None, boom,
                        committed_rows=7)
    _maybe_auto_compact(spark, "t_m", "t_maint", 99, boom,
                        committed_rows=7)
    spark.sql("DROP TABLE IF EXISTS t_maint")


def test_compaction_refuses_preexisting_stage_then_recovers(spark):
    """ADVICE r8: a pre-existing {table}_stage means a previous
    compaction crashed around its final overwrite — the stage may be
    the ONLY intact copy, so a fresh run must refuse rather than
    recompact the possibly-torn target over it; recover_from_stage
    restores the target from the stage and proceeds."""
    import pytest

    from flink_user_behavior_analysis_spark.sources.readers import (
        compact_partitioned_table,
    )

    for t in ("t_cmp", "t_cmp_stage"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    # stage = the intact compacted copy; target = torn (here: stale
    # rows standing in for a half-finished overwrite)
    good = spark.createDataFrame(
        [(i, "c1", "base") for i in range(4)],
        "x long, cell string, _batch string")
    torn = spark.createDataFrame(
        [(99, "c1", "base")], "x long, cell string, _batch string")
    good.write.mode("overwrite").format("parquet") \
        .partitionBy("cell", "_batch").saveAsTable("t_cmp_stage")
    torn.write.mode("overwrite").format("parquet") \
        .partitionBy("cell", "_batch").saveAsTable("t_cmp")

    with pytest.raises(RuntimeError, match="stage already exists"):
        compact_partitioned_table(spark, "t_cmp", ["cell"])
    # target untouched, stage untouched by the refusal
    assert spark.table("t_cmp").count() == 1
    assert spark.table("t_cmp_stage").count() == 4

    stats = compact_partitioned_table(spark, "t_cmp", ["cell"],
                                      recover_from_stage=True)
    assert stats["rows"] == 4, "target must be restored FROM the stage"
    got = sorted(r.x for r in spark.table("t_cmp").collect())
    assert got == [0, 1, 2, 3]
    assert not spark.catalog.tableExists("t_cmp_stage")
    for t in ("t_cmp", "t_cmp_stage"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_append_loop_auto_compacts_and_stays_bounded(spark, sf_dir):
    """VERDICT r7 #5: the append path triggers its own compaction —
    50 exactly-once appends with auto_compact_files_per_cell set must
    keep the codes table's per-cell file count bounded WITHOUT any
    manual compact call, while probes stay identical to a fresh
    build on the same union and absorbed batches keep deduplicating
    re-delivery."""
    from pyspark.sql import functions as F

    from flink_user_behavior_analysis_spark.operators.similarity import (
        ivfpq_append_to_index,
        ivfpq_store_index,
        ivfpq_topk_from_index,
    )
    from flink_user_behavior_analysis_spark.queries_pipeline import _embs
    from flink_user_behavior_analysis_spark.sources import readers

    n_batches, threshold = 50, 6
    prefix = "t_auto_compact"
    _drop_prefix(spark, prefix)
    embs = _embs(spark, sf_dir).select("vec_id", "embedding")
    h = F.abs(F.xxhash64("vec_id") % (2 * n_batches))
    base = embs.where(h >= n_batches)
    queries = embs.where(F.col("vec_id") < 4)
    ivfpq_store_index(base, prefix, n_centroids=4, m=4, codes=8)

    worst = 0
    for i in range(n_batches):
        ivfpq_append_to_index(spark, prefix, embs.where(h == i),
                              batch_id=f"b{i}",
                              auto_compact_files_per_cell=threshold)
        worst = max(worst, readers.files_per_partition(
            spark, f"{prefix}_codes")["max_per_cell"])
    # bounded: one append can overshoot by its own file set before
    # the trigger fires, but the loop never accumulates past
    # threshold + one batch's worth of files per cell
    assert worst <= threshold + 2, worst
    health = readers.files_per_partition(spark, f"{prefix}_codes")
    assert health["max_per_cell"] <= threshold + 2, health

    # absorbed batches still dedupe re-delivery (ledger survived
    # every auto-compaction)
    assert ivfpq_append_to_index(spark, prefix, embs.where(h == 0),
                                 batch_id="b0") == 0

    # probe identical to a no-compaction control under the SAME
    # frozen model: rebuild on the same base (deterministic fit ->
    # same quantizers), append all 50 batches as one un-compacted
    # batch — auto-compaction must change file layout only, never
    # results
    got = ivfpq_topk_from_index(spark, prefix, queries, 3, nprobe=4)
    ref_prefix = "t_auto_compact_ref"
    _drop_prefix(spark, ref_prefix)
    ivfpq_store_index(base, ref_prefix, n_centroids=4, m=4, codes=8)
    ivfpq_append_to_index(spark, ref_prefix, embs.where(h < n_batches),
                          batch_id="all",
                          auto_compact_files_per_cell=None)
    ref = ivfpq_topk_from_index(spark, ref_prefix, queries, 3, nprobe=4)
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, ref.collect()))
    _drop_prefix(spark, prefix)
    _drop_prefix(spark, ref_prefix)


def test_compaction_crash_mid_ingest_recovers_via_quarantine(
        spark, sf_dir, monkeypatch):
    """r9 full-lifecycle composition: an in-path auto-compaction
    crashes AFTER an append committed (data + ledger) and AFTER the
    compaction bracket invalidated the manifest. Every piece built
    this round must now compose: the failure surfaces as
    MaintenanceFailedError (append committed, don't re-ingest), the
    torn index refuses further appends, the gated REBUILD quarantines
    the committed-then-discarded batch ids, a NEW batch refuses until
    the quarantined ones are re-delivered, and after the drain the
    index holds every batch exactly once."""
    import pytest
    from pyspark.sql import functions as F

    from flink_user_behavior_analysis_spark.operators.similarity import (
        MaintenanceFailedError,
        ivfpq_append_to_index,
        ivfpq_store_index,
    )
    from flink_user_behavior_analysis_spark.queries_pipeline import _embs
    from flink_user_behavior_analysis_spark.sources import readers

    prefix = "t_life_quar"
    _drop_prefix(spark, prefix)
    embs = _embs(spark, sf_dir).select("vec_id", "embedding")
    h = F.abs(F.xxhash64("vec_id") % 10)
    base = embs.where(h >= 6)
    b1 = embs.where((h >= 4) & (h < 6))
    b2 = embs.where((h >= 2) & (h < 4))
    b3 = embs.where(h < 2)

    ivfpq_store_index(base, prefix, n_centroids=8, m=8, codes=16)
    assert ivfpq_append_to_index(spark, prefix, b1, batch_id="b1") > 0

    # b2's append commits, then the triggered compaction crashes
    # INSIDE its bracket (manifest already invalidated)
    orig = readers.compact_partitioned_table

    def crash(*a, **kw):
        raise RuntimeError("simulated compaction crash")

    monkeypatch.setattr(readers, "compact_partitioned_table", crash)
    with pytest.raises(MaintenanceFailedError) as exc:
        ivfpq_append_to_index(spark, prefix, b2, batch_id="b2",
                              auto_compact_files_per_cell=0)
    monkeypatch.setattr(readers, "compact_partitioned_table", orig)
    assert exc.value.committed_rows == b2.count()
    assert readers.append_recorded(spark, prefix, "b2"), (
        "the append must stay committed — MaintenanceFailedError "
        "means do NOT re-ingest")

    # torn index: further appends refuse, nothing lands silently
    assert not readers.index_ready(spark, prefix)
    with pytest.raises(ValueError, match="not a committed"):
        ivfpq_append_to_index(spark, prefix, b3, batch_id="b3")

    # gated recovery: rebuild from base — b1/b2's rows are discarded,
    # so their ids land in quarantine
    ivfpq_store_index(base, prefix, n_centroids=8, m=8, codes=16)
    assert readers.quarantined_batch_ids(spark, prefix) == ["b1", "b2"]

    # a NEW batch must refuse while the known loss is undrained
    with pytest.raises(readers.QuarantinedBatchesError):
        ivfpq_append_to_index(spark, prefix, b3, batch_id="b3")

    # re-delivery drains the quarantine; then b3 lands; every batch
    # exactly once
    assert ivfpq_append_to_index(spark, prefix, b1, batch_id="b1") > 0
    assert ivfpq_append_to_index(spark, prefix, b2, batch_id="b2") > 0
    assert readers.quarantined_batch_ids(spark, prefix) == []
    assert ivfpq_append_to_index(spark, prefix, b3, batch_id="b3") > 0
    codes = spark.table(f"{prefix}_codes").select("vec_id")
    assert codes.count() == codes.distinct().count() == embs.count()
    _drop_prefix(spark, prefix)
