"""Sources: parquet testdata loader, reference-shaped CSV readers,
apache-log parser, generator source, gated Kafka connector.

Reference parity (SURVEY.md section 2.1/2.2):
- S1 kafka source   -> kafka_source() (gated: jar not in container)
- S2 text file      -> read_*_csv() batch readers with fixed schemas
- P1 csv parse map  -> csv reader + timestamp_seconds normalization
  (reference: HotItem.java:57-61 split(",") + x1000 in extractor)
- P2 apache log map -> parse_apache_log()
  (reference: HotPage.java:50-54 split(" ") + SimpleDateFormat)
- S3 generator      -> marketing_generator_stream()
  (reference: AppMarketingByChannel.java:65-97 random source, 10 ev/s)

All readers produce an event-time column ``ts: TimestampType`` so
every downstream operator is source-agnostic. Filters and projections
applied after these readers push down into the scan (verified via
explain(): PushedFilters / ReadSchema on parquet).
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from .. import schemas


# --------------------------------------------------------------- testdata

def _arrow_exact(t) -> bool:
    """Whether from_arrow_type maps the Arrow type ``t`` to the type
    Spark infers for the Parquet column it was written as."""
    import pyarrow.types as pat

    if pat.is_list(t) or pat.is_large_list(t):
        return _arrow_exact(t.value_type)
    if pat.is_struct(t):
        return all(_arrow_exact(f.type) for f in t)
    if pat.is_timestamp(t):
        # Arrow reads INT96 and TIMESTAMP(NANOS) both as ns; Spark does not
        return t.unit != "ns"
    return (pat.is_boolean(t) or pat.is_signed_integer(t)
            or pat.is_float32(t) or pat.is_float64(t) or pat.is_decimal(t)
            or pat.is_string(t) or pat.is_large_string(t)
            or pat.is_binary(t) or pat.is_large_binary(t) or pat.is_date32(t))


def _footer_schema(spark: SparkSession, path: str) -> StructType | None:
    """The schema Spark infers for the Parquet table at ``path``, read
    from one footer here in the driver; None where that cannot be done
    exactly (a URI scheme, a missing path, a directory with
    subdirectories, whose names may be partition columns, or a column
    type outside ``_arrow_exact``)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_type

    if "://" in path:
        return None
    if os.path.isfile(path):
        first = path
    elif os.path.isdir(path):
        entries = sorted((e for e in os.scandir(path)
                          if not e.name.startswith(("_", "."))),
                         key=lambda e: e.name)
        if not entries or any(e.is_dir() for e in entries):
            return None
        first = entries[0].path
    else:
        return None
    footer = pq.ParquetFile(first)
    leaves = footer.schema
    physical = {leaves.column(i).path: leaves.column(i).physical_type
                for i in range(len(leaves))}
    conf = spark.conf
    ntz = conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") == "true"
    nanos_as_long = conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    fields = []
    for f in footer.schema_arrow:
        if (f.type == pa.timestamp("ns") and physical.get(f.name) == "INT64"
                and nanos_as_long):
            fields.append(StructField(f.name, LongType()))
        elif _arrow_exact(f.type):
            fields.append(StructField(f.name, from_arrow_type(f.type, ntz)))
        else:
            return None
    return StructType(fields)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver testdata table (parquet, columnar, pushdown-able).

    ``events.ts`` is physically TIMESTAMP(NANOS) which Spark's parquet
    reader rejects; read it as raw nanos (legacy.parquet.nanosAsLong)
    and truncate to microsecond TimestampType — bit-identical to what
    DuckDB's reader produces for the same file (it truncates ns -> us),
    so oracle comparisons agree. Integer `div`, never double division:
    epoch-nanos exceed 2^53.

    The reader is given the schema up front, read from the first
    file's footer in the driver, because Spark's own inference runs
    one Spark job per call to read that footer. Where the footer
    schema cannot be read exactly (see ``_footer_schema``), Spark
    infers it. Nothing is held between calls: each call lists the
    table's files again, so a changed table is read as it now is.
    """
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = _footer_schema(spark, path)
    raw = (spark.read if schema is None else spark.read.schema(schema)).parquet(path)
    return _events_ts(raw) if name == "events" else raw


def _events_ts(raw: DataFrame) -> DataFrame:
    """``events.ts`` as microsecond TimestampType. nanosAsLong only
    fires for physical TIMESTAMP(NANOS); files written with micro
    precision (e.g. tools/make_scale.py output) need no truncation —
    only NTZ->TZ normalization (identity on values with the session
    pinned to UTC)."""
    if isinstance(raw.schema["ts"].dataType, LongType):
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


# item_id in the events' props JSON ({"k": 87}): a regexp, so that both
# engines read it alike (queries.DUCK_ITEM is the DuckDB form)
ITEM_RE = r'"k":\s*(\d+)'


def with_item(events: DataFrame) -> DataFrame:
    """``events`` plus ``item_id``: the long after ``"k":`` in ``props``,
    NULL when props is NULL or has no such entry (TRY_CAST, as in
    DuckDB; a plain cast raises CAST_INVALID_INPUT under ANSI mode)."""
    return events.withColumn(
        "item_id", F.regexp_extract("props", ITEM_RE, 1).try_cast("long"))


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for spark.sql use."""
    for n in schemas.TESTDATA_TABLES:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)


# ---------------------------------------------------- reference-shaped CSVs

def _csv(spark: SparkSession, path: str, schema) -> DataFrame:
    return spark.read.csv(path, schema=schema, header=False)


def read_user_behavior_csv(spark: SparkSession, path: str) -> DataFrame:
    """UserBehavior.csv: userId,itemId,categoryId,behavior,ts(sec)."""
    return _csv(spark, path, schemas.USER_BEHAVIOR_RAW).withColumn(
        "ts", F.timestamp_seconds("ts_sec")
    )


def read_login_log_csv(spark: SparkSession, path: str) -> DataFrame:
    """LoginLog.csv: userId,ip,loginState,ts(sec)."""
    return _csv(spark, path, schemas.LOGIN_EVENT_RAW).withColumn(
        "ts", F.timestamp_seconds("ts_sec")
    )


def read_order_log_csv(spark: SparkSession, path: str) -> DataFrame:
    """OrderLog.csv: orderId,eventType,txId,ts(sec); txId empty on create."""
    df = _csv(spark, path, schemas.ORDER_EVENT_RAW)
    return df.withColumn("ts", F.timestamp_seconds("ts_sec")).withColumn(
        "tx_id", F.coalesce(F.col("tx_id"), F.lit(""))
    )


def read_receipt_log_csv(spark: SparkSession, path: str) -> DataFrame:
    """ReceiptLog.csv: txId,payChannel,ts(sec)."""
    return _csv(spark, path, schemas.RECEIPT_EVENT_RAW).withColumn(
        "ts", F.timestamp_seconds("ts_sec")
    )


def read_ad_click_log_csv(spark: SparkSession, path: str) -> DataFrame:
    """AdClickLog.csv: userId,adId,province,city,ts(sec)."""
    return _csv(spark, path, schemas.AD_CLICK_EVENT_RAW).withColumn(
        "ts", F.timestamp_seconds("ts_sec")
    )


def parse_apache_log(spark: SparkSession, path: str) -> DataFrame:
    """apache.log: `ip - userId dd/MM/yyyy:HH:mm:ss +tz method url`.

    Reference parse: HotPage.java:50-54 (split on space, fields 0/3/5/6,
    SimpleDateFormat dd/MM/yyyy:HH:mm:ss). Pure column expressions —
    stays inside whole-stage codegen.
    """
    raw = spark.read.text(path)
    parts = F.split(F.col("value"), " ")
    return raw.select(
        parts.getItem(0).alias("ip"),
        F.lit(0).cast("long").alias("user_id"),
        F.to_timestamp(parts.getItem(3), "dd/MM/yyyy:HH:mm:ss").alias("ts"),
        parts.getItem(5).alias("method"),
        parts.getItem(6).alias("url"),
    ).where(F.col("ts").isNotNull())


# ----------------------------------------------------------------- streams

def marketing_generator_stream(
    spark: SparkSession, rows_per_second: int = 10
) -> DataFrame:
    """Synthetic marketing-behavior stream (reference S3 generator,
    AppMarketingByChannel.java:65-97: random user/behavior/channel at
    ~10 ev/s, wall-clock timestamps).

    Built on the rate source + column exprs — no Python in the stream.
    """
    behaviors = ["CLICK", "DOWNLOAD", "INSTALL", "UNINSTALL"]
    channels = ["app store", "wechat", "weibo", "browser"]
    rate = spark.readStream.format("rate").option(
        "rowsPerSecond", str(rows_per_second)
    ).load()
    return rate.select(
        (F.floor(F.rand() * 1_000_000)).cast("long").alias("user_id"),
        F.element_at(
            F.array(*[F.lit(b) for b in behaviors]),
            (F.floor(F.rand() * len(behaviors)) + 1).cast("int"),
        ).alias("behavior"),
        F.element_at(
            F.array(*[F.lit(c) for c in channels]),
            (F.floor(F.rand() * len(channels)) + 1).cast("int"),
        ).alias("channel"),
        F.col("timestamp").alias("ts"),
    )


def file_replay_stream(
    spark: SparkSession, sf_dir: str, name: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """Replay a testdata parquet table as a bounded stream (reference S2
    readTextFile-as-stream; with trigger availableNow this drains the
    whole table and stops — used for streaming==batch equivalence tests).

    ``events.ts`` needs the same nanos->micros normalization as the
    batch reader: the stream schema must describe the RAW file (int64
    nanos under nanosAsLong), with the cast applied on top, or the
    parquet reader rejects the TIMESTAMP(NANOS) column. The schema is
    the footer's, as in ``load_table``.

    The trailing ``parque[t]`` glob is deliberate: FileStreamSource
    insists on a directory/glob path ("Option 'basePath' must be a
    directory" on a plain file); a one-character glob makes it list
    the single file without any temp-dir staging.
    """
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = _footer_schema(spark, path) or spark.read.parquet(path).schema
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(f"{sf_dir}/{name}.parque[t]")
    )
    return _events_ts(raw) if name == "events" else raw


def kafka_available(spark: SparkSession) -> bool:
    """True iff the spark-sql-kafka-0-10 connector is on the session's
    JVM classpath (public Maven coordinates
    org.apache.spark:spark-sql-kafka-0-10_2.13:<spark version> — add
    via --packages on a real cluster). The end-to-end integration test
    (tests/test_kafka_integration.py) keys off this and a broker env
    var, skipping cleanly offline."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        )
        return True
    except Exception:  # pragma: no cover - env-dependent
        return False


def kafka_source(
    spark: SparkSession,
    brokers: str,
    topic: str,
    starting_offsets: str = "latest",
) -> DataFrame:
    """Kafka CSV-line source (reference S1, HotItem.java:46-54).

    The spark-sql-kafka jar is not in this container; raise a clear
    error rather than failing deep inside the plan.
    """
    try:
        return (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", brokers)
            .option("subscribe", topic)
            .option("startingOffsets", starting_offsets)
            .load()
            .select(F.col("value").cast("string").alias("value"))
        )
    except Exception as exc:  # pragma: no cover - env-dependent
        raise NotImplementedError(
            "kafka connector jar (spark-sql-kafka-0-10) not on classpath "
            "in this environment; add it via --packages on a real cluster"
        ) from exc


def write_bucketed(df: DataFrame, table: str,
                   bucket_col: str | list[str],
                   n_buckets: int = 8,
                   sort_col: str | list[str] | None = None) -> None:
    """Materialize a DataFrame as a BUCKETED (and optionally
    sorted-within-bucket) managed table — the co-located-join
    preparation step for fact-to-fact joins at 100 TB: two tables
    bucketed on their join key with the same bucket count hash-agree
    partition-for-partition, so Catalyst plans their equi-join with
    ZERO Exchange on either side (verified by
    tests/test_bucketed_join.py, which asserts the shuffle-free plan
    and result parity vs the plain join). Sorting within buckets
    additionally removes the Sort from sort-merge joins.

    ``bucket_col``/``sort_col`` accept a list for COMPOUND keys
    (e.g. the Q9-shape lineitem⋈costs join on (partkey, suppkey));
    the exchange-free property then requires the join condition to
    cover the full bucket key in the same column order on both
    sides.

    Spark bucketing requires saveAsTable (bucket metadata lives in
    the catalog); the table lands in the session's warehouse dir.
    """
    bcols = [bucket_col] if isinstance(bucket_col, str) else list(bucket_col)
    w = df.write.mode("overwrite").bucketBy(n_buckets, *bcols)
    if sort_col is not None:
        scols = [sort_col] if isinstance(sort_col, str) else list(sort_col)
        w = w.sortBy(*scols)
    save_as_table(w.format("parquet"), table)


def table_num_buckets(spark, table: str) -> int | None:
    """Bucket count of a catalog table (None if unbucketed) — read
    from the catalog so an APPEND can reuse the exact spec the
    build wrote instead of trusting a hyperparameter to match (a
    mismatched bucketBy on append is a catalog error; a silently
    different one would be worse).

    Primary source is DESCRIBE EXTENDED's ``Num Buckets`` row; since
    that is human-readable output a Spark version could reformat
    (ADVICE r7), fall back to parsing SHOW CREATE TABLE's
    ``CLUSTERED BY (...) INTO n BUCKETS`` clause before concluding
    the table is unbucketed. A unit test pins both parses against
    the running Spark version (tests/test_stored_atomicity.py)."""
    import re

    for r in spark.sql(f"DESCRIBE EXTENDED {table}").collect():
        if r.col_name == "Num Buckets":
            try:
                return int(r.data_type)
            except (TypeError, ValueError):
                break
    try:
        ddl = spark.sql(f"SHOW CREATE TABLE {table}").collect()[0][0]
    except Exception:  # noqa: BLE001 — fallback only; primary already missed
        return None
    m = re.search(r"CLUSTERED BY\s*\(.*?\)\s*INTO\s+(\d+)\s+BUCKETS",
                  ddl, re.IGNORECASE | re.DOTALL)
    return int(m.group(1)) if m else None


def save_as_table(writer, table: str) -> None:
    """``saveAsTable`` that survives an orphaned warehouse location.

    mode("overwrite") only overwrites tables the CATALOG knows about;
    when a previous process wrote the table and this process's
    in-memory catalog starts empty, the on-disk directory is an
    orphan and Spark refuses to create a managed table over it
    (LOCATION_ALREADY_EXISTS). Under overwrite semantics that orphan
    is garbage by definition — remove it and retry once. Anything
    else re-raises.
    """
    import os
    import re
    import shutil

    from pyspark.sql import SparkSession

    try:
        writer.saveAsTable(table)
    except Exception as exc:  # noqa: BLE001 — filtered by error class below
        msg = str(exc)
        m = re.search(r"location 'file:([^']+)' already exists", msg)
        if "LOCATION_ALREADY_EXISTS" not in msg or m is None:
            raise
        # containment check (ADVICE r5): only ever delete a path that
        # resolves INSIDE the session's warehouse dir — a message-shape
        # change or user-pointed warehouse must not become an arbitrary
        # delete
        orphan = os.path.realpath(m.group(1))
        spark = SparkSession.getActiveSession()
        wh = spark.conf.get("spark.sql.warehouse.dir", "") if spark else ""
        wh = os.path.realpath(re.sub(r"^file:(//)?", "", wh)) if wh else ""
        if not wh or not orphan.startswith(wh + os.sep):
            raise
        shutil.rmtree(orphan, ignore_errors=True)
        writer.saveAsTable(table)


def write_manifest(spark, prefix: str, artifacts: list[str]) -> str:
    """Crash-atomicity marker for multi-table stored indexes (VERDICT
    r6 #2): a build that writes N artifact tables commits by writing
    ``{prefix}_manifest`` LAST, listing every artifact it produced
    (index_commit is its one caller).
    A crash between artifact writes leaves no manifest — readers that
    gate on ``index_ready`` then rebuild (overwrite is idempotent)
    instead of trusting a half-index forever. The manifest is one
    tiny parquet table; at cluster scale the same role is played by a
    _SUCCESS marker or a transactional catalog commit.
    """
    df = spark.createDataFrame([(a,) for a in artifacts],
                               "artifact STRING")
    save_as_table(df.write.mode("overwrite").format("parquet"),
                  f"{prefix}_manifest")
    return f"{prefix}_manifest"


def invalidate_manifest(spark, prefix: str) -> None:
    """Drop ``{prefix}_manifest`` BEFORE a rebuild touches any artifact
    table. Without this, the manifest-last protocol is only crash-atomic
    for first builds: a rebuild that overwrites artifact #1 and then
    crashes leaves the OLD manifest pointing at a mixed-generation index
    that ``index_ready`` would keep trusting forever. Invalidate-first /
    commit-last (index_commit) brackets the whole rebuild so any crash
    inside it reads as "not ready → rebuild"."""
    spark.sql(f"DROP TABLE IF EXISTS {prefix}_manifest")


def index_ready(spark, prefix: str) -> bool:
    """True iff ``{prefix}_manifest`` exists AND every artifact table
    it lists exists. Covers both failure shapes: a crash before the
    manifest write (manifest missing) and an artifact dropped after a
    successful build (manifest lists a table the catalog lost)."""
    if not spark.catalog.tableExists(f"{prefix}_manifest"):
        return False
    listed = [r.artifact
              for r in spark.table(f"{prefix}_manifest").collect()]
    return all(spark.catalog.tableExists(t) for t in listed)


def clear_append_ledger(spark, prefix: str,
                        includes_appends: bool = False) -> list[str]:
    """Drop ``{prefix}_appends`` — every REBUILD does, through
    index_commit's ``quarantine``/``waive`` handling: a rebuilt index is a
    new generation containing only the source corpus, so previously
    appended batches' data is gone — if their ledger entries
    survived, an at-least-once re-delivery would be skipped and the
    loss made permanent. COMPACTION must NOT call this: it absorbs
    batch data into the base generation, so absorbed ids must keep
    deduplicating re-delivery.

    DELIVERY CONTRACT (closed in r9): a rebuild DISCARDS every
    previously committed batch whose rows are not in the rebuild's
    source corpus. The cleared ids are therefore QUARANTINED in
    ``{prefix}_cleared`` (written BEFORE the ledger drop, so a crash
    between the two can only over-quarantine, never lose the record);
    every subsequent append of a NEW batch id refuses via
    ``require_appendable`` until each quarantined id is either
    re-delivered (its re-append puts it back in the ledger, which
    lifts it out of pending automatically) or explicitly waived with
    ``acknowledge_cleared`` (e.g. the rebuild's source corpus already
    contained the appended rows, so nothing was lost). No batch can
    be silently dropped AND no loss can be silently built past.

    ``includes_appends=True`` (ADVICE r9) is the caller's explicit
    assertion that the rebuild's source corpus CONTAINS every
    appended batch's rows (the common rebuild-from-absorbed-corpus
    flow): the cleared ids are then waived inline instead of
    quarantined, so the provably-lossless path needs no out-of-band
    ``acknowledge_cleared`` call. The assertion is the caller's to
    make — a lying caller launders loss, which is why the default
    stays False."""
    import logging

    cleared: list[str] = []
    if spark.catalog.tableExists(f"{prefix}_appends"):
        cleared = [r.batch_id
                   for r in spark.table(f"{prefix}_appends")
                   .select("batch_id").distinct().collect()]
    if cleared and includes_appends:
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_appends")
        logging.getLogger(__name__).info(
            "%s: rebuild cleared %d committed append batch(es) %s — "
            "waived inline (caller asserted the rebuild source "
            "includes their rows)", prefix, len(cleared),
            sorted(cleared))
        return cleared
    if cleared:
        spark.createDataFrame([(b,) for b in cleared],
                              "batch_id STRING") \
            .write.mode("append").format("parquet") \
            .saveAsTable(f"{prefix}_cleared")
    spark.sql(f"DROP TABLE IF EXISTS {prefix}_appends")
    if cleared:
        logging.getLogger(__name__).warning(
            "%s: rebuild cleared %d committed append batch(es) %s — "
            "quarantined in %s_cleared; new appends refuse until each "
            "is re-delivered or acknowledge_cleared() waives it",
            prefix, len(cleared), sorted(cleared), prefix)
    return cleared


class QuarantinedBatchesError(RuntimeError):
    """New appends are refused because a rebuild cleared committed
    batches that have been neither re-delivered nor waived. Carries
    ``prefix`` and the ``pending`` ids so an orchestrator can requeue
    exactly those batches (or call ``acknowledge_cleared``)."""

    def __init__(self, prefix: str, pending: list[str], caller: str):
        self.prefix = prefix
        self.pending = sorted(pending)
        super().__init__(
            f"{caller}: {prefix} has {len(pending)} quarantined "
            f"batch(es) {self.pending} whose data a rebuild discarded "
            f"— re-deliver them (append under the same batch_id) or "
            f"waive with acknowledge_cleared() before committing new "
            f"batches")


def quarantined_batch_ids(spark, prefix: str) -> list[str]:
    """Batch ids a rebuild discarded that are still PENDING: in
    ``{prefix}_cleared`` but absent from the current append ledger.
    Subtracting the ledger makes re-delivery self-healing — the
    moment a quarantined id's re-append commits (record_append), it
    stops pending with no extra bookkeeping write, and a crash between
    the data write and any cleanup cannot strand it."""
    if not spark.catalog.tableExists(f"{prefix}_cleared"):
        return []
    cleared = {r.batch_id
               for r in spark.table(f"{prefix}_cleared")
               .select("batch_id").distinct().collect()}
    if spark.catalog.tableExists(f"{prefix}_appends"):
        cleared -= {r.batch_id
                    for r in spark.table(f"{prefix}_appends")
                    .select("batch_id").distinct().collect()}
    return sorted(cleared)


def acknowledge_cleared(spark, prefix: str,
                        batch_ids: list[str] | None = None) -> list[str]:
    """Explicitly waive quarantined batch ids (all of them when
    ``batch_ids`` is None): the orchestrator asserts the rebuild's
    source corpus already covered those batches' rows, so nothing was
    lost and re-delivery is unnecessary. Physically removes the ids
    from ``{prefix}_cleared`` (a waiver must survive later rebuilds,
    which would otherwise re-quarantine ledger ids they clear).
    Returns the ids actually removed."""
    t = f"{prefix}_cleared"
    if not spark.catalog.tableExists(t):
        return []
    present = [r.batch_id
               for r in spark.table(t).select("batch_id")
               .distinct().collect()]
    waived = present if batch_ids is None else \
        [b for b in present if b in set(batch_ids)]
    remaining = [b for b in present if b not in set(waived)]
    if not remaining:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    elif waived:
        # tiny O(#batches) rewrite via a driver-side list — the ids
        # were already collected above, so no self-read-overwrite
        spark.createDataFrame([(b,) for b in remaining],
                              "batch_id STRING") \
            .write.mode("overwrite").format("parquet").saveAsTable(t)
    return sorted(waived)


def require_appendable(spark, prefix: str, batch_id: str | None,
                       caller: str) -> None:
    """Refuse to commit a NEW batch while quarantined (rebuild-
    discarded, un-redelivered, un-waived) ids are pending — silently
    building past a known loss would launder it into the index's
    history. A pending id itself IS allowed through: that is the
    re-delivery path that drains the quarantine. ``batch_id=None``
    (ad-hoc at-least-once append) counts as a new commit."""
    pending = quarantined_batch_ids(spark, prefix)
    if pending and (batch_id is None or batch_id not in set(pending)):
        raise QuarantinedBatchesError(prefix, pending, caller)


def append_recorded(spark, prefix: str, batch_id: str) -> bool:
    """True iff ``batch_id`` is already committed in the index's
    append ledger ``{prefix}_appends`` — the dedupe check that makes
    re-delivered ingestion batches a no-op (exactly-once appends on
    top of at-least-once delivery)."""
    if not spark.catalog.tableExists(f"{prefix}_appends"):
        return False
    from pyspark.sql import functions as F

    return bool(spark.table(f"{prefix}_appends")
                .where(F.col("batch_id") == batch_id).limit(1).count())


def record_append(spark, prefix: str, batch_id: str) -> None:
    """Commit ``batch_id`` to the append ledger, AFTER the data
    write. Marker-last means a crash between data and marker re-runs
    the append on retry — safe under either of the two recovery
    modes a stored family must pick (do NOT write a marker-last
    append without one of them):

    1. IDEMPOTENT DATA WRITE (ivfpq/semdedup, CDC staging, via
       record_batch): the write is an overwrite keyed on the batch,
       so a retry replaces that batch's data, never duplicates it.
    2. MANIFEST-BRACKET TRANSACTION (bm25/lm/minhash/spans/grams,
       via commit_append): the whole append runs inside
       index_commit, with the marker recorded just before the
       recommit — a crash anywhere leaves the index not-ready, the
       gated reader rebuilds from source, and the rebuild clears
       this ledger; the retry then lands on the fresh index."""
    spark.createDataFrame([(batch_id,)], "batch_id STRING") \
        .write.mode("append").format("parquet") \
        .saveAsTable(f"{prefix}_appends")


def require_index_ready(spark, prefix: str, caller: str) -> None:
    """Gate every append on a COMMITTED index: appending onto a
    torn-rebuild index (artifacts present, manifest missing) would
    report success, record the ledger, and then lose the batch
    forever when the gated reader rebuilds — with upstream believing
    it delivered."""
    if not index_ready(spark, prefix):
        raise ValueError(f"{caller}: {prefix} is not a committed "
                         f"index — build it first")


def require_bucket_count(spark, table: str) -> int:
    """table_num_buckets that RAISES instead of guessing: a rewrite
    that silently re-specs a stored table to a default bucket count
    would cost the probe its exchange-free join with no error
    anywhere — exactly the failure reading the spec back from the
    catalog exists to prevent."""
    nb = table_num_buckets(spark, table)
    if nb is None:
        raise ValueError(f"cannot read bucket spec of {table} from "
                         f"the catalog — refusing to rewrite it "
                         f"under a guessed bucket count")
    return nb


def append_bucketed(df, table: str, bucket_col: str,
                    n_buckets: int) -> None:
    """Append rows to an existing bucketed table under an explicit
    bucket spec (read it with require_bucket_count first — Spark
    errors loudly on a mismatched spec, which is the safe
    failure)."""
    df.write.mode("append").format("parquet") \
        .bucketBy(n_buckets, bucket_col).saveAsTable(table)


def rebuild_ledger(includes_appends: bool) -> str:
    """The ledger handling of a ``*_store_*`` rebuild's index_commit:
    ``waive`` when the caller asserts its source corpus contains every
    appended batch (``rebuild_includes_appends=True``), else
    ``quarantine``."""
    return "waive" if includes_appends else "quarantine"


@contextmanager
def index_commit(spark, prefix: str, names: list[str], ledger: str):
    """THE commit bracket of every stored index — builds, rebuilds,
    version cuts, compactions and manifest-bracket appends all write
    inside it, so no family carries its own copy of the protocol:

      1. invalidate ``{prefix}_manifest`` — from here on a crash reads
         as not-ready and the gated reader rebuilds;
      2. handle the append ledger (see clear_append_ledger):
         ``quarantine`` — a rebuild's new generation lacks the
         appended batches, so their ids are quarantined;
         ``waive`` — the same clear, with the caller asserting the new
         generation contains those batches (rebuild_includes_appends,
         the CDC version cut); ``keep`` — the ledger is untouched
         (a compaction absorbs the batches, an append adds one);
      3. the ``with`` body runs the family's writes, looking up the
         writers (write_bucketed, save_as_table, ...) on this module
         at call time;
      4. commit the manifest listing ``names``, LAST.

    An exception in the body propagates with the manifest still
    invalidated."""
    invalidate_manifest(spark, prefix)
    if ledger != "keep":
        clear_append_ledger(spark, prefix,
                            includes_appends=ledger == "waive")
    yield
    write_manifest(spark, prefix, names)


def begin_append(spark, prefix: str, batch_id: str | None,
                 caller: str) -> bool:
    """THE entry of every ledgered append, run before any batch
    compute: refuse an uncommitted index (require_index_ready); return
    False for a committed re-delivery (ledger hit — the caller returns
    without computing anything); refuse a NEW batch while
    rebuild-discarded ids are pending (require_appendable). True means
    the batch runs and commits through commit_append (manifest-bracket
    families) or record_batch (idempotent-write families)."""
    require_index_ready(spark, prefix, caller)
    if batch_id is not None and append_recorded(spark, prefix, batch_id):
        return False
    require_appendable(spark, prefix, batch_id, caller)
    return True


def record_batch(spark, prefix: str, tables: list[str],
                 batch_id: str | None) -> None:
    """The ledger-last step of an append, after its data writes:
    refresh ``tables`` in ``spark``, then record ``batch_id``
    (``None``, an ad-hoc at-least-once append, records nothing).

    The writes may have run under a DIFFERENT SparkSession than
    ``spark`` (foreachBatch hands the ingest a per-query CLONE whose
    DataFrames carry it through every derived write); sessions share
    the external catalog and the files but each caches table
    relations separately, so without the refresh ``spark`` keeps
    serving the pre-append file listing of these tables."""
    for t in tables:
        spark.catalog.refreshTable(t)
    if batch_id is not None:
        record_append(spark, prefix, batch_id)


@contextmanager
def commit_append(spark, prefix: str, names: list[str],
                  batch_id: str | None):
    """Commit of a MANIFEST-BRACKET append (bm25, lm, minhash, spans,
    contamination grams), after begin_append returned True: the
    ``with`` body runs the family's data writes inside
    ``index_commit(..., "keep")``, then record_batch records the
    ledger entry just before the manifest recommit. A crash anywhere
    leaves the index not-ready; the gated reader rebuilds from source
    and clears the ledger, so a retry of the batch lands exactly
    once."""
    with index_commit(spark, prefix, names, "keep"):
        yield
        record_batch(spark, prefix, names, batch_id)


def files_per_partition(spark, table: str,
                        partition_col: str = "cell") -> dict:
    """File-count health of a partitioned catalog table — the
    compaction TRIGGER signal (VERDICT r7 #5): every exactly-once
    append lands its own file set per touched cell, so files/cell
    grows ~1 per append and scan throughput dies on per-file open
    overhead long before data volume matters. Driver-side: counts
    the catalog's file listing (metadata, no data read), grouping by
    the ``{partition_col}=`` path component. Returns {"cells",
    "files", "max_per_cell", "avg_per_cell"}; PERF.md's rule of
    thumb is to compact when max_per_cell exceeds a small multiple
    of the executor count."""
    import re

    counts: dict[str, int] = {}
    pat = re.compile(rf"/{re.escape(partition_col)}=([^/]+)/")
    for path in spark.table(table).inputFiles():
        m = pat.search(path)
        key = m.group(1) if m else "_unpartitioned"
        counts[key] = counts.get(key, 0) + 1
    total = sum(counts.values())
    return {"cells": len(counts), "files": total,
            "max_per_cell": max(counts.values()) if counts else 0,
            "avg_per_cell": round(total / len(counts), 2) if counts
            else 0.0}


def compact_partitioned_table(spark, table: str,
                              partition_cols: list[str],
                              batch_col: str = "_batch",
                              base_value: str = "base",
                              collect_stats: bool = True,
                              recover_from_stage: bool = False) -> dict:
    """Absorb appended ingestion batches back into the base
    generation of a (partition, batch)-partitioned catalog table —
    the maintenance job the exactly-once append path needs over
    time: every batch lands as its own file set per cell, and scan
    throughput dies on per-file open overhead long before data
    volume matters (same disease compact_parquet treats for plain
    paths).

    Rewrites every row under ``batch_col = base_value`` with one
    file set per partition value, via a staging table (Spark refuses
    to overwrite a table it is reading). The APPEND LEDGER IS NOT
    TOUCHED: absorbed batch ids stay committed, so a re-delivery of
    an absorbed batch remains a no-op — clearing the ledger would
    re-open the exactly-once window. The caller runs this inside
    ``index_commit(..., "keep")`` so a torn compaction reads as
    not-ready instead of serving a half-rewrite.
    Returns {"rows", "files_before", "files_after"} — the stats are
    two extra full-table jobs (count + file listing), so pass
    ``collect_stats=False`` on a maintenance cadence where only the
    rewrite matters (ADVICE r7); stats then come back as None. The
    staging table is dropped on success and on a crash DURING the
    stage write (it is garbage then), so it never squats in the
    catalog across healthy runs (ADVICE r7) — but a crash during
    the FINAL overwrite keeps the stage: at that point the target is
    torn and the stage is the only intact copy of the compacted data
    (the caller's manifest bracket reads not-ready either way; the
    stage lets an operator finish the overwrite instead of paying
    the gated full rebuild, which discards committed append
    batches).

    A PRE-EXISTING stage at entry therefore means a previous run
    crashed around its final overwrite — recompacting would read the
    possibly-torn target and DESTROY the recovery copy, so this
    REFUSES by default (r9, ADVICE). Pass ``recover_from_stage=True``
    to instead finish the interrupted overwrite (restore the target
    from the stage, drop the stage) and then compact the restored
    table; the stage's presence in the CATALOG implies its own write
    committed (saveAsTable registers the entry after the data lands),
    which is what makes the restore safe.
    """
    from pyspark.sql import functions as F

    stage = f"{table}_stage"
    if spark.catalog.tableExists(stage):
        if not recover_from_stage:
            raise RuntimeError(
                f"compact_partitioned_table: {stage} already exists — "
                f"a previous compaction crashed around its final "
                f"overwrite and the stage may be the only intact copy "
                f"of {table}; rerun with recover_from_stage=True to "
                f"restore {table} from it (or drop {stage} yourself "
                f"if you have verified {table} is intact)")
        save_as_table(
            spark.table(stage).write.mode("overwrite").format("parquet")
            .partitionBy(*partition_cols, batch_col), table)
        spark.sql(f"DROP TABLE IF EXISTS {stage}")
    files_before = (len(spark.table(table).inputFiles())
                    if collect_stats else None)
    rows = spark.table(table).count() if collect_stats else None
    df = (spark.table(table)
          .withColumn(batch_col, F.lit(base_value))
          .repartition(*partition_cols))
    stage_written = overwrite_done = False
    try:
        save_as_table(
            df.write.mode("overwrite").format("parquet")
            .partitionBy(*partition_cols, batch_col), stage)
        stage_written = True
        save_as_table(
            spark.table(stage).write.mode("overwrite").format("parquet")
            .partitionBy(*partition_cols, batch_col), table)
        overwrite_done = True
    finally:
        if overwrite_done or not stage_written:
            spark.sql(f"DROP TABLE IF EXISTS {stage}")
    return {"rows": rows,
            "files_before": files_before,
            "files_after": (len(spark.table(table).inputFiles())
                            if collect_stats else None)}


def compact_parquet(spark, path: str, target_bytes: int = 128 * 1024 * 1024,
                    sort_col: str | None = None) -> dict:
    """Small-files compaction — the maintenance job every long-running
    100 TB ingest needs: streaming sinks and per-batch overwrites
    accumulate many tiny parquet files, and scan throughput dies on
    per-file open overhead long before data volume matters. Rewrites
    ``path`` into ceil(total_bytes / target_bytes) files (optionally
    sorted WITHIN files by ``sort_col`` for row-group skipping on a
    known predicate column) via an atomic same-filesystem rename:
    write to a sibling temp dir, swap, delete the old data.

    Returns {"files_before", "files_after", "bytes"}. The rewrite is
    one repartition-by-count job — no shuffle key, so Spark performs
    a round-robin exchange sized by the file budget; with sort_col it
    becomes a repartitionByRange + sortWithinPartitions (one range
    exchange, cluster-standard for sorted compaction).
    """
    import glob as _glob
    import os
    import shutil
    import uuid as _uuid

    files = [f for f in _glob.glob(os.path.join(path, "**", "*.parquet"),
                                   recursive=True)
             if os.path.isfile(f)]
    if not files:
        raise ValueError(f"no parquet files under {path}")
    total = sum(os.path.getsize(f) for f in files)
    n_out = max(1, -(-total // int(target_bytes)))
    df = spark.read.parquet(path)
    tmp = f"{path.rstrip('/')}__compact_{_uuid.uuid4().hex[:8]}"
    if sort_col is not None:
        out = (df.repartitionByRange(n_out, F.col(sort_col))
               .sortWithinPartitions(sort_col))
    else:
        out = df.repartition(n_out)
    out.write.mode("overwrite").parquet(tmp)
    old = f"{path.rstrip('/')}__old_{_uuid.uuid4().hex[:8]}"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    after = [f for f in _glob.glob(os.path.join(path, "**", "*.parquet"),
                                   recursive=True) if os.path.isfile(f)]
    return {"files_before": len(files), "files_after": len(after),
            "bytes": int(total)}
