"""Deduplication operators for large-scale training-data pipelines.

Text families below are expressed with built-in column expressions (no
Python in the hot path — every plan stays inside whole-stage codegen);
embedding-based dedup lives in operators/similarity.py and clustering
of the resulting pairs in operators/cluster.py:

- exact_dedup:        md5 over normalized text, keep-lowest-id groups
- ngram_jaccard_pairs: exact pairwise Jaccard over word n-gram shingles
  (quadratic verify — correctness baseline; LSH below is the scale path)
- minhash_lsh_pairs:  MinHash signatures + banded LSH candidate
  generation, exact-Jaccard verification of candidates only. At 100 TB
  the band join touches only colliding buckets, so the quadratic blowup
  disappears; the band hash is the shuffle key and near-dup clusters
  stay small.
- simhash_pairs:      60-bit SimHash + pigeonhole banding (4 x 15-bit
  chunks: hamming <= 3 guarantees at least one equal chunk), verified
  by exact hamming distance.

Determinism: the only hash primitive is md5 -> first 15 hex digits ->
int64 (60 bits, non-negative), which DuckDB reproduces exactly as
``('0x' || substr(md5(x), 1, 15))::BIGINT`` — so every signature,
band, bucket, and verified pair is bit-identical across engines and
oracle-checkable.

Scale notes (100 TB): shingle explosion is ~tokens x 1 rows; the
MinHash groupBy(doc_id) is a single shuffle on doc_id; band-bucket
joins shuffle on (band, hash) which is uniformly distributed by
construction. Skewed buckets (degenerate shingles, e.g. empty docs)
should be salted or dropped by a bucket-size cap before the pair join
— ``max_bucket`` in minhash_lsh_pairs does exactly that.
"""

from __future__ import annotations

import logging
import threading
import weakref

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .arrow_kernel import map_arrow, md5_60


def md5_long(col: Column) -> Column:
    """Portable 60-bit hash: md5 hex -> first 15 nibbles -> int64.

    DuckDB equivalent: ('0x' || substr(md5(x), 1, 15))::BIGINT.
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


# Persisted-frame registry, keyed per SparkSession so one session's
# release cannot unpersist frames another session is still computing
# against (that would only force recompute, not wrong results, but it
# is a silent performance cliff). Guarded by a lock for concurrent
# query threads inside one process.
#
# Leak contract (ADVICE r3 + r4): a session dropped WITHOUT an
# explicit release_signature_cache() must not be kept alive for the
# process lifetime by this registry. The r3 WeakKeyDictionary did not
# deliver that — its values (DataFrames) strongly reference
# df.sparkSession, so the weak key could never be collected. The
# registry therefore now holds NOTHING that references the Python
# SparkSession wrapper: keys are id(session) (plain ints) and values
# are the JVM-side Dataset handles (df._jdf, a py4j JavaObject that
# references the gateway client, not the session wrapper — the same
# narrow private-access seam operators/sketches.py documents for its
# JVM shim). A weakref.finalize on the session wrapper unpersists any
# leftovers and drops the entry once the wrapper is garbage-collected.
# RLock, not Lock: the weakref.finalize callback (_drop_cache_entry)
# takes this lock, and cyclic GC can run that finalizer synchronously
# in whatever thread is allocating — including a thread inside
# _tracked_persist's own locked section. A plain Lock would
# self-deadlock there; reentrancy makes the finalizer's pop of a
# (necessarily different, already-dead) session key safe.
_CACHE_LOCK = threading.RLock()
_CACHED_JDFS: dict[int, list] = {}  # id(session) -> [jdf, ...]
_CACHE_FINALIZERS: dict[int, "weakref.finalize"] = {}


def _drop_cache_entry(key: int) -> int:
    """Unpersist and forget one session's cached frames (by id).

    Runs from release_signature_cache() or from the session wrapper's
    GC finalizer. id() reuse after collection is safe: the finalizer
    removes the entry before the id can be handed to a new session,
    and the worst pathological outcome would be an early unpersist —
    a recompute, never a wrong result.
    """
    with _CACHE_LOCK:
        jdfs = _CACHED_JDFS.pop(key, [])
        fin = _CACHE_FINALIZERS.pop(key, None)
    if fin is not None:
        fin.detach()  # no-op if this call IS the finalizer
    n = 0
    for jdf in jdfs:
        try:
            jdf.unpersist(False)
            n += 1
        except Exception:
            pass  # JVM session already stopped — nothing to release
    return n


def _tracked_persist(df: DataFrame) -> DataFrame:
    """persist() + registration so long-lived sessions can release.

    minhash_lsh_pairs / simhash_pairs persist their signature frames
    (both sides of a self-join read them); the RETURNED plan still
    references those blocks, so they cannot be unpersisted inside the
    operator. Callers that run many queries in one session (Engine,
    bench loops) call release_signature_cache() after materializing
    each result; otherwise Spark's LRU eviction reclaims the blocks.
    """
    df = df.persist()
    sess = df.sparkSession
    key = id(sess)
    with _CACHE_LOCK:
        if key not in _CACHED_JDFS:
            _CACHED_JDFS[key] = []
            _CACHE_FINALIZERS[key] = weakref.finalize(
                sess, _drop_cache_entry, key)
        _CACHED_JDFS[key].append(df._jdf)
    return df


def release_signature_cache(session: SparkSession | None = None) -> int:
    """Unpersist every signature/shingle frame cached by the dedup
    operators since the last release, for ONE session. Safe to call
    any time AFTER the consuming query has been materialized
    (collect/count/write); returns the number of frames released.

    ``session`` defaults to the active session; frames persisted by
    OTHER sessions are left alone (releasing them here would silently
    force recompute in those sessions). Pass the session explicitly
    from non-Spark threads where no active session is set.
    """
    if session is None:
        session = SparkSession.getActiveSession()
    if session is None:
        # no active session (e.g. interpreter teardown): drain all.
        # Log when this fires with live entries — if another
        # session's frames are in here, this call defeats the
        # per-session isolation (ADVICE r3) and the caller should
        # pass its session explicitly.
        with _CACHE_LOCK:
            keys = list(_CACHED_JDFS)
        if keys:
            logging.getLogger(__name__).warning(
                "release_signature_cache() called with no active "
                "session; draining cached frames of %d session(s)",
                len(keys),
            )
        return sum(_drop_cache_entry(k) for k in keys)
    return _drop_cache_entry(id(session))


def lower_text(c: Column) -> Column:
    """``lower`` as the DuckDB oracles lowercase: U+0130 (dotted
    capital I) is mapped to ``i`` first, where the JVM's full case
    mapping gives ``i`` plus a combining dot (a word break after the
    alphanumeric strip, an extra regex token, a missed stop word)."""
    return F.lower(F.translate(c, "\u0130", "i"))


def normalized_text(col: str = "text") -> Column:
    """Lowercase (``lower_text``), strip non-alphanumerics, collapse
    whitespace."""
    c = lower_text(F.col(col))
    c = F.regexp_replace(c, "[^a-z0-9 ]", " ")
    c = F.regexp_replace(c, " +", " ")
    return F.trim(c)


def shingle_array(tokens_col: str, n: int = 3) -> Column:
    """Distinct word n-gram shingles; whole text if fewer than n tokens."""
    t = tokens_col
    return F.expr(
        f"CASE WHEN size({t}) < {n} THEN array(concat_ws(' ', {t})) "
        f"ELSE array_distinct(transform(sequence(1, size({t}) - {n - 1}), "
        f"i -> concat_ws(' ', slice({t}, i, {n})))) END"
    )


def with_tokens(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """(id, tokens: array<string>), pre-partitioned by id.

    The repartition of the RAW rows is load-bearing: small corpora
    arrive as one parquet split, and the interpreted higher-order
    expressions downstream (transform/slice lambdas are CodegenFallback)
    would otherwise run on a single core. Shuffling (id, text) is cheap;
    it also co-partitions for every consumer's groupBy(id).

    Consumers must use explode_outer, never explode: inner explode
    makes Catalyst infer a `size(arr) > 0 AND isnotnull(arr)` filter
    that gets pushed below the exchange and re-evaluates the whole
    array-construction expression twice per row at the scan
    (measured on sf0.1: 10.5s inner vs 0.5s outer).
    """
    # explicit partition count: AQE would coalesce a size-based
    # repartition to ~1 partition (raw text is small) and serialize the
    # CPU-heavy hashing that follows — partition for the downstream
    # compute, not the input bytes
    n_parts = docs.sparkSession.sparkContext.defaultParallelism
    return docs.repartition(n_parts, F.col(id_col)).select(
        F.col(id_col), F.split(normalized_text(text_col), " ").alias("tokens")
    )


def with_shingles(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", n: int = 3) -> DataFrame:
    """(id, shingles: array<string>) per document, pre-partitioned by
    id (see with_tokens for the why of the repartition/explode_outer
    contract)."""
    return with_tokens(docs, id_col, text_col).select(
        F.col(id_col), shingle_array("tokens", n).alias("shingles")
    )


# ------------------------------------------------------------------ exact

def exact_dedup(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Group identical (normalized) texts; keep the lowest id.

    Returns (fingerprint, keeper_id, n_dups). One shuffle on the
    16-byte fingerprint — uniformly distributed, no skew at any scale.
    Reference analogue: none (the reference has no batch dedup); this
    is the training-pipeline extension required by the build brief.
    """
    return (
        docs.select(
            F.md5(normalized_text(text_col)).alias("fingerprint"),
            F.col(id_col),
        )
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


# -------------------------------------------------------- exact jaccard

def ngram_jaccard_pairs(docs: DataFrame, threshold: float,
                        id_col: str = "doc_id", text_col: str = "text",
                        n: int = 3) -> DataFrame:
    """All pairs (a < b) with shingle-set Jaccard >= threshold.

    Exact formulation: explode shingles, self-join on shingle to count
    the intersection, then |A u B| = |A| + |B| - |A n B|. The shingle
    join shuffles on shingle text — fine at test scale and the
    correctness oracle for minhash_lsh_pairs, but quadratic in cluster
    size; use minhash_lsh_pairs for 100 TB runs.
    """
    sh = with_shingles(docs, id_col, text_col, n)
    sizes = sh.select(F.col(id_col), F.size("shingles").alias("n_sh"))
    ex = sh.select(F.col(id_col), F.explode_outer("shingles").alias("shingle"))
    a, b = ex.alias("a"), ex.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"),
                 F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    jac = (F.col("n_common").cast("double")
           / (F.col("n_a") + F.col("n_b") - F.col("n_common")))
    return (
        common.join(sa, "id_a").join(sb, "id_b")
        .select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


# --------------------------------------------------------- minhash lsh

def minhash_signatures(docs: DataFrame, k: int = 12,
                       id_col: str = "doc_id", text_col: str = "text",
                       n: int = 3) -> DataFrame:
    """(id, mh0..mh{k-1}) MinHash signature per document.

    h_i(s) = md5_long(i || '|' || s); one explode + one groupBy(id).
    """
    sh = with_shingles(docs, id_col, text_col, n)
    ex = sh.select(F.col(id_col), F.explode_outer("shingles").alias("shingle"))
    aggs = [
        F.min(md5_long(F.concat_ws("|", F.lit(str(i)), F.col("shingle"))))
        .alias(f"mh{i}")
        for i in range(k)
    ]
    return ex.groupBy(id_col).agg(*aggs)


def minhash_lsh_pairs(docs: DataFrame, threshold: float, k: int = 12,
                      bands: int = 4, id_col: str = "doc_id",
                      text_col: str = "text", n: int = 3,
                      max_bucket: int | None = None) -> DataFrame:
    """Near-dup pairs via banded MinHash-LSH, verified with exact Jaccard.

    bands x r = k; a pair collides if any band's r minhashes all agree.
    Candidates are verified against the true shingle-set Jaccard so the
    output has no false positives (false negatives only if no band
    collides — probability (1 - j^r)^bands, e.g. ~0.2% at j=0.8 with
    k=12, bands=4).

    max_bucket drops degenerate buckets (> max_bucket docs) before the
    pair join — the skew guard for web-scale corpora where boilerplate
    shingle sets collapse millions of docs into one bucket.
    """
    assert k % bands == 0
    r = k // bands
    # persist: the signature frame (one small row per doc) feeds BOTH
    # sides of the bucket self-join below — without it Spark recomputes
    # the explode+groupBy signature subtree per side (the broadcast
    # join leaves no common exchange to reuse). Same design at 100 TB:
    # signatures are the materialized artifact, the joins read them.
    sigs = _tracked_persist(minhash_signatures(docs, k, id_col, text_col, n))
    # one posexplode projection instead of a bands-way union: the
    # signature subtree exists ONCE in the plan, so the self-join below
    # reuses a single shuffle (union branches would recompute the
    # explode+groupBy once per band per side)
    band_hashes = F.array(*[
        F.md5(F.concat_ws(",", *[
            F.col(f"mh{bi * r + j}").cast("string") for j in range(r)
        ]))
        for bi in range(bands)
    ])
    buckets = sigs.select(
        F.col(id_col), F.posexplode(band_hashes).alias("band", "bucket")
    )
    if max_bucket is not None:
        big = (buckets.groupBy("band", "bucket")
               .agg(F.count(F.lit(1)).alias("_n"))
               .where(F.col("_n") > max_bucket)
               .select("band", "bucket"))
        buckets = buckets.join(big, ["band", "bucket"], "left_anti")
    a, b = buckets.alias("a"), buckets.alias("b")
    cands = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    sh = _tracked_persist(with_shingles(docs, id_col, text_col, n))
    sha = sh.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
    shb = sh.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = (inter.cast("double")
           / (F.size("sh_a") + F.size("sh_b") - inter))
    return (
        cands.join(sha, "id_a").join(shb, "id_b")
        .select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


# -------------------------------------------------------------- simhash

SIMHASH_BITS = 60  # fits the 60-bit md5_long domain


def simhash_signatures(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """60-bit SimHash over word frequencies.

    bit j = 1 iff sum over words w of cnt(w) * (bit_j(h(w)) ? +1 : -1)
    is positive. The sum is linear in occurrences, so it needs no
    per-(doc, word) count stage.

    The signature is md5-bound and strictly per-document, so it runs
    as ONE Arrow kernel: each doc's distinct words are hashed once with
    C hashlib (``md5_60`` == md5_long), and the 60 bit sums are one
    (words x 60) numpy reduction weighted by occurrence counts (integer
    arithmetic, bit-identical to 60 conditional sums by linearity); the
    exploded token rows never exist Spark-side. NULL text gives 0 (the
    explode_outer form this replaced saw one NULL word, whose NULL hash
    fails every bit test).
    """
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType([
        StructField(id_col, docs.schema[id_col].dataType),
        StructField("simhash", LongType()),
    ])
    n_bits = SIMHASH_BITS

    def _simhash(batch):
        import numpy as np

        shifts = np.arange(n_bits, dtype=np.int64)
        weights = np.int64(1) << shifts
        out = []
        for s in batch.column(1).to_pylist():
            if s is None:
                out.append(0)
                continue
            toks = s.split(" ")
            cnt: dict = {}
            for t in toks:
                cnt[t] = cnt.get(t, 0) + 1
            h = np.fromiter((md5_60(wd.encode()) for wd in cnt),
                            dtype=np.int64, count=len(cnt))
            c = np.fromiter(cnt.values(), dtype=np.int64, count=len(cnt))
            sj = 2 * (c @ ((h[:, None] >> shifts) & 1)) - len(toks)
            out.append(int(weights[sj > 0].sum()))
        return batch.column(0), out

    return map_arrow(docs, [F.col(id_col),
                            normalized_text(text_col).alias("_nt")],
                     out_schema, _simhash, partition_by=id_col)


def simhash_pairs(docs: DataFrame, max_hamming: int = 3,
                  id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Pairs with SimHash hamming distance <= max_hamming.

    Pigeonhole banding: split 60 bits into 4 x 15-bit chunks; d <= 3
    implies at least one chunk is equal, so candidates come from 4
    equality joins on a chunk value (each a plain shuffle join on a
    uniform key) instead of a cross join. Exact hamming verifies.

    A NULL document has no words, so it pairs with nothing: it is
    dropped before signing (simhash_signatures would sign it 0, which
    pairs any two NULL documents at hamming 0).
    """
    # persist: both sides of the chunk self-join read this one small
    # frame (one row per doc); unpersisted, the 60-aggregate signature
    # subtree runs once per side (no shared exchange to reuse under a
    # broadcast join). The persisted signature table is also what a
    # 100 TB deployment would materialize.
    sigs = _tracked_persist(simhash_signatures(
        docs.where(F.col(text_col).isNotNull()), id_col, text_col))
    chunk_w = SIMHASH_BITS // 4
    # posexplode instead of a 4-way union: one signature subtree in the
    # plan, so the self-join reuses one shuffle instead of recomputing
    # the 60-column aggregation per branch per side
    chunk_vals = F.array(*[
        F.shiftright(F.col("simhash"), ci * chunk_w)
        .bitwiseAND(F.lit((1 << chunk_w) - 1))
        for ci in range(4)
    ])
    chunks = sigs.select(
        F.col(id_col), F.col("simhash"),
        F.posexplode(chunk_vals).alias("chunk", "chunk_val"),
    )
    a, b = chunks.alias("a"), chunks.alias("b")
    cands = (
        a.join(b, (F.col("a.chunk") == F.col("b.chunk"))
               & (F.col("a.chunk_val") == F.col("b.chunk_val"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                F.col("a.simhash").alias("sim_a"),
                F.col("b.simhash").alias("sim_b"))
        .distinct()
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        cands.select("id_a", "id_b", hamming.cast("long").alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


def band_buckets(sigs: DataFrame, k: int, bands: int,
                 id_col: str = "doc_id") -> DataFrame:
    """(id, band, bucket) LSH probe keys from a signature frame — one
    posexplode projection (see minhash_lsh_pairs for why not a
    bands-way union)."""
    r = k // bands
    band_hashes = F.array(*[
        F.md5(F.concat_ws(",", *[
            F.col(f"mh{bi * r + j}").cast("string") for j in range(r)
        ]))
        for bi in range(bands)
    ])
    return sigs.select(
        F.col(id_col), F.posexplode(band_hashes).alias("band", "bucket")
    )


def dedup_incremental(corpus: DataFrame, delta: DataFrame, threshold: float,
                      k: int = 12, bands: int = 4, id_col: str = "doc_id",
                      text_col: str = "text", n: int = 3,
                      corpus_buckets: DataFrame | None = None,
                      corpus_shingles: DataFrame | None = None) -> DataFrame:
    """Dedup an incoming DELTA batch against an existing CORPUS and
    against itself — the production shape of near-dup dedup at 100 TB:
    the corpus is NOT re-deduped per batch; its signatures/buckets are
    a materialized artifact (computed once, stored partitioned by
    (band, bucket)), and each new batch computes only its own
    signatures and probes. Here both sides are derived in-plan; in
    production swap ``minhash_signatures(corpus)`` for a read of the
    signature store — the probe join is identical and co-partitioned.

    Per delta doc: status = 'dup_corpus' if it verifies (exact shingle
    Jaccard >= threshold, after LSH candidate generation) against any
    corpus doc; else 'dup_delta' if it verifies against a SMALLER-id
    delta doc (greedy min-id-first, matching the clusters keeper
    convention); else 'kept'. n_corpus_matches counts the verified
    corpus collisions (0 unless dup_corpus).
    """
    # ``corpus_buckets``/``corpus_shingles`` are the stored-artifact
    # seams (the pq_topk pattern): pass dedup_store_corpus's tables
    # and the corpus is never re-signed nor re-shingled at batch time
    if corpus_buckets is not None:
        bc = corpus_buckets
    else:
        sigs_c = _tracked_persist(
            minhash_signatures(corpus, k, id_col, text_col, n))
        bc = band_buckets(sigs_c, k, bands, id_col)
    sigs_d = _tracked_persist(
        minhash_signatures(delta, k, id_col, text_col, n))
    bd = band_buckets(sigs_d, k, bands, id_col)
    sh_c = (corpus_shingles if corpus_shingles is not None
            else _tracked_persist(with_shingles(corpus, id_col,
                                                text_col, n)))
    sh_d = _tracked_persist(with_shingles(delta, id_col, text_col, n))

    def _jac(a: str, b: str) -> Column:
        inter = F.size(F.array_intersect(a, b))
        return F.round(
            inter.cast("double") / (F.size(a) + F.size(b) - inter), 4)

    cand_cd = (
        bd.alias("d").join(bc.alias("c"), ["band", "bucket"])
        .select(F.col(f"d.{id_col}").alias("did"),
                F.col(f"c.{id_col}").alias("cid"))
        .distinct()
    )
    ver_cd = (
        cand_cd
        .join(sh_d.select(F.col(id_col).alias("did"),
                          F.col("shingles").alias("sh_a")), "did")
        .join(sh_c.select(F.col(id_col).alias("cid"),
                          F.col("shingles").alias("sh_b")), "cid")
        .where(_jac("sh_a", "sh_b") >= threshold)
        .groupBy("did")
        .agg(F.count(F.lit(1)).cast("long").alias("n_corpus_matches"))
    )
    a, b = bd.alias("a"), bd.alias("b")
    cand_dd = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    dup_delta = (
        cand_dd
        .join(sh_d.select(F.col(id_col).alias("id_a"),
                          F.col("shingles").alias("sh_a")), "id_a")
        .join(sh_d.select(F.col(id_col).alias("id_b"),
                          F.col("shingles").alias("sh_b")), "id_b")
        .where(_jac("sh_a", "sh_b") >= threshold)
        .select(F.col("id_b").alias("did")).distinct()
        .withColumn("_dd", F.lit(True))
    )
    return (
        delta.select(F.col(id_col))
        .join(ver_cd.withColumnRenamed("did", id_col), id_col, "left")
        .join(dup_delta.withColumnRenamed("did", id_col), id_col, "left")
        .select(
            F.col(id_col),
            F.when(F.col("n_corpus_matches").isNotNull(), "dup_corpus")
            .when(F.col("_dd"), "dup_delta")
            .otherwise("kept").alias("status"),
            F.coalesce("n_corpus_matches", F.lit(0)).cast("long")
            .alias("n_corpus_matches"),
        )
    )


def dedup_store_corpus(corpus: DataFrame, prefix: str, k: int = 12,
                       bands: int = 4, n: int = 3, n_buckets: int = 8,
                       id_col: str = "doc_id",
                       text_col: str = "text",
                       rebuild_includes_appends: bool = False) -> list[str]:
    """Materialize the corpus-side artifacts of incremental near-dup
    dedup as catalog tables — the production shape the
    dedup_incremental docstring promises:
      {prefix}_buckets   (band, bucket, id)  LSH probe side, stored
                         bucketed on the LSH bucket hash so the
                         delta-probe join partitions align
      {prefix}_shingles  (id, shingles)      exact-verify side,
                         bucketed on the doc id
    Built once per corpus version; each arriving batch then signs
    and shingles ONLY ITSELF and probes these tables
    (dedup_incremental with corpus_buckets/corpus_shingles, probe ≡
    inline test-asserted)."""
    from ..sources.readers import (index_commit, rebuild_ledger,
                                   write_bucketed)

    names = [f"{prefix}_buckets", f"{prefix}_shingles"]
    with index_commit(corpus.sparkSession, prefix, names,
                      rebuild_ledger(rebuild_includes_appends)):
        sigs = minhash_signatures(corpus, k, id_col, text_col, n)
        bc = band_buckets(sigs, k, bands, id_col)
        write_bucketed(bc, names[0], "bucket", n_buckets)
        sh = with_shingles(corpus, id_col, text_col, n).select(
            F.col(id_col), F.col("shingles"))
        write_bucketed(sh, names[1], id_col, n_buckets)
    return names


def dedup_append_corpus(spark, prefix: str, accepted: DataFrame,
                        batch_id: str | None = None, k: int = 12,
                        bands: int = 4, n: int = 3,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> int:
    """Fold accepted documents into the stored incremental-dedup
    corpus artifacts — the accept side of the probe -> keep ->
    append loop for the minhash family: sign and shingle ONLY the
    batch and append its rows to the bucketed {prefix}_buckets /
    {prefix}_shingles tables under their own catalog bucket specs
    (rows are per-doc — no key collisions, so plain appends keep the
    probe joins co-partitioned). ``k/bands/n`` MUST match the store
    (the hyperparameter contract documented on dedup_store_corpus);
    signatures computed under different parameters would silently
    never collide with the stored buckets.

    Same transaction/ledger shape as the other stored families
    (begin_append, then commit_append): manifest invalidated first
    and recommitted last (crash anywhere -> not-ready -> gated
    rebuild, which clears the ledger), batch ledger recorded just
    before the recommit -> exactly-once."""
    from ..sources.readers import (append_bucketed, begin_append,
                                   commit_append, require_bucket_count)

    if not begin_append(spark, prefix, batch_id, "dedup_append_corpus"):
        return 0  # committed re-delivery: skip BEFORE any batch compute
    n_batch = accepted.count()
    sigs = minhash_signatures(accepted, k, id_col, text_col, n)
    bc = band_buckets(sigs, k, bands, id_col)
    sh = with_shingles(accepted, id_col, text_col, n).select(
        F.col(id_col), F.col("shingles"))
    names = [f"{prefix}_buckets", f"{prefix}_shingles"]
    nb_b = require_bucket_count(spark, names[0])
    nb_s = require_bucket_count(spark, names[1])
    with commit_append(spark, prefix, names, batch_id):
        append_bucketed(bc, names[0], "bucket", nb_b)
        append_bucketed(sh, names[1], id_col, nb_s)
    return int(n_batch)


def dedup_incremental_from_store(spark, prefix: str, delta: DataFrame,
                                 threshold: float, k: int = 12,
                                 bands: int = 4, n: int = 3,
                                 id_col: str = "doc_id",
                                 text_col: str = "text") -> DataFrame:
    """Probe-only incremental dedup against dedup_store_corpus's
    tables — per-batch wall is a function of the BATCH, not the
    corpus. Identical output to dedup_incremental deriving the
    corpus side in-plan (md5 signatures are deterministic;
    test-asserted). ``k``/``bands``/``n`` MUST match the values the
    store was built with — band ids and shingle grams are functions
    of them, so a mismatch silently misses collisions; at real scale
    version them into the table prefix."""
    return dedup_incremental(
        None, delta, threshold, k=k, bands=bands, n=n,
        id_col=id_col, text_col=text_col,
        corpus_buckets=spark.table(f"{prefix}_buckets"),
        corpus_shingles=spark.table(f"{prefix}_shingles"))
