"""Training-data pipeline queries over the ``documents`` and
``embeddings`` tables: dedup (exact / n-gram Jaccard / MinHash-LSH /
SimHash / embedding-cosine), similarity search (brute-force + LSH
ANN), text analysis, and multimodal plumbing — each paired with a
DuckDB oracle built from the SAME primitives (md5-derived hashes,
DOUBLE folds) so values hash-match bit-for-bit.

Registered into the driver contract via queries.QUERIES/ORACLES.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import (
    brute_force_topk_arrow,
    cosine_pairs_blocked,
    decode_media,
    doc_fingerprints,
    documents_as_media,
    exact_dedup,
    frame_sample,
    hyperplane_lsh_topk,
    language_id,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
    text_stats,
)
from .operators.text import LANG_STOPWORDS, TOKEN_RE, quality_score_col
from .session import ensure_utc
from .sources import load_table, readers

JACCARD_T = 0.5
COSINE_T = 0.4
MINHASH_K, LSH_BANDS = 12, 4
SIMHASH_MAX_HAMMING = 3
ANN_K, ANN_QUERY_MAX_ID, LSH_PLANES, EMB_DIMS = 5, 16, 6, 64

# ---------------------------------------------------------------- helpers

# DuckDB mirror of operators.dedup.md5_long
_D_MD5INT = "('0x' || substr(md5({x}), 1, 15))::BIGINT"

# DuckDB mirror of operators.dedup.normalized_text / with_shingles
_D_BASE = """
norm AS (
    SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
           '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS ntext
    FROM documents
), tok AS (
    SELECT doc_id, string_split(ntext, ' ') AS w FROM norm
), sh AS (
    SELECT doc_id,
           CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                ELSE list_distinct([array_to_string(w[i:i+2], ' ')
                                    for i in range(1, len(w) - 1)])
           END AS shingles
    FROM tok
)
"""


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_utc(spark)
    return load_table(spark, sf_dir, "documents")


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_utc(spark)
    return load_table(spark, sf_dir, "embeddings")


# ------------------------------------------------------------------ dedup

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(_docs(spark, sf_dir))


DEDUP_EXACT_SQL = f"""
WITH {_D_BASE}
SELECT md5(ntext) AS fingerprint, min(doc_id)::BIGINT AS keeper_id,
       COUNT(*)::BIGINT AS n_docs
FROM norm GROUP BY 1
"""


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(_docs(spark, sf_dir), JACCARD_T)


DEDUP_NGRAM_SQL = f"""
WITH {_D_BASE},
ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
common AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
    FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2
), scored AS (
    SELECT id_a, id_b,
           round(c::DOUBLE / (na.n + nb.n - c), 4) AS jaccard
    FROM common
    JOIN sizes na ON id_a = na.doc_id
    JOIN sizes nb ON id_b = nb.doc_id
)
SELECT id_a, id_b, jaccard FROM scored WHERE jaccard >= {JACCARD_T}
"""


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_pairs(
        _docs(spark, sf_dir), JACCARD_T, k=MINHASH_K, bands=LSH_BANDS
    )


def _text_ctes(base: str = "documents", prefix: str = "", n: int = 3) -> str:
    """norm/tok/sh CTE chain over an arbitrary (doc_id, text) base —
    the parameterized form of _D_BASE so composed pipelines can run
    the same normalization over FILTERED doc sets with non-colliding
    CTE names."""
    p = prefix
    return f"""{p}norm AS (
    SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
           '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS ntext
    FROM {base}
), {p}tok AS (
    SELECT doc_id, string_split(ntext, ' ') AS w FROM {p}norm
), {p}sh AS (
    SELECT doc_id,
           CASE WHEN len(w) < {n} THEN [array_to_string(w, ' ')]
                ELSE list_distinct([array_to_string(w[i:i+{n - 1}], ' ')
                                    for i in range(1, len(w) - {n - 2})])
           END AS shingles
    FROM {p}tok
)"""


def _lsh_ctes(base: str = "documents", prefix: str = "") -> str:
    """Normalization -> shingles -> MinHash signatures -> LSH band
    buckets over any (doc_id, text) base, CTE names prefixed — the
    shared probe-side body for same-frame pairing (_minhash_ctes) and
    cross-frame incremental dedup."""
    p = prefix
    r = MINHASH_K // LSH_BANDS
    mh_cols = ",\n           ".join(
        f"min({_D_MD5INT.format(x=repr(str(i) + '|') + ' || s')}) AS mh{i}"
        for i in range(MINHASH_K)
    )
    band_selects = "\n    UNION ALL\n".join(
        "    SELECT doc_id, {b} AS band, md5({expr}) AS bucket FROM {p}sigs"
        .format(
            b=b, p=p,
            expr=" || ',' || ".join(
                f"mh{b * r + j}::VARCHAR" for j in range(r)
            ),
        )
        for b in range(LSH_BANDS)
    )
    return f"""{_text_ctes(base, prefix)},
{p}ex AS (SELECT doc_id, unnest(shingles) AS s FROM {p}sh),
{p}sigs AS (
    SELECT doc_id,
           {mh_cols}
    FROM {p}ex GROUP BY doc_id
), {p}buckets AS (
{band_selects}
)"""


def _minhash_ctes(base: str = "documents", prefix: str = "") -> str:
    """The MinHash-LSH pair pipeline as a CTE chain (ends with a
    ``{prefix}pairs`` CTE of verified near-dup pairs) so the pair
    query, the clustering queries, and the composed curation pipeline
    all build on one SQL body, over any (doc_id, text) base."""
    p = prefix
    return f"""{_lsh_ctes(base, prefix)}, {p}cands AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM {p}buckets a JOIN {p}buckets b
      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
), {p}scored AS (
    SELECT id_a, id_b,
           round(len(list_intersect(x.shingles, y.shingles))::DOUBLE /
                 (len(x.shingles) + len(y.shingles)
                  - len(list_intersect(x.shingles, y.shingles))), 4) AS jaccard
    FROM {p}cands JOIN {p}sh x ON id_a = x.doc_id JOIN {p}sh y ON id_b = y.doc_id
), {p}pairs AS (
    SELECT id_a, id_b, jaccard FROM {p}scored WHERE jaccard >= {JACCARD_T}
)"""


def _minhash_sql() -> str:
    return f"""
WITH {_minhash_ctes()}
SELECT id_a, id_b, jaccard FROM pairs
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: connected components over the MinHash-LSH
    verified pairs (operators/cluster.py), one row per document with
    its cluster id / size / keeper flag."""
    from .operators.cluster import dedup_clusters

    docs = _docs(spark, sf_dir)
    pairs = minhash_lsh_pairs(docs, JACCARD_T, k=MINHASH_K, bands=LSH_BANDS)
    return dedup_clusters(docs, pairs)


def _clusters_sql() -> str:
    # min reachable doc_id per component via a recursive CTE — the
    # declarative twin of the label-propagation fixpoint.
    return f"""
WITH RECURSIVE {_minhash_ctes()},
sym AS (
    SELECT id_a AS n, id_b AS m FROM pairs
    UNION ALL
    SELECT id_b AS n, id_a AS m FROM pairs
),
reach(n, comp) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT s.n, r.comp FROM sym s JOIN reach r ON r.n = s.m
),
comp AS (SELECT n AS doc_id, min(comp)::BIGINT AS cluster_id FROM reach GROUP BY n),
sizes AS (SELECT cluster_id, COUNT(*)::BIGINT AS cluster_size FROM comp GROUP BY 1)
SELECT c.doc_id, c.cluster_id, s.cluster_size,
       c.doc_id = c.cluster_id AS is_keeper
FROM comp c JOIN sizes s USING (cluster_id)
"""


def q_dedup_keeper_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters with quality-argmax keeper selection
    (operators/cluster.py:keeper_by_quality over text_stats scores)."""
    from .operators.cluster import keeper_by_quality

    docs = _docs(spark, sf_dir)
    pairs = minhash_lsh_pairs(docs, JACCARD_T, k=MINHASH_K, bands=LSH_BANDS)
    return keeper_by_quality(
        docs, pairs, text_stats(docs).select("doc_id", "quality_score"))


def _keeper_quality_sql() -> str:
    return f"""
WITH RECURSIVE {_minhash_ctes()},
sym AS (
    SELECT id_a AS n, id_b AS m FROM pairs
    UNION ALL
    SELECT id_b AS n, id_a AS m FROM pairs
),
reach(n, comp) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT s.n, r.comp FROM sym s JOIN reach r ON r.n = s.m
),
comp AS (SELECT n AS doc_id, min(comp)::BIGINT AS cluster_id FROM reach GROUP BY n),
q AS (
    SELECT d.doc_id,
           round(0.4 * least(len(t.w)::DOUBLE / 100, 1.0)
                 + 0.3 * (1.0 - (length(d.text) - length(regexp_replace(d.text,
                           '[^a-zA-Z0-9\\s]', '', 'g')))::DOUBLE
                          / greatest(length(d.text), 1))
                 + 0.3 * len(list_distinct(t.w))::DOUBLE / greatest(len(t.w), 1),
                 4) AS quality_score
    FROM documents d JOIN tok t ON d.doc_id = t.doc_id
),
ranked AS (
    SELECT c.doc_id, c.cluster_id, q.quality_score,
           COUNT(*) OVER (PARTITION BY c.cluster_id) AS cluster_size,
           row_number() OVER (PARTITION BY c.cluster_id
               ORDER BY q.quality_score DESC, c.doc_id) AS rk
    FROM comp c JOIN q USING (doc_id)
)
SELECT doc_id, cluster_id, cluster_size::BIGINT AS cluster_size,
       quality_score, rk = 1 AS is_keeper
FROM ranked
"""


DELTA_RATE = 0.3


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: a hash-split 30% 'new batch' deduped against
    the remaining 70% 'existing corpus' and itself
    (operators/dedup.py:dedup_incremental)."""
    from .operators.dedup import dedup_incremental
    from .operators.sampling import hash_uniform

    docs = _docs(spark, sf_dir)
    is_delta = hash_uniform("doc_id", "delta") < DELTA_RATE
    return dedup_incremental(
        docs.where(~is_delta), docs.where(is_delta),
        JACCARD_T, k=MINHASH_K, bands=LSH_BANDS,
    )


def q_dedup_incremental_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION incremental dedup: the 70% corpus's LSH buckets and
    shingle sets are STORED catalog tables (operators/dedup.py:
    dedup_store_corpus — the artifact the dedup_incremental docstring
    has promised since r3); the 30% batch signs and shingles only
    itself and probes. Same oracle as dedup_incremental: probe-only ≡
    in-plan corpus derivation is exactly the certified claim."""
    from .operators.dedup import dedup_incremental_from_store
    from .operators.sampling import hash_uniform

    docs = _docs(spark, sf_dir)
    is_delta = hash_uniform("doc_id", "delta") < DELTA_RATE
    prefix = f"dedup_{_artifact_tag(sf_dir)}"
    if not readers.index_ready(spark, prefix):
        from .operators.dedup import dedup_store_corpus

        dedup_store_corpus(docs.where(~is_delta), prefix,
                           k=MINHASH_K, bands=LSH_BANDS)
    return dedup_incremental_from_store(
        spark, prefix, docs.where(is_delta), JACCARD_T,
        k=MINHASH_K, bands=LSH_BANDS)


def q_duplicated_spans_inc_stored(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """PRODUCTION incremental span dedup: the corpus (fp, n_corpus)
    span-count table is a STORED artifact (operators/chunking.py:
    span_store_counts, bucketed on fp); the batch fingerprints only
    itself and probes. Same oracle as duplicated_spans_inc."""
    from .operators.chunking import duplicated_spans_incremental_from_store
    from .operators.sampling import hash_uniform

    docs = _docs(spark, sf_dir)
    is_delta = hash_uniform("doc_id", "delta") < DELTA_RATE
    prefix = f"spans_{_artifact_tag(sf_dir)}"
    if not readers.index_ready(spark, prefix):
        from .operators.chunking import span_store_counts

        span_store_counts(docs.where(~is_delta), prefix, SPAN_TOKENS)
    return duplicated_spans_incremental_from_store(
        spark, prefix, docs.where(is_delta), SPAN_TOKENS)


def _incremental_sql() -> str:
    u = _D_MD5INT.format(x="'delta:' || doc_id::VARCHAR")
    jac = ("round(len(list_intersect(x.shingles, y.shingles))::DOUBLE /"
           " (len(x.shingles) + len(y.shingles)"
           " - len(list_intersect(x.shingles, y.shingles))), 4)")
    return f"""
WITH split AS (
    SELECT doc_id, text,
           {u} / 1152921504606846976.0 < {DELTA_RATE} AS is_delta
    FROM documents
), corp AS (
    SELECT doc_id, text FROM split WHERE NOT is_delta
), delt AS (
    SELECT doc_id, text FROM split WHERE is_delta
),
{_lsh_ctes("corp", "c")},
{_lsh_ctes("delt", "d")},
cand_cd AS (
    SELECT DISTINCT d.doc_id AS did, c.doc_id AS cid
    FROM dbuckets d JOIN cbuckets c
      ON d.band = c.band AND d.bucket = c.bucket
), ver_cd AS (
    SELECT did, COUNT(*)::BIGINT AS n_corpus_matches
    FROM cand_cd
    JOIN dsh x ON did = x.doc_id
    JOIN csh y ON cid = y.doc_id
    WHERE {jac} >= {JACCARD_T}
    GROUP BY 1
), cand_dd AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM dbuckets a JOIN dbuckets b
      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
), ver_dd AS (
    SELECT DISTINCT id_b
    FROM cand_dd
    JOIN dsh x ON id_a = x.doc_id
    JOIN dsh y ON id_b = y.doc_id
    WHERE {jac} >= {JACCARD_T}
)
SELECT dl.doc_id,
       CASE WHEN v.did IS NOT NULL THEN 'dup_corpus'
            WHEN w.id_b IS NOT NULL THEN 'dup_delta'
            ELSE 'kept' END AS status,
       coalesce(v.n_corpus_matches, 0)::BIGINT AS n_corpus_matches
FROM delt dl
LEFT JOIN ver_cd v ON dl.doc_id = v.did
LEFT JOIN ver_dd w ON dl.doc_id = w.id_b
"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_pairs(_docs(spark, sf_dir), SIMHASH_MAX_HAMMING)


def _simhash_ctes(bits: int = 60) -> str:
    """CTEs up to ``sims``: simhash_signatures' DuckDB form."""
    bit_sums = ",\n           ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN cnt ELSE -cnt END) AS s{j}"
        for j in range(bits)
    )
    sim_terms = " + ".join(
        f"CASE WHEN s{j} > 0 THEN (1::BIGINT << {j}) ELSE 0 END"
        for j in range(bits)
    )
    return f"""{_D_BASE},
words AS (SELECT doc_id, unnest(w) AS word FROM tok),
wcnt AS (
    SELECT doc_id, word, COUNT(*) AS cnt,
           {_D_MD5INT.format(x='word')} AS h
    FROM words GROUP BY doc_id, word
), sums AS (
    SELECT doc_id,
           {bit_sums}
    FROM wcnt GROUP BY doc_id
), sims AS (
    SELECT doc_id, {sim_terms} AS simhash FROM sums
)"""


def _simhash_sql() -> str:
    bits = 60
    chunk_w = bits // 4
    chunk_selects = "\n    UNION ALL\n".join(
        f"    SELECT doc_id, simhash, {ci} AS chunk, "
        f"(simhash >> {ci * chunk_w}) & {(1 << chunk_w) - 1} AS chunk_val "
        f"FROM sims"
        for ci in range(4)
    )
    return f"""
WITH {_simhash_ctes(bits)}, chunks AS (
{chunk_selects}
), cands AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           a.simhash AS sim_a, b.simhash AS sim_b
    FROM chunks a JOIN chunks b
      ON a.chunk = b.chunk AND a.chunk_val = b.chunk_val
     AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, bit_count(xor(sim_a, sim_b))::BIGINT AS hamming
FROM cands WHERE bit_count(xor(sim_a, sim_b)) <= {SIMHASH_MAX_HAMMING}
"""


def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cosine_pairs_blocked(_embs(spark, sf_dir), COSINE_T)


COSINE_LSH_PLANES = 4


def q_dedup_embedding_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-quadratic variant of dedup_embedding_cosine: LSH-bucketed
    candidates, blocked-GEMM scoring within buckets so per-task memory
    is bounded by block size even on degenerate buckets
    (operators/similarity.py:cosine_pairs_lsh). The pair set is
    invariant in n_blocks, so the single-bucket-join oracle still
    matches."""
    from .operators.similarity import cosine_pairs_lsh

    return cosine_pairs_lsh(
        _embs(spark, sf_dir), COSINE_T,
        planes=COSINE_LSH_PLANES, dims=EMB_DIMS, n_blocks=4,
    )


COSINE_LSH_TABLES = 2


def q_dedup_embedding_cosine_lsh_mt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table OR-construction variant: a pair is a candidate if
    ANY of the ``COSINE_LSH_TABLES`` independent plane families
    buckets it together — recall rises from ~(collision)^1 to
    1-(1-collision)^tables at the cost of one extra hash+shuffle per
    table and a pair-key dedup."""
    from .operators.similarity import cosine_pairs_lsh

    return cosine_pairs_lsh(
        _embs(spark, sf_dir), COSINE_T,
        planes=COSINE_LSH_PLANES, dims=EMB_DIMS, n_blocks=4,
        tables=COSINE_LSH_TABLES,
    )


def _cosine_lsh_mt_sql() -> str:
    def plane(p: int) -> str:
        return (
            f"[(('0x' || substr(md5('{p}_' || d), 1, 15))::BIGINT % 2001 - 1000)"
            f" / 1000.0 for d in range(0, {EMB_DIMS})]"
        )

    def bucket(t: int) -> str:
        return " + ".join(
            f"CASE WHEN list_dot_product(e, {plane(t * COSINE_LSH_PLANES + p)}) >= 0 "
            f"THEN {1 << p}::BIGINT ELSE 0 END"
            for p in range(COSINE_LSH_PLANES)
        )

    buckets = ",\n           ".join(
        f"{bucket(t)} AS b{t}" for t in range(COSINE_LSH_TABLES)
    )
    any_match = " OR ".join(
        f"a.b{t} = b.b{t}" for t in range(COSINE_LSH_TABLES)
    )
    return f"""
WITH {_D_NORMED},
hashed AS (
    SELECT vec_id, e, nrm,
           {buckets}
    FROM n
), scored AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 4) AS cosine
    FROM hashed a JOIN hashed b
      ON ({any_match}) AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, cosine FROM scored WHERE cosine >= {COSINE_T}
"""


def _cosine_lsh_sql() -> str:
    def plane(p: int) -> str:
        return (
            f"[(('0x' || substr(md5('{p}_' || d), 1, 15))::BIGINT % 2001 - 1000)"
            f" / 1000.0 for d in range(0, {EMB_DIMS})]"
        )

    bucket = " + ".join(
        f"CASE WHEN list_dot_product(e, {plane(p)}) >= 0 "
        f"THEN {1 << p}::BIGINT ELSE 0 END"
        for p in range(COSINE_LSH_PLANES)
    )
    return f"""
WITH {_D_NORMED},
hashed AS (
    SELECT vec_id, e, nrm, {bucket} AS bucket FROM n
), scored AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 4) AS cosine
    FROM hashed a JOIN hashed b
      ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, cosine FROM scored WHERE cosine >= {COSINE_T}
"""


_D_NORMED = """
n AS (
    SELECT vec_id, embedding::DOUBLE[] AS e,
           sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
    FROM embeddings
)
"""

DEDUP_COSINE_SQL = f"""
WITH {_D_NORMED},
scored AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 4) AS cosine
    FROM n a JOIN n b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, cosine FROM scored WHERE cosine >= {COSINE_T}
"""


SPLIT_SEED = "split"
SPLIT_WEIGHTS = [("train", 0.8), ("val", 0.1), ("test", 0.1)]


def q_doc_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment per document
    (operators/sampling.py:hash_split) — reproducible across runs,
    engines, and dataset versions."""
    from .operators.sampling import hash_split

    docs = _docs(spark, sf_dir).select("doc_id")
    return hash_split(docs, SPLIT_WEIGHTS, "doc_id", seed=SPLIT_SEED)


def _doc_split_sql() -> str:
    # thresholds accumulated EXACTLY as hash_split accumulates them
    # (float addition: 0.8 + 0.1 is 0.9000000000000001, not 0.9) so
    # both engines slice [0,1) at identical doubles
    total = sum(w for _, w in SPLIT_WEIGHTS)
    cases, acc = [], 0.0
    for name, w in SPLIT_WEIGHTS[:-1]:
        acc += w / total
        cases.append(f"WHEN u < {acc!r} THEN '{name}'")
    cases.append(f"ELSE '{SPLIT_WEIGHTS[-1][0]}'")
    case = "CASE " + " ".join(cases) + " END"
    return f"""
WITH u AS (
    SELECT doc_id,
           {_D_MD5INT.format(x="'" + SPLIT_SEED + ":' || doc_id::VARCHAR")}
               / 1152921504606846976.0 AS u
    FROM documents
)
SELECT doc_id, {case} AS split
FROM u
"""


SAMPLE_RATE, SAMPLE_SEED = 0.25, "sample"


def q_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~25% sample of documents
    (operators/sampling.py:hash_sample): u(doc_id) < rate with the
    portable md5 hash, so the kept set is identical across engines,
    runs, and cluster layouts — no shuffle, pure scan predicate."""
    from .operators.sampling import hash_sample

    docs = _docs(spark, sf_dir).select("doc_id")
    return hash_sample(docs, SAMPLE_RATE, "doc_id", seed=SAMPLE_SEED)


def _sample_docs_sql() -> str:
    return f"""
SELECT doc_id
FROM documents
WHERE {_D_MD5INT.format(x="'" + SAMPLE_SEED + ":' || doc_id::VARCHAR")}
      / 1152921504606846976.0 < {SAMPLE_RATE}
"""


MIX_RATES = {"src0": 1.0, "src1": 0.5, "src2": 0.1}
MIX_DEFAULT, MIX_SEED = 0.25, "mix"


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic source-mixture sampling
    (operators/sampling.py:mixture_sample): per-source keep rates with
    the portable hash; output = kept doc ids + their source so the
    oracle pins both membership and the achieved mixture."""
    from .operators.sampling import mixture_sample

    docs = _docs(spark, sf_dir).select("doc_id", "source")
    return mixture_sample(docs, MIX_RATES, default_rate=MIX_DEFAULT,
                          seed=MIX_SEED)


def _mixture_sql() -> str:
    cases = " ".join(
        f"WHEN source = '{g}' THEN {r}" for g, r in sorted(MIX_RATES.items()))
    return f"""
SELECT doc_id, source
FROM documents
WHERE {_D_MD5INT.format(x="'" + MIX_SEED + ":' || doc_id::VARCHAR")}
      / 1152921504606846976.0
      < (CASE {cases} ELSE {MIX_DEFAULT} END)
"""


TMIX_ALPHA, TMIX_SEED = 0.5, "tmix"


def q_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled LANGUAGE mixing
    (operators/sampling.py:temperature_mixture — the mT5
    alpha-sampling scheme on its own use case: the testdata's lang
    column is zipf-skewed, en ~3.4x fr): kept distribution
    ∝ n_lang^alpha with rates derived IN-PLAN from the language
    counts (tiny broadcast dim; the documents scan never shuffles).
    Output pins membership, the per-language rate, and therefore the
    achieved mixture. (The source column is deliberately NOT the
    group key — driver data has uniform source sizes, which makes
    alpha-sampling a no-op.)"""
    from .operators.sampling import temperature_mixture

    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    return temperature_mixture(docs, alpha=TMIX_ALPHA,
                               group_col="lang", seed=TMIX_SEED) \
        .select("doc_id", "lang", "rate")


def _mixture_temperature_sql() -> str:
    u = _D_MD5INT.format(x="'" + TMIX_SEED + ":' || doc_id::VARCHAR")
    return f"""
WITH counts AS (
    SELECT lang, COUNT(*)::DOUBLE AS n FROM documents GROUP BY 1
), raw AS (
    SELECT lang, pow(n, {TMIX_ALPHA} - 1.0) AS r FROM counts
), rates AS (
    SELECT lang, round(r / (SELECT max(r) FROM raw), 6) AS rate
    FROM raw
)
SELECT d.doc_id, d.lang, rates.rate
FROM documents d JOIN rates USING (lang)
WHERE {u} / 1152921504606846976.0 < rates.rate
"""


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM perplexity-proxy scoring
    (operators/text.py:lm_score)."""
    from .operators.text import lm_score

    return lm_score(_docs(spark, sf_dir))


def _artifact_tag(sf_dir: str) -> str:
    """Catalog-safe tag for per-sf stored artifacts (sf0.01 -> sf0_01)."""
    import os as _os

    return _os.path.basename(sf_dir.rstrip("/")).replace(".", "_")


def q_bm25_topk_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION BM25 shape (VERDICT r4 next-round #5): the inverted
    index is a STORED artifact — built once per (corpus, sf) into
    bucketed catalog tables, then every query batch is probe-only
    (operators/text.py:bm25_store_index/bm25_topk_from_index).
    Same oracle as bm25_topk: probe-only ≡ inline-build is exactly
    the claim. First call per corpus pays the build; bench's
    min-of-2 timing therefore reports the steady-state probe wall,
    which is the number that matters at 100 TB."""
    from .operators.text import (
        bm25_read_index,
        bm25_store_index,
        bm25_topk_from_index,
    )

    prefix = f"bm25_{_artifact_tag(sf_dir)}"
    if not readers.index_ready(spark, prefix):
        bm25_store_index(_docs(spark, sf_dir), prefix)
    qdf = spark.createDataFrame(BM25_QUERIES,
                                "query_id long, query_text string")
    return bm25_topk_from_index(bm25_read_index(spark, prefix), qdf,
                                k=BM25_K)


def q_lm_score_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION bigram-LM shape: counts stored once as bucketed
    catalog tables (they ARE the LM), scoring is probe-only
    (operators/text.py:lm_store_model/lm_score_from_model). Same
    oracle as lm_score — probe ≡ inline is the claim."""
    from .operators.text import lm_read_model, lm_score_from_model, lm_store_model

    prefix = f"lm_{_artifact_tag(sf_dir)}"
    if not readers.index_ready(spark, prefix):
        lm_store_model(_docs(spark, sf_dir), prefix)
    return lm_score_from_model(lm_read_model(spark, prefix),
                               _docs(spark, sf_dir))


def _lm_score_sql() -> str:
    return f"""
WITH {_D_BASE},
idx AS (
    SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM tok
), bi AS (
    SELECT doc_id, w[i] AS w1, w[i + 1] AS w2 FROM idx
), uni AS (
    SELECT w1 AS w, COUNT(*)::BIGINT AS cw FROM (
        SELECT doc_id, unnest(w) AS w1 FROM tok
    ) GROUP BY 1
), big AS (
    SELECT w1, w2, COUNT(*)::BIGINT AS cb FROM bi GROUP BY 1, 2
), vocab AS (
    SELECT COUNT(*)::BIGINT AS v FROM uni
), scored AS (
    SELECT bi.doc_id,
           round(ln((big.cb::DOUBLE + 1.0) / (uni.cw::DOUBLE + vocab.v::DOUBLE))
                 * 1000000, 0)::BIGINT AS f
    FROM bi
    JOIN big USING (w1, w2)
    JOIN uni ON uni.w = bi.w1
    CROSS JOIN vocab
)
SELECT doc_id, COUNT(*)::BIGINT AS n_bigrams,
       round(sum(f)::DOUBLE / 1000000.0 / COUNT(*), 4) AS avg_logp
FROM scored GROUP BY 1
"""


DSIR_TARGET_SOURCES = ("src0", "src1")
DSIR_K = 50


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (operators/text.py:dsir_weights —
    Xie 2023's importance-resampling estimator over add-one bigram
    LMs): treat sources src0/src1 as the high-quality TARGET
    distribution, weight every corpus document by
    logw = mean log p_target(bigrams) - mean log p_raw(bigrams),
    and keep the top {DSIR_K} (rank ties broken by doc_id). The
    global top-k compiles to TakeOrderedAndProject via the
    window-group-limit pushdown — no fact-sized single-partition
    sort (plan-audited class)."""
    from pyspark.sql import Window

    from .operators.text import dsir_weights

    docs = _docs(spark, sf_dir)
    # predicate-target form (r14): one tokenization + one fused
    # count pass serves both LMs — bit-identical logw (same oracle)
    w = dsir_weights(docs,
                     target_cond=F.col("source").isin(*DSIR_TARGET_SOURCES))
    win = Window.orderBy(F.col("logw").desc(), F.col("doc_id").asc())
    return (
        w.withColumn("rnk", F.row_number().over(win))
        .where(F.col("rnk") <= DSIR_K)
        .select("doc_id", "n_bigrams", "logw",
                F.col("rnk").cast("long").alias("rnk"))
    )


def q_dsir_select_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION DSIR shape (VERDICT r9 #4): both bigram LMs are
    STORED artifacts — the raw LM refreshed per corpus version, the
    target LM per target version (lm_store_model twice, w1-bucketed
    counts + 1-row vocab) — and the scoring pass tokenizes only the
    batch being weighted and probes the stored counts
    (operators/text.py:dsir_weights_from_models). Same oracle as
    dsir_select: probe ≡ inline is exactly the claim. Bench's
    min-of-N timing reports the steady-state probe wall — the number
    that matters when the corpus is 100 TB and the LMs are fit once,
    not per call."""
    from pyspark.sql import Window

    from .operators.text import (
        dsir_weights_from_models,
        lm_read_model,
        lm_store_model,
    )

    docs = _docs(spark, sf_dir)
    tag = _artifact_tag(sf_dir)
    prefix_r, prefix_t = f"dsirraw_{tag}", f"dsirtgt_{tag}"
    if not readers.index_ready(spark, prefix_r):
        lm_store_model(docs, prefix_r)
    if not readers.index_ready(spark, prefix_t):
        lm_store_model(
            docs.where(F.col("source").isin(*DSIR_TARGET_SOURCES)),
            prefix_t)
    w = dsir_weights_from_models(lm_read_model(spark, prefix_r),
                                 lm_read_model(spark, prefix_t), docs)
    win = Window.orderBy(F.col("logw").desc(), F.col("doc_id").asc())
    return (
        w.withColumn("rnk", F.row_number().over(win))
        .where(F.col("rnk") <= DSIR_K)
        .select("doc_id", "n_bigrams", "logw",
                F.col("rnk").cast("long").alias("rnk"))
    )


def q_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR's RESAMPLING step (operators/sampling.py:weighted_sample_k
    — Gumbel-top-k): where dsir_select keeps the deterministic head
    of the weight ranking (maximal target-likeness, minimal
    diversity), this draws DSIR_K documents WITHOUT replacement
    with probability softmax(logw / T) — the estimator Xie 2023
    actually prescribes, derandomized through the portable hash so
    the draw is reproducible and oracle-checkable."""
    from .operators.sampling import weighted_sample_k
    from .operators.text import dsir_weights

    docs = _docs(spark, sf_dir)
    # predicate-target fused form, as in q_dsir_select (r14)
    w = dsir_weights(docs,
                     target_cond=F.col("source").isin(*DSIR_TARGET_SOURCES))
    return weighted_sample_k(w, "logw", DSIR_K,
                             temperature=DSIR_TEMPERATURE,
                             seed=DSIR_SEED) \
        .select("doc_id", "n_bigrams", "logw", "skey", "rnk")


def q_dsir_resample_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel-top-k resampling over STORED-LM importance weights —
    the full production DSIR pipeline: stored raw/target LMs
    (shared with dsir_select_stored — the artifact builds once),
    probe-only weighting, then the derandomized softmax(logw/T) draw
    (operators/sampling.py:weighted_sample_k). Same oracle as
    dsir_resample: the weights are bit-identical (probe ≡ inline)
    and the sampler is a pure hash expression, so stored-vs-inline
    changes nothing downstream — which is exactly the claim."""
    from .operators.sampling import weighted_sample_k
    from .operators.text import (
        dsir_weights_from_models,
        lm_read_model,
        lm_store_model,
    )

    docs = _docs(spark, sf_dir)
    tag = _artifact_tag(sf_dir)
    prefix_r, prefix_t = f"dsirraw_{tag}", f"dsirtgt_{tag}"
    if not readers.index_ready(spark, prefix_r):
        lm_store_model(docs, prefix_r)
    if not readers.index_ready(spark, prefix_t):
        lm_store_model(
            docs.where(F.col("source").isin(*DSIR_TARGET_SOURCES)),
            prefix_t)
    w = dsir_weights_from_models(lm_read_model(spark, prefix_r),
                                 lm_read_model(spark, prefix_t), docs)
    return weighted_sample_k(w, "logw", DSIR_K,
                             temperature=DSIR_TEMPERATURE,
                             seed=DSIR_SEED) \
        .select("doc_id", "n_bigrams", "logw", "skey", "rnk")


DSIR_TEMPERATURE = 0.1
DSIR_SEED = "dsir"


def _dsir_weights_ctes() -> str:
    """Shared WITH-body computing (doc_id, n_bigrams, logw) — the
    importance weights both DSIR finals rank over."""
    srcs = ", ".join(f"'{s}'" for s in DSIR_TARGET_SOURCES)
    return f"""{_D_BASE},
idx AS (
    SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM tok
), bi AS (
    SELECT doc_id, w[i] AS w1, w[i + 1] AS w2 FROM idx
), uni_r AS (
    SELECT w1 AS w, COUNT(*)::BIGINT AS cw FROM (
        SELECT doc_id, unnest(w) AS w1 FROM tok
    ) GROUP BY 1
), big_r AS (
    SELECT w1, w2, COUNT(*)::BIGINT AS cb FROM bi GROUP BY 1, 2
), v_r AS (
    SELECT COUNT(*)::BIGINT AS v FROM uni_r
), tdoc AS (
    SELECT doc_id FROM documents WHERE source IN ({srcs})
), ttok AS (
    SELECT tok.* FROM tok JOIN tdoc USING (doc_id)
), tbi AS (
    SELECT doc_id, w[i] AS w1, w[i + 1] AS w2 FROM (
        SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM ttok
    )
), uni_t AS (
    SELECT w1 AS w, COUNT(*)::BIGINT AS cw FROM (
        SELECT unnest(w) AS w1 FROM ttok
    ) GROUP BY 1
), big_t AS (
    SELECT w1, w2, COUNT(*)::BIGINT AS cb FROM tbi GROUP BY 1, 2
), v_t AS (
    SELECT COUNT(*)::BIGINT AS v FROM uni_t
), scored AS (
    SELECT bi.doc_id,
           round(ln((coalesce(bt.cb, 0)::DOUBLE + 1.0)
                    / (coalesce(ut.cw, 0)::DOUBLE + vt.v::DOUBLE))
                 * 1000000, 0)::BIGINT AS ft,
           round(ln((coalesce(br.cb, 0)::DOUBLE + 1.0)
                    / (coalesce(ur.cw, 0)::DOUBLE + vr.v::DOUBLE))
                 * 1000000, 0)::BIGINT AS fr
    FROM bi
    LEFT JOIN big_t bt ON bt.w1 = bi.w1 AND bt.w2 = bi.w2
    LEFT JOIN uni_t ut ON ut.w = bi.w1
    CROSS JOIN v_t vt
    LEFT JOIN big_r br ON br.w1 = bi.w1 AND br.w2 = bi.w2
    LEFT JOIN uni_r ur ON ur.w = bi.w1
    CROSS JOIN v_r vr
), agg AS (
    SELECT doc_id, COUNT(*)::BIGINT AS n_bigrams,
           round(sum(ft)::DOUBLE / 1000000.0 / COUNT(*), 4) AS lt,
           round(sum(fr)::DOUBLE / 1000000.0 / COUNT(*), 4) AS lr
    FROM scored GROUP BY 1
), wts AS (
    SELECT doc_id, n_bigrams, round(lt - lr, 4) AS logw FROM agg
)"""


def _dsir_select_sql() -> str:
    return f"""
WITH {_dsir_weights_ctes()}
SELECT doc_id, n_bigrams, logw,
       (row_number() OVER (ORDER BY logw DESC, doc_id))::BIGINT AS rnk
FROM wts QUALIFY rnk <= {DSIR_K}
"""


def _dsir_resample_sql() -> str:
    # the 48-bit uniform + Gumbel perturbation, mirroring
    # operators/sampling.py:gumbel_key expression-for-expression
    u = (f"((('0x' || substr(md5('{DSIR_SEED}:' || doc_id::VARCHAR), "
         f"1, 12))::BIGINT::DOUBLE + 0.5) / {float(1 << 48)!r})")
    return f"""
WITH {_dsir_weights_ctes()},
keyed AS (
    SELECT doc_id, n_bigrams, logw,
           round(logw / {DSIR_TEMPERATURE!r} - ln(-ln({u})), 4) AS skey
    FROM wts
)
SELECT doc_id, n_bigrams, logw, skey,
       (row_number() OVER (ORDER BY skey DESC, doc_id))::BIGINT AS rnk
FROM keyed QUALIFY rnk <= {DSIR_K}
"""


WINNOW_K, WINNOW_W = 4, 5


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) rolling-hash fingerprints
    (operators/text.py:winnow_fingerprints)."""
    from .operators.text import winnow_fingerprints

    return winnow_fingerprints(_docs(spark, sf_dir),
                               k=WINNOW_K, w=WINNOW_W)


def _winnow_ctes() -> str:
    K, W = WINNOW_K, WINNOW_W
    win = f"hs[s + 1 : s + least({W}, n - s)]"
    return f"""{_D_BASE},
h AS (
    SELECT doc_id,
           CASE WHEN len(w) < {K} THEN []::BIGINT[] ELSE
             [('0x' || substr(md5(array_to_string(w[i:i+{K}-1], ' ')),
                              1, 15))::BIGINT
              for i in range(1, len(w) - {K} + 2)] END AS hs
    FROM tok
), nz AS (
    SELECT doc_id, hs, len(hs) AS n FROM h WHERE len(hs) > 0
), sel AS (
    SELECT doc_id,
           unnest([struct_pack(
               pos := s + list_max([j for j in range(0, {W})
                                    if s + j + 1 <= n
                                    AND hs[s + j + 1] = list_min({win})]),
               fp := list_min({win}))
             for s in range(0, greatest(n - {W}, 0) + 1)]) AS f
    FROM nz
), wf AS (
    SELECT DISTINCT doc_id, f.pos::BIGINT AS pos, f.fp AS fp FROM sel
)"""


def _winnow_sql() -> str:
    return f"""
WITH {_winnow_ctes()}
SELECT doc_id, pos, fp FROM wf
"""


PCA_COMPONENTS = 8
# certificate tolerances: measured worst-case on the driver tables is
# ~4e-7 for projected-variance-vs-eigenvalue (fixed-point 1e-8 Gram +
# 1e-6 projection rounding) and ~2e-15 for orthonormality
PCA_VAR_TOL, PCA_ORTHO_TOL = 1e-5, 1e-9


def q_pca_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA over the embedding corpus, registered as its SELF-CERTIFYING
    form (VERDICT r4 next-round #1; the heavy_hitters/
    corpus_quantiles_approx certificate pattern): the
    eigendecomposition itself has no SQL oracle, so the query emits
    one row per principal axis carrying certificates the oracle pins
    to 1 —
      norm_ok:    |  ||w_axis|| - 1 | < 1e-9
      ortho_ok:   max_{j != axis} |w_axis . w_j| < 1e-9
      order_ok:   explained[axis] >= explained[axis + 1]
      projvar_ok: sample variance of the axis's projection over the
                  WHOLE corpus (a distributed sum/sumsq aggregate over
                  pca_transform's output) matches the model's
                  eigenvalue within 1e-5 relative — the certificate
                  that ties the driver-side eigensolve back to the
                  data
    plus n_rows (corpus count), which the oracle computes exactly.
    The raw projection remains available via pca_fit/pca_transform;
    determinism/orthonormality/variance-ordering stay pytest-gated
    (tests/test_pipeline_ops.py:test_pca_*)."""
    import numpy as np

    from .operators.similarity import pca_fit, pca_transform

    embs = _embs(spark, sf_dir)
    model = pca_fit(embs, PCA_COMPONENTS)
    proj = pca_transform(embs, model)

    stats = (
        proj.select(F.posexplode("pca").alias("axis", "v"))
        .groupBy("axis")
        .agg(F.sum("v").alias("s"),
             F.sum(F.col("v") * F.col("v")).alias("ss"),
             F.count(F.lit(1)).alias("n"))
        .collect()
    )
    comps = np.array(model["components"])
    expl = model["explained"]
    gram = comps @ comps.T
    rows = []
    for r in sorted(stats, key=lambda r: r.axis):
        a = r.axis
        # degenerate-corpus guards: a 1-row corpus has no variance to
        # compare (n-1 == 0) and a zero-variance axis has expl == 0 —
        # certify relative error against a floor instead of dividing
        # by zero (exact zero variance then demands |var| < tol too)
        var = ((r.ss - r.s * r.s / r.n) / (r.n - 1)
               if r.n > 1 else 0.0)
        off = max(abs(gram[a, j]) for j in range(len(expl)) if j != a)
        rows.append((
            int(a), int(r.n),
            int(abs(gram[a, a] - 1.0) < PCA_ORTHO_TOL),
            int(off < PCA_ORTHO_TOL),
            int(a == len(expl) - 1 or expl[a] >= expl[a + 1]),
            int(abs(var - expl[a]) / max(expl[a], 1e-12) < PCA_VAR_TOL
                or abs(var - expl[a]) < PCA_ORTHO_TOL),
        ))
    return spark.createDataFrame(
        rows, "axis BIGINT, n_rows BIGINT, norm_ok BIGINT, "
              "ortho_ok BIGINT, order_ok BIGINT, projvar_ok BIGINT")


PCA_EMBED_SQL = f"""
SELECT unnest(generate_series(0, {PCA_COMPONENTS - 1}))::BIGINT AS axis,
       (SELECT COUNT(*) FROM embeddings)::BIGINT AS n_rows,
       1::BIGINT AS norm_ok, 1::BIGINT AS ortho_ok,
       1::BIGINT AS order_ok, 1::BIGINT AS projvar_ok
"""


WINNOW_MIN_SHARED, WINNOW_MAX_BUCKET = 2, 50


def q_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-overlap pairs on winnowing fingerprints
    (operators/text.py:winnow_overlap_pairs)."""
    from .operators.text import winnow_overlap_pairs

    return winnow_overlap_pairs(_docs(spark, sf_dir),
                                k=WINNOW_K, w=WINNOW_W,
                                min_shared=WINNOW_MIN_SHARED,
                                max_bucket=WINNOW_MAX_BUCKET)


def _winnow_overlap_sql() -> str:
    return f"""
WITH {_winnow_ctes()},
fps AS (
    SELECT DISTINCT doc_id, fp FROM wf
), usable AS (
    SELECT fp FROM fps GROUP BY fp
    HAVING COUNT(*) >= 2 AND COUNT(*) <= {WINNOW_MAX_BUCKET}
), fk AS (
    SELECT fps.doc_id, fps.fp FROM fps JOIN usable USING (fp)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*)::BIGINT AS n_shared
FROM fk a JOIN fk b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING COUNT(*) >= {WINNOW_MIN_SHARED}
"""


# ------------------------------------------------------------- similarity

def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    embs = _embs(spark, sf_dir)
    queries = embs.where(F.col("vec_id") < ANN_QUERY_MAX_ID)
    return brute_force_topk_arrow(queries, embs, ANN_K)


ANN_TOPK_SQL = f"""
WITH {_D_NORMED},
scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cos
    FROM n q JOIN n c ON q.vec_id <> c.vec_id
    WHERE q.vec_id < {ANN_QUERY_MAX_ID}
), ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
    FROM scored
)
SELECT query_id, neighbor_id, round(cos, 4) AS cosine, rnk::BIGINT AS rnk
FROM ranked WHERE rnk <= {ANN_K}
"""


def q_ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    embs = _embs(spark, sf_dir)
    queries = embs.where(F.col("vec_id") < ANN_QUERY_MAX_ID)
    return hyperplane_lsh_topk(
        queries, embs, ANN_K, planes=LSH_PLANES, dims=EMB_DIMS
    )


def _ann_lsh_sql() -> str:
    def plane(p: int) -> str:
        return (
            f"[(('0x' || substr(md5('{p}_' || d), 1, 15))::BIGINT % 2001 - 1000)"
            f" / 1000.0 for d in range(0, {EMB_DIMS})]"
        )

    bucket = " + ".join(
        f"CASE WHEN list_dot_product(e, {plane(p)}) >= 0 "
        f"THEN {1 << p}::BIGINT ELSE 0 END"
        for p in range(LSH_PLANES)
    )
    return f"""
WITH {_D_NORMED},
hashed AS (
    SELECT vec_id, e, nrm, {bucket} AS bucket FROM n
), scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cos
    FROM hashed q JOIN hashed c
      ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
    WHERE q.vec_id < {ANN_QUERY_MAX_ID}
), ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
    FROM scored
)
SELECT query_id, neighbor_id, round(cos, 4) AS cosine, rnk::BIGINT AS rnk
FROM ranked WHERE rnk <= {ANN_K}
"""


def q_ann_topk_lsh_mp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe variant of ann_topk_lsh: each query also searches
    every bucket at Hamming distance 1 (one hyperplane sign flipped),
    recovering neighbors that fall just across a plane."""
    embs = _embs(spark, sf_dir)
    queries = embs.where(F.col("vec_id") < ANN_QUERY_MAX_ID)
    return hyperplane_lsh_topk(
        queries, embs, ANN_K, planes=LSH_PLANES, dims=EMB_DIMS,
        probes=LSH_PLANES,
    )


def _ann_lsh_mp_sql() -> str:
    def plane(p: int) -> str:
        return (
            f"[(('0x' || substr(md5('{p}_' || d), 1, 15))::BIGINT % 2001 - 1000)"
            f" / 1000.0 for d in range(0, {EMB_DIMS})]"
        )

    bucket = " + ".join(
        f"CASE WHEN list_dot_product(e, {plane(p)}) >= 0 "
        f"THEN {1 << p}::BIGINT ELSE 0 END"
        for p in range(LSH_PLANES)
    )
    return f"""
WITH {_D_NORMED},
hashed AS (
    SELECT vec_id, e, nrm, {bucket} AS bucket FROM n
), probed AS (
    SELECT vec_id, e, nrm, bucket AS probe
    FROM hashed WHERE vec_id < {ANN_QUERY_MAX_ID}
    UNION ALL
    SELECT vec_id, e, nrm, xor(bucket, (1::BIGINT << p)) AS probe
    FROM hashed, range(0, {LSH_PLANES}) t(p)
    WHERE vec_id < {ANN_QUERY_MAX_ID}
), scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cos
    FROM probed q JOIN hashed c
      ON q.probe = c.bucket AND q.vec_id <> c.vec_id
), ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
    FROM scored
)
SELECT query_id, neighbor_id, round(cos, 4) AS cosine, rnk::BIGINT AS rnk
FROM ranked WHERE rnk <= {ANN_K}
"""


IVF_K, IVF_NPROBE = 32, 2


def q_ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import ivf_topk

    embs = _embs(spark, sf_dir)
    queries = embs.where(F.col("vec_id") < ANN_QUERY_MAX_ID)
    return ivf_topk(queries, embs, ANN_K,
                    n_centroids=IVF_K, nprobe=IVF_NPROBE)


def _ann_ivf_sql() -> str:
    return f"""
WITH {_D_NORMED},
cents AS (
    SELECT vec_id AS cent_id, e AS cent_vec, nrm AS cent_norm,
           array_to_string(list_transform(
               e, x -> (round(x * 1000000, 0)::BIGINT)::VARCHAR), ',') AS vkey
    FROM n
    ORDER BY ('0x' || substr(md5(vkey), 1, 15))::BIGINT, vec_id
    LIMIT {IVF_K}
), c_assign AS (
    SELECT * FROM (
        SELECT n.vec_id AS c_id, n.e AS c_vec, n.nrm AS c_norm, cents.cent_id,
               row_number() OVER (
                   PARTITION BY n.vec_id
                   ORDER BY list_dot_product(n.e, cents.cent_vec)
                            / (n.nrm * cents.cent_norm) DESC, cents.cent_id
               ) AS crnk
        FROM n CROSS JOIN cents
    ) WHERE crnk <= 1
), q_probe AS (
    SELECT * FROM (
        SELECT n.vec_id AS q_id, n.e AS q_vec, n.nrm AS q_norm, cents.cent_id,
               row_number() OVER (
                   PARTITION BY n.vec_id
                   ORDER BY list_dot_product(n.e, cents.cent_vec)
                            / (n.nrm * cents.cent_norm) DESC, cents.cent_id
               ) AS crnk
        FROM n CROSS JOIN cents
        WHERE n.vec_id < {ANN_QUERY_MAX_ID}
    ) WHERE crnk <= {IVF_NPROBE}
), cand AS (
    SELECT q.q_id AS query_id, c.c_id AS neighbor_id,
           list_dot_product(q.q_vec, c.c_vec) / (q.q_norm * c.c_norm) AS cos
    FROM c_assign c JOIN q_probe q ON c.cent_id = q.cent_id
    WHERE q.q_id <> c.c_id
), ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
    FROM cand
)
SELECT query_id, neighbor_id, round(cos, 4) AS cosine, rnk::BIGINT AS rnk
FROM ranked WHERE rnk <= {ANN_K}
"""


def q_lang_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language embedding centroids
    (operators/similarity.py:group_centroids; embeddings joined to
    documents on vec_id = doc_id).

    The operator returns centroid as array<double>; the registered
    query projects it to per-dim rows (lang, n_vecs, dim, value) so
    the external correctness driver can canonicalize the output
    (pandas sort_values cannot hash list cells — see round-2
    CORRECTNESS lang_centroids.err)."""
    from .operators.similarity import group_centroids

    embs = _embs(spark, sf_dir)
    labels = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("vec_id"), "lang")
    c = group_centroids(embs, labels)
    return c.select(
        "lang", "n_vecs",
        F.posexplode("centroid").alias("dim", "value"),
    ).select("lang", "n_vecs", F.col("dim").cast("long").alias("dim"),
             "value")


LANG_CENTROIDS_SQL = """
WITH j AS (
    SELECT d.lang, e.embedding::DOUBLE[] AS emb
    FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
), ex AS (
    SELECT lang,
           unnest(range(0, len(emb))) AS dim,
           unnest(list_transform(emb, x -> round(x * 1000000, 0)::BIGINT)) AS f
    FROM j
), per_dim AS (
    SELECT lang, dim, sum(f)::BIGINT AS s, COUNT(*) AS c
    FROM ex GROUP BY 1, 2
)
SELECT lang, c::BIGINT AS n_vecs, dim::BIGINT AS dim,
       round(s::DOUBLE / 1000000.0 / c, 6) AS value
FROM per_dim
"""


def q_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embeddings table
    (operators/similarity.py:quantize_embeddings)."""
    from .operators.similarity import quantize_embeddings

    # scalar summary columns only: the q array itself is
    # property-tested (dequant error bound) rather than oracle-hashed
    return quantize_embeddings(_embs(spark, sf_dir)).select(
        "vec_id", "scale", "q_sum", "q_min", "q_max", "n_dims"
    )


QUANTIZE_SQL = """
WITH q AS (
    SELECT vec_id,
           list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS amax,
           embedding::DOUBLE[] AS e
    FROM embeddings
), coded AS (
    SELECT vec_id, amax,
           list_transform(e, x -> CASE WHEN amax = 0 THEN 0::BIGINT
               ELSE floor(x * 127 / amax + 0.5)::BIGINT END) AS qv,
           len(e) AS n_dims
    FROM q
)
SELECT vec_id, round(amax / 127, 9) AS scale,
       list_sum(qv)::BIGINT AS q_sum,
       list_min(qv)::BIGINT AS q_min,
       list_max(qv)::BIGINT AS q_max,
       n_dims::BIGINT AS n_dims
FROM coded
"""


# ------------------------------------------------------------------- text

def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_stats(_docs(spark, sf_dir))


TEXT_STATS_SQL = f"""
WITH {_D_BASE}
SELECT d.doc_id,
       length(d.text)::BIGINT AS n_chars,
       len(t.w)::BIGINT AS n_tokens_ws,
       len(regexp_extract_all(lower(d.text),
           '{TOKEN_RE}'))::BIGINT AS n_tokens_re,
       round((length(d.text) - length(regexp_replace(d.text,
             '[^a-zA-Z0-9\\s]', '', 'g')))::DOUBLE
             / greatest(length(d.text), 1), 4) AS punct_ratio,
       round(len(list_distinct(t.w))::DOUBLE / greatest(len(t.w), 1), 4)
           AS uniq_ratio,
       round((length(n.ntext) - (len(t.w) - 1))::DOUBLE
             / greatest(len(t.w), 1), 4) AS mean_token_len,
       round(0.4 * least(len(t.w)::DOUBLE / 100, 1.0)
             + 0.3 * (1.0 - (length(d.text) - length(regexp_replace(d.text,
                       '[^a-zA-Z0-9\\s]', '', 'g')))::DOUBLE
                      / greatest(length(d.text), 1))
             + 0.3 * len(list_distinct(t.w))::DOUBLE / greatest(len(t.w), 1),
             4) AS quality_score
FROM documents d JOIN norm n ON d.doc_id = n.doc_id
JOIN tok t ON d.doc_id = t.doc_id
"""


def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return language_id(_docs(spark, sf_dir))


def _lang_id_sql() -> str:
    langs = sorted(LANG_STOPWORDS)
    scores = ",\n       ".join(
        "len(list_filter(w, t -> t IN ({lst})))::BIGINT AS score_{lg}".format(
            lst=", ".join(repr(x) for x in LANG_STOPWORDS[lg]), lg=lg
        )
        for lg in langs
    )
    best = "greatest({})".format(", ".join(f"score_{lg}" for lg in langs))
    pred = "'und'"
    for lg in reversed(langs):
        pred = (f"CASE WHEN score_{lg} = {best} AND {best} > 0 "
                f"THEN '{lg}' ELSE {pred} END")
    return f"""
WITH {_D_BASE},
scored AS (
    SELECT doc_id,
       {scores}
    FROM tok
)
SELECT doc_id, {', '.join(f'score_{lg}' for lg in langs)},
       {pred} AS predicted_lang
FROM scored
"""


QUANTILE_ACCURACY = 10000


def q_corpus_quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based corpus quantiles — the mergeable 100 TB path
    (operators/text.py:corpus_quantiles_approx) — wrapped in a
    SELF-CERTIFYING output so the driver gate is meaningful (r3 row
    was ``err: no_oracle``): the query emits the EXACT quantiles
    (DuckDB-checkable) plus one ``ok_*`` certificate per sketch value
    computed Spark-side — 1 iff the GK sketch value's rank lies
    within n/accuracy (+1 row interpolation slack) of the target
    rank.  The oracle pins the exact quantiles and asserts every
    certificate is literally 1, so a sketch outside its error bound
    hash-mismatches instead of passing silently."""
    from .operators.text import (
        QUANTILE_PROBS,
        corpus_quantiles_approx,
        normalized_text,
    )

    docs = _docs(spark, sf_dir)
    sketch = corpus_quantiles_approx(docs, accuracy=QUANTILE_ACCURACY)
    sketch_r = sketch.select(
        *[F.col(c).alias(f"s_{c}") for c in sketch.columns])

    n_chars = F.length(F.col("text")).cast("double")
    n_ws = F.size(F.split(normalized_text("text"), " ")).cast("double")
    measured = docs.select(n_chars.alias("_nc"), n_ws.alias("_nt"))

    # one pass over the corpus computes BOTH the exact quantiles and
    # the rank brackets [#(x < v), #(x <= v)] of every sketch value
    # (the sketch row is a broadcast single-row cross join)
    j = measured.crossJoin(F.broadcast(sketch_r))
    aggs = [F.count(F.lit(1)).cast("long").alias("n_docs")]
    for p in QUANTILE_PROBS:
        tag = str(int(p * 100))
        for meas, col_ in (("chars", "_nc"), ("tokens", "_nt")):
            v = F.col(f"s_{meas}_p{tag}")
            aggs.append(F.round(F.percentile(col_, p), 4)
                        .alias(f"{meas}_p{tag}"))
            aggs.append(F.sum((F.col(col_) < v).cast("long"))
                        .alias(f"_lo_{meas}_{tag}"))
            aggs.append(F.sum((F.col(col_) <= v).cast("long"))
                        .alias(f"_hi_{meas}_{tag}"))
    row = j.agg(*aggs)

    n = F.col("n_docs").cast("double")
    tol = n / QUANTILE_ACCURACY + 1.0
    out = [F.col("n_docs")]
    for p in QUANTILE_PROBS:
        tag = str(int(p * 100))
        for meas in ("chars", "tokens"):
            out.append(F.col(f"{meas}_p{tag}"))
            # sketch value v occupies 1-based ranks [lo+1, hi]; target
            # rank is the interpolated 1 + p*(n-1)
            t = 1.0 + F.lit(p) * (n - 1.0)
            lo = F.col(f"_lo_{meas}_{tag}").cast("double")
            hi = F.col(f"_hi_{meas}_{tag}").cast("double")
            ok = (lo + 1.0 - tol <= t) & (t <= hi + tol)
            out.append(ok.cast("long").alias(f"ok_{meas}_p{tag}"))
    return row.select(*out)


def q_corpus_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact length-distribution quantiles over the corpus
    (operators/text.py:corpus_quantiles)."""
    from .operators.text import corpus_quantiles

    return corpus_quantiles(_docs(spark, sf_dir))


def _corpus_quantiles_approx_sql() -> str:
    from .operators.text import QUANTILE_PROBS

    cols = []
    for p in QUANTILE_PROBS:
        tag = str(int(p * 100))
        for meas, expr in (("chars", "nc"), ("tokens", "nt")):
            cols.append(
                f"round(quantile_cont({expr}, {p}), 4) AS {meas}_p{tag}")
            # the certificate: the Spark side computes the sketch's
            # actual rank error; the oracle demands it passed
            cols.append(f"1::BIGINT AS ok_{meas}_p{tag}")
    return f"""
WITH {_D_BASE},
m AS (
    SELECT length(d.text)::DOUBLE AS nc, len(t.w)::DOUBLE AS nt
    FROM documents d JOIN tok t ON d.doc_id = t.doc_id
)
SELECT COUNT(*)::BIGINT AS n_docs,
       {', '.join(cols)}
FROM m
"""


def _corpus_quantiles_sql() -> str:
    from .operators.text import QUANTILE_PROBS

    cols = []
    for p in QUANTILE_PROBS:
        tag = str(int(p * 100))
        cols.append(f"round(quantile_cont(nc, {p}), 4) AS chars_p{tag}")
        cols.append(f"round(quantile_cont(nt, {p}), 4) AS tokens_p{tag}")
    return f"""
WITH {_D_BASE},
m AS (
    SELECT length(d.text)::DOUBLE AS nc, len(t.w)::DOUBLE AS nt
    FROM documents d JOIN tok t ON d.doc_id = t.doc_id
)
SELECT COUNT(*)::BIGINT AS n_docs,
       {', '.join(cols)}
FROM m
"""


def q_source_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact length quantiles
    (operators/text.py:group_quantiles)."""
    from .operators.text import group_quantiles

    return group_quantiles(_docs(spark, sf_dir), "source")


def _source_quantiles_sql() -> str:
    from .operators.text import QUANTILE_PROBS

    cols = []
    for p in QUANTILE_PROBS:
        tag = str(int(p * 100))
        cols.append(f"round(quantile_cont(nc, {p}), 4) AS chars_p{tag}")
        cols.append(f"round(quantile_cont(nt, {p}), 4) AS tokens_p{tag}")
    return f"""
WITH {_D_BASE},
m AS (
    SELECT d.source, length(d.text)::DOUBLE AS nc, len(t.w)::DOUBLE AS nt
    FROM documents d JOIN tok t ON d.doc_id = t.doc_id
)
SELECT source, COUNT(*)::BIGINT AS n_docs,
       {', '.join(cols)}
FROM m GROUP BY 1
"""


VOCAB_TOP_N = 100


def q_token_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-100 tokens by document frequency
    (operators/text.py:token_vocab)."""
    from .operators.text import token_vocab

    return token_vocab(_docs(spark, sf_dir), top_n=VOCAB_TOP_N)


def _token_vocab_sql() -> str:
    return f"""
WITH {_D_BASE},
toks AS (
    SELECT doc_id, unnest(w) AS token FROM tok
), nonempty AS (
    SELECT doc_id, token FROM toks WHERE token <> ''
), per_doc AS (
    SELECT doc_id, token, COUNT(*) AS occ
    FROM nonempty GROUP BY 1, 2
), vocab AS (
    SELECT token, COUNT(*)::BIGINT AS doc_freq, sum(occ)::BIGINT AS total_occurrences
    FROM per_doc GROUP BY 1
), ranked AS (
    SELECT *, row_number() OVER (
        ORDER BY doc_freq DESC, total_occurrences DESC, token) AS rnk
    FROM vocab
)
SELECT token, doc_freq, total_occurrences, rnk::BIGINT AS rnk
FROM ranked WHERE rnk <= {VOCAB_TOP_N}
"""


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals
    (operators/text.py:repetition_stats)."""
    from .operators.text import repetition_stats

    return repetition_stats(_docs(spark, sf_dir))


REPETITION_SQL = f"""
WITH {_D_BASE},
g2 AS (
    SELECT doc_id, 2 AS n,
           unnest(CASE WHEN len(w) < 2 THEN []::VARCHAR[]
                  ELSE [array_to_string(w[i:i+1], ' ')
                        for i in range(1, len(w))] END) AS gram
    FROM tok
), g3 AS (
    SELECT doc_id, 3 AS n,
           unnest(CASE WHEN len(w) < 3 THEN []::VARCHAR[]
                  ELSE [array_to_string(w[i:i+2], ' ')
                        for i in range(1, len(w) - 1)] END) AS gram
    FROM tok
), occ AS (
    SELECT doc_id, n, gram, COUNT(*) AS cnt
    FROM (SELECT * FROM g2 UNION ALL SELECT * FROM g3) GROUP BY 1, 2, 3
), per AS (
    SELECT doc_id, n, sum(cnt) AS total, max(cnt) AS topn,
           sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dupn
    FROM occ GROUP BY 1, 2
), wide AS (
    SELECT doc_id,
           coalesce(max(CASE WHEN n = 2 THEN total END), 0) AS n2,
           coalesce(max(CASE WHEN n = 2 THEN topn END), 0) AS top2,
           coalesce(max(CASE WHEN n = 3 THEN total END), 0) AS n3,
           coalesce(max(CASE WHEN n = 3 THEN dupn END), 0) AS dup3
    FROM per GROUP BY 1
)
SELECT doc_id, n2::BIGINT AS n_bigrams, top2::BIGINT AS top_bigram_n,
       round(top2::DOUBLE / greatest(n2, 1), 4) AS top_bigram_frac,
       n3::BIGINT AS n_trigrams, dup3::BIGINT AS dup_trigram_n,
       round(dup3::DOUBLE / greatest(n3, 1), 4) AS dup_trigram_frac
FROM wide
"""


TFIDF_K = 5


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-5 distinctive terms by tf-idf
    (operators/text.py:tf_idf_top_terms)."""
    from .operators.text import tf_idf_top_terms

    return tf_idf_top_terms(_docs(spark, sf_dir), k=TFIDF_K)


TFIDF_SQL = f"""
WITH {_D_BASE},
toks AS (
    SELECT doc_id, unnest(w) AS token FROM tok
), ne AS (
    SELECT doc_id, token FROM toks WHERE token <> ''
), tf AS (
    SELECT doc_id, token, COUNT(*)::BIGINT AS tf FROM ne GROUP BY 1, 2
), dfreq AS (
    SELECT token, COUNT(*)::BIGINT AS df FROM tf GROUP BY 1
), nd AS (
    SELECT COUNT(*)::BIGINT AS n_docs FROM documents
), scored AS (
    SELECT t.doc_id, t.token, t.tf, d.df,
           round(t.tf::DOUBLE * nd.n_docs / d.df, 4) AS tfidf
    FROM tf t JOIN dfreq d USING (token) CROSS JOIN nd
), ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rnk
    FROM scored
)
SELECT doc_id, token, tf, df, tfidf, rnk::BIGINT AS rnk
FROM ranked WHERE rnk <= {TFIDF_K}
"""


CONTAM_RATE, CONTAM_N = 0.05, 5


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs sharing a 5-gram with
    the (hash-split) eval set
    (operators/contamination.py:ngram_contamination)."""
    from .operators.contamination import ngram_contamination

    return ngram_contamination(_docs(spark, sf_dir), CONTAM_RATE, CONTAM_N)


def q_contamination_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION decontamination shape: the training corpus's
    distinct n-grams live in a STORED bucketed inverted index
    (operators/contamination.py:contam_store_grams — built once per
    corpus version, appendable per batch through the exactly-once
    ledger), and each benchmark release probes it
    (contamination_from_store): the eval set shingles ITSELF, fps
    its grams, and semi-joins the index — the corpus text is never
    rescanned. Same (doc_id, n_hits) semantics as contamination in
    fp space; the oracle recomputes both sides from scratch with the
    identical portable md5 fp, so a fp-pipeline bug cannot hide."""
    from .operators.contamination import (
        contam_store_grams,
        contamination_from_store,
    )
    from .operators.sampling import hash_uniform

    docs = _docs(spark, sf_dir)
    is_eval = hash_uniform("doc_id", "eval") < CONTAM_RATE
    prefix = f"contam_{_artifact_tag(sf_dir)}"
    if not readers.index_ready(spark, prefix):
        contam_store_grams(docs.where(~is_eval), prefix, n=CONTAM_N)
    return contamination_from_store(spark, prefix,
                                    docs.where(is_eval), n=CONTAM_N)


def _contamination_stored_sql() -> str:
    u = _D_MD5INT.format(x="'eval:' || doc_id::VARCHAR")
    fp = _D_MD5INT.format(x="gram")
    n = CONTAM_N
    return f"""
WITH norm AS (
    SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
           '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS ntext
    FROM documents
), tok AS (
    SELECT doc_id, string_split(ntext, ' ') AS w FROM norm
), sh AS (
    SELECT doc_id,
           CASE WHEN len(w) < {n} THEN [array_to_string(w, ' ')]
                ELSE list_distinct([array_to_string(w[i:i+{n - 1}], ' ')
                                    for i in range(1, len(w) - {n - 2})])
           END AS shingles,
           {u} / 1152921504606846976.0 < {CONTAM_RATE} AS is_eval
    FROM tok
), fps AS (
    SELECT doc_id, is_eval, {fp} AS gram_fp
    FROM (SELECT doc_id, is_eval, unnest(shingles) AS gram FROM sh)
    WHERE gram IS NOT NULL
), ev AS (
    SELECT DISTINCT gram_fp FROM fps WHERE is_eval
)
SELECT f.doc_id, COUNT(*)::BIGINT AS n_hits
FROM fps f JOIN ev USING (gram_fp)
WHERE NOT f.is_eval
GROUP BY 1
"""


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: shared distinct 5-grams per
    unordered source pair (operators/contamination.py:
    source_overlap_matrix) — the double-counting diagnostic a mixture
    pipeline reads before weighting sources."""
    from .operators.contamination import source_overlap_matrix

    return source_overlap_matrix(_docs(spark, sf_dir), CONTAM_N)


def _source_overlap_sql() -> str:
    n = CONTAM_N
    return f"""
WITH norm AS (
    SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
           '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS ntext
    FROM documents
), tok AS (
    SELECT doc_id, string_split(ntext, ' ') AS w FROM norm
), sh AS (
    SELECT doc_id,
           CASE WHEN len(w) < {n} THEN [array_to_string(w, ' ')]
                ELSE list_distinct([array_to_string(w[i:i+{n - 1}], ' ')
                                    for i in range(1, len(w) - {n - 2})])
           END AS shingles
    FROM tok
), gs AS (
    SELECT DISTINCT d.source AS src, g.gram
    FROM (SELECT doc_id, unnest(shingles) AS gram FROM sh) g
    JOIN documents d USING (doc_id)
    WHERE g.gram IS NOT NULL
)
SELECT a.src AS source_a, b.src AS source_b,
       COUNT(*)::BIGINT AS n_shared_grams
FROM gs a JOIN gs b ON a.gram = b.gram AND a.src < b.src
GROUP BY 1, 2
"""


def _contamination_sql() -> str:
    u = _D_MD5INT.format(x="'eval:' || doc_id::VARCHAR")
    n = CONTAM_N
    return f"""
WITH norm AS (
    SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
           '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS ntext
    FROM documents
), tok AS (
    SELECT doc_id, string_split(ntext, ' ') AS w FROM norm
), sh AS (
    SELECT doc_id,
           CASE WHEN len(w) < {n} THEN [array_to_string(w, ' ')]
                ELSE list_distinct([array_to_string(w[i:i+{n - 1}], ' ')
                                    for i in range(1, len(w) - {n - 2})])
           END AS shingles,
           {u} / 1152921504606846976.0 < {CONTAM_RATE} AS is_eval
    FROM tok
), grams AS (
    SELECT doc_id, is_eval, unnest(shingles) AS gram FROM sh
), ev AS (
    SELECT DISTINCT gram FROM grams WHERE is_eval
)
SELECT g.doc_id, COUNT(*)::BIGINT AS n_hits
FROM grams g JOIN ev USING (gram)
WHERE NOT g.is_eval
GROUP BY 1
"""


STRAT_K = 20


def q_stratified_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-stratum sample of documents by lang
    (operators/sampling.py:stratified_sample_k)."""
    from .operators.sampling import stratified_sample_k

    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    return stratified_sample_k(docs, ["lang"], STRAT_K, "doc_id")


def _stratified_sql() -> str:
    h = _D_MD5INT.format(x="'strat:' || doc_id::VARCHAR")
    return f"""
WITH r AS (
    SELECT doc_id, lang, row_number() OVER (
        PARTITION BY lang ORDER BY {h}, doc_id) AS strat_rank
    FROM documents
)
SELECT doc_id, lang, strat_rank::BIGINT AS strat_rank
FROM r WHERE strat_rank <= {STRAT_K}
"""


CHUNK_TOKENS = 32


def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size token chunking of every document
    (operators/chunking.py:chunk_documents)."""
    from .operators.chunking import chunk_documents

    return chunk_documents(_docs(spark, sf_dir), CHUNK_TOKENS)


CHUNK_SQL = f"""
WITH {_D_BASE},
nch AS (
    SELECT doc_id, w, ceil(len(w) / {CHUNK_TOKENS}.0)::INT AS nc FROM tok
), idx AS (
    SELECT doc_id, w, unnest(range(0, nc)) AS i FROM nch
)
SELECT doc_id, i::BIGINT AS chunk_idx,
       len(w[(i * {CHUNK_TOKENS} + 1):((i + 1) * {CHUNK_TOKENS})])::BIGINT
           AS n_chunk_tokens,
       array_to_string(w[(i * {CHUNK_TOKENS} + 1):((i + 1) * {CHUNK_TOKENS})],
                       ' ') AS chunk_text
FROM idx
"""


SEQ_TOKENS, PACK_BUCKETS = 64, 8


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-cut sequence packing of the 32-token chunks into
    64-token training sequences, bucket-parallel
    (operators/chunking.py:pack_sequences)."""
    from .operators.chunking import chunk_documents, pack_sequences

    return pack_sequences(
        chunk_documents(_docs(spark, sf_dir), CHUNK_TOKENS),
        SEQ_TOKENS, PACK_BUCKETS,
    )


def _pack_sql() -> str:
    h = _D_MD5INT.format(x="'pack:' || doc_id::VARCHAR")
    c, L, b = CHUNK_TOKENS, SEQ_TOKENS, PACK_BUCKETS
    return f"""
WITH {_D_BASE},
nch AS (
    SELECT doc_id, w, ceil(len(w) / {c}.0)::INT AS nc FROM tok
), idx AS (
    SELECT doc_id, w, unnest(range(0, nc)) AS i FROM nch
), ch AS (
    SELECT doc_id, i AS chunk_idx,
           len(w[(i * {c} + 1):((i + 1) * {c})]) AS n_chunk_tokens,
           array_to_string(w[(i * {c} + 1):((i + 1) * {c})], ' ') AS chunk_text
    FROM idx
), bk AS (
    SELECT *, {h} % {b} AS bucket FROM ch
), cum AS (
    SELECT *, sum(n_chunk_tokens) OVER (
        PARTITION BY bucket ORDER BY doc_id, chunk_idx
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cend
    FROM bk
), st AS (
    SELECT *, (cend - n_chunk_tokens)::BIGINT AS cstart FROM cum
), spans AS (
    SELECT *, unnest(range(cstart // {L}, (cend - 1) // {L} + 1)) AS seq_id
    FROM st
), pieces AS (
    SELECT bucket, seq_id, doc_id, chunk_idx,
           least(cend, (seq_id + 1) * {L})
               - greatest(cstart, seq_id * {L}) AS np,
           array_to_string(string_split(chunk_text, ' ')
               [(greatest(cstart, seq_id * {L}) - cstart + 1)
                :(least(cend, (seq_id + 1) * {L}) - cstart)], ' ') AS piece
    FROM spans
)
SELECT bucket::BIGINT AS bucket, seq_id::BIGINT AS seq_id,
       sum(np)::BIGINT AS n_seq_tokens,
       count(DISTINCT doc_id)::BIGINT AS n_docs,
       array_to_string(list(piece ORDER BY doc_id, chunk_idx), ' ')
           AS seq_text
FROM pieces GROUP BY 1, 2
"""


CURATION_QMIN = 0.6


def curation_head(docs: DataFrame) -> DataFrame:
    """Quality filter -> exact dedup, the curation pipeline's head."""
    return exact_dedup(docs.where(quality_score_col("text") >= CURATION_QMIN))


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END curation: the composed pipeline a pre-training run
    actually executes, each stage one of this repo's operators —

      eval/train hash split -> quality filter (text_stats >= 0.6)
      -> exact dedup (min-id keeper) -> MinHash-LSH near-dup
      clustering (min-id keeper) -> 5-gram decontamination vs the
      eval split -> duplicated-SPAN removal (Lee et al. substring
      cut, VERDICT r5 #5; emptied docs dropped) -> 32-token chunking
      -> 64-token sequence packing.

    Output = the packed training sequences of the surviving corpus.
    The oracle replays every stage as one DuckDB CTE chain, so the
    hash match certifies the COMPOSITION, not just each stage alone.

    Scale: each stage keeps its own operator's shuffle shape; stages
    communicate only by doc_id semi/anti joins on progressively
    smaller survivor sets. The survivor frames d2/d3/d4 are
    localCheckpoint'ed: the composed stages otherwise nest one
    Catalyst tree deep enough for a driver StackOverflowError during
    analysis (measured — the 5-gram explode over the un-checkpointed
    d3 join is the tipping point; project collapsing substitutes the
    higher-order shingle expression multiplicatively through the
    join). Same lineage-truncation rationale as connected_components;
    d2 is also consumed by three downstream stages, so materializing
    it avoids recomputing quality + exact-dedup three times.
    """
    from .operators.chunking import chunk_documents, pack_sequences
    from .operators.cluster import connected_components
    from .operators.dedup import normalized_text, with_shingles
    from .operators.sampling import hash_uniform

    docs = _docs(spark, sf_dir)
    is_eval = hash_uniform("doc_id", "eval") < CONTAM_RATE
    eval_docs = docs.where(is_eval)
    train = docs.where(~is_eval)
    # quality is a pure per-row projection, so the filter inlines as a
    # scan predicate — no join, no shuffle
    d1 = train.where(quality_score_col("text") >= CURATION_QMIN)
    # exact dedup as ONE min-window pass (r15, §2.4): the old
    # groupBy(_fp).min + join-back form evaluated the d1 subtree —
    # regex-heavy quality filter + normalize + md5 — TWICE inside
    # the d2 checkpoint job (once per join side). min(doc_id) over
    # a fingerprint window keeps exactly the same rows (the min-id
    # doc per fp; doc_id is unique) off a single evaluation.
    # A/B same-window min-of-4: 1.79 -> 1.19 s / 1.80 -> 0.98 s.
    # Fp keys are md5 — the skew study (§4 / tests/
    # test_skew_window_choice.py) covers the hot-key exposure.
    from pyspark.sql import Window

    w_fp = Window.partitionBy("_fp")
    # EAGER checkpoints, deliberately (r14, guide §1.2): the lazy
    # variant (materialize inside the next consumer's first job)
    # was A/B-tested and measured ~0.7 s SLOWER here (9.59 vs 8.90
    # min-of-3 same-session) — each stage materializing with full
    # 32-way parallelism beats folding it into the next consumer's
    # job, whose first action is narrower. connected_components'
    # per-round checkpoints are the opposite case (see cluster.py).
    d2 = (
        d1.withColumn("_fp", F.md5(normalized_text("text")))
        .withColumn("_min", F.min("doc_id").over(w_fp))
        .where(F.col("_min") == F.col("doc_id"))
        .drop("_fp", "_min")
        .localCheckpoint(eager=True)
    )
    pairs = minhash_lsh_pairs(d2, JACCARD_T, k=MINHASH_K,
                              bands=LSH_BANDS)
    comp = connected_components(d2.select("doc_id"), pairs,
                                id_col="doc_id")
    keepers = comp.where(
        F.col("doc_id") == F.col("component")).select("doc_id")
    d3 = d2.join(keepers, "doc_id").localCheckpoint(eager=True)
    ev_grams = (
        with_shingles(eval_docs, n=CONTAM_N)
        .select(F.explode_outer("shingles").alias("gram"))
        .where(F.col("gram").isNotNull()).distinct()
    )
    tr_grams = with_shingles(d3, n=CONTAM_N).select(
        "doc_id", F.explode_outer("shingles").alias("gram")
    ).where(F.col("gram").isNotNull())
    contaminated = (
        tr_grams.join(F.broadcast(ev_grams), "gram").select("doc_id").distinct()
    )
    d4 = d3.join(contaminated, "doc_id", "left_anti").localCheckpoint(eager=True)
    from .operators.chunking import remove_duplicated_spans

    # substring-level cut within the surviving corpus; fully-emptied
    # docs drop out. clean_text is already the normalized token
    # stream, so downstream re-normalization is idempotent.
    cleaned = (
        remove_duplicated_spans(d4, SPAN_TOKENS)
        .where(F.col("clean_text") != "")
        .select("doc_id", F.col("clean_text").alias("text"))
        .localCheckpoint(eager=True)
    )
    return pack_sequences(
        chunk_documents(cleaned, CHUNK_TOKENS), SEQ_TOKENS, PACK_BUCKETS
    )


def _curation_sql() -> str:
    u = _D_MD5INT.format(x="'eval:' || doc_id::VARCHAR")
    h = _D_MD5INT.format(x="'pack:' || doc_id::VARCHAR")
    c, L, b, n = CHUNK_TOKENS, SEQ_TOKENS, PACK_BUCKETS, CONTAM_N
    return f"""
WITH RECURSIVE split AS (
    SELECT doc_id, text,
           {u} / 1152921504606846976.0 < {CONTAM_RATE} AS is_eval
    FROM documents
), evald AS (
    SELECT doc_id, text FROM split WHERE is_eval
), train AS (
    SELECT doc_id, text FROM split WHERE NOT is_eval
),
{_text_ctes("train", "t")},
quality AS (
    SELECT d.doc_id,
           round(0.4 * least(len(t.w)::DOUBLE / 100, 1.0)
                 + 0.3 * (1.0 - (length(d.text) - length(regexp_replace(d.text,
                           '[^a-zA-Z0-9\\s]', '', 'g')))::DOUBLE
                          / greatest(length(d.text), 1))
                 + 0.3 * len(list_distinct(t.w))::DOUBLE / greatest(len(t.w), 1),
                 4) AS q
    FROM train d JOIN ttok t ON d.doc_id = t.doc_id
), d1 AS (
    SELECT t.doc_id, t.text FROM train t
    JOIN quality q USING (doc_id) WHERE q.q >= {CURATION_QMIN}
), keep_exact AS (
    SELECT min(f.doc_id) AS doc_id
    FROM d1 f JOIN tnorm nn ON f.doc_id = nn.doc_id
    GROUP BY md5(nn.ntext)
), d2 AS (
    SELECT d1.* FROM d1 JOIN keep_exact USING (doc_id)
),
{_minhash_ctes("d2", "m")},
sym AS (
    SELECT id_a AS nd, id_b AS md FROM mpairs
    UNION ALL
    SELECT id_b AS nd, id_a AS md FROM mpairs
),
reach(nd, comp) AS (
    SELECT doc_id, doc_id FROM d2
    UNION
    SELECT s.nd, r.comp FROM sym s JOIN reach r ON r.nd = s.md
),
comp AS (SELECT nd AS doc_id, min(comp) AS cluster_id FROM reach GROUP BY nd),
d3 AS (
    SELECT d2.* FROM d2 JOIN comp ON d2.doc_id = comp.doc_id
    WHERE comp.doc_id = comp.cluster_id
),
{_text_ctes("evald", "e", n)},
eg AS (
    SELECT DISTINCT unnest(shingles) AS gram FROM esh
),
{_text_ctes("d3", "g", n)},
contaminated AS (
    SELECT DISTINCT s.doc_id
    FROM (SELECT doc_id, unnest(shingles) AS gram FROM gsh) s
    JOIN eg USING (gram)
), d4 AS (
    SELECT d3.doc_id, d3.text FROM d3
    LEFT JOIN contaminated c USING (doc_id) WHERE c.doc_id IS NULL
),
{_text_ctes("d4", "z")},
zsized AS (
    SELECT doc_id, w, len(w)::BIGINT AS n_tokens FROM ztok
), zspans AS (
    SELECT doc_id, i::BIGINT AS pos,
           md5(array_to_string(w[i:i + {SPAN_TOKENS - 1}], ' ')) AS fp
    FROM (SELECT doc_id, w,
                 unnest(range(1, len(w) - {SPAN_TOKENS} + 2)) AS i
          FROM zsized WHERE n_tokens >= {SPAN_TOKENS})
), zocc AS (
    SELECT fp, COUNT(*)::BIGINT AS n_occ FROM zspans GROUP BY 1
), zdup AS (
    SELECT s.doc_id, s.pos FROM zspans s JOIN zocc USING (fp)
    WHERE zocc.n_occ >= 2
), zcontrib AS (
    SELECT doc_id, pos,
           LEAST(COALESCE(lead(pos) OVER (PARTITION BY doc_id
                                          ORDER BY pos) - pos,
                          {SPAN_TOKENS}), {SPAN_TOKENS}) AS c
    FROM zdup
), zcovered AS (
    SELECT doc_id, unnest(range(pos, pos + c))::BIGINT AS tpos
    FROM zcontrib
), ztoks AS (
    SELECT doc_id, tpos::BIGINT AS tpos, w[tpos] AS tok
    FROM (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS tpos
          FROM zsized)
), zkept AS (
    SELECT t.doc_id, t.tpos, t.tok
    FROM ztoks t LEFT JOIN zcovered v
      ON t.doc_id = v.doc_id AND t.tpos = v.tpos
    WHERE v.tpos IS NULL
), zagg AS (
    SELECT doc_id, string_agg(tok, ' ' ORDER BY tpos) AS clean_text
    FROM zkept GROUP BY 1
), cleaned AS (
    SELECT s.doc_id, a.clean_text AS text
    FROM zsized s JOIN zagg a USING (doc_id)
    WHERE a.clean_text <> ''
),
{_text_ctes("cleaned", "p")},
nch AS (
    SELECT doc_id, w, ceil(len(w) / {c}.0)::INT AS nc FROM ptok
), idx AS (
    SELECT doc_id, w, unnest(range(0, nc)) AS i FROM nch
), ch AS (
    SELECT doc_id, i AS chunk_idx,
           len(w[(i * {c} + 1):((i + 1) * {c})]) AS n_chunk_tokens,
           array_to_string(w[(i * {c} + 1):((i + 1) * {c})], ' ') AS chunk_text
    FROM idx
), bk AS (
    SELECT *, {h} % {b} AS bucket FROM ch
), cum AS (
    SELECT *, sum(n_chunk_tokens) OVER (
        PARTITION BY bucket ORDER BY doc_id, chunk_idx
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cend
    FROM bk
), st AS (
    SELECT *, (cend - n_chunk_tokens)::BIGINT AS cstart FROM cum
), spans AS (
    SELECT *, unnest(range(cstart // {L}, (cend - 1) // {L} + 1)) AS seq_id
    FROM st
), pieces AS (
    SELECT bucket, seq_id, doc_id, chunk_idx,
           least(cend, (seq_id + 1) * {L})
               - greatest(cstart, seq_id * {L}) AS np,
           array_to_string(string_split(chunk_text, ' ')
               [(greatest(cstart, seq_id * {L}) - cstart + 1)
                :(least(cend, (seq_id + 1) * {L}) - cstart)], ' ') AS piece
    FROM spans
)
SELECT bucket::BIGINT AS bucket, seq_id::BIGINT AS seq_id,
       sum(np)::BIGINT AS n_seq_tokens,
       count(DISTINCT doc_id)::BIGINT AS n_docs,
       array_to_string(list(piece ORDER BY doc_id, chunk_idx), ' ')
           AS seq_text
FROM pieces GROUP BY 1, 2
"""


def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return doc_fingerprints(_docs(spark, sf_dir))


def _fingerprint_sql(minhash_k: int = 4) -> str:
    mins = ",\n       ".join(
        "list_min(list_transform(shingles, s -> "
        + _D_MD5INT.format(x=f"'{i}|' || s")
        + f")) AS fp_min{i}"
        for i in range(minhash_k)
    )
    return f"""
WITH {_D_BASE}
SELECT n.doc_id, md5(n.ntext) AS fp_md5,
       {mins}
FROM norm n JOIN sh ON n.doc_id = sh.doc_id
"""


# ------------------------------------------------------------- multimodal

def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = documents_as_media(_docs(spark, sf_dir))
    return media.select(
        "media_id", "media_type", "format", "n_bytes", "content_sha256"
    )


MULTIMODAL_META_SQL = """
SELECT doc_id AS media_id, 'image' AS media_type, 'png' AS format,
       octet_length(encode(text))::BIGINT AS n_bytes,
       sha256(text) AS content_sha256
FROM documents
"""


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow decode path over REAL binary PPM payloads:
    documents_as_ppm builds P6 images JVM-side, the pure-python codec
    (operators/multimodal.ppm_decode) parses header + pixels inside an
    Arrow kernel, and every emitted feature (dims, per-channel means,
    min/max byte) is exact in float32 — so the DuckDB oracle
    recomputes them bit-for-bit from hex(encode(text))."""
    from .operators.multimodal import documents_as_ppm

    feats = decode_media(documents_as_ppm(_docs(spark, sf_dir)))
    sel = [F.element_at("feature", i + 1).cast("double").alias(a)
           for i, a in enumerate(
               ["w", "h", "mean_r", "mean_g", "mean_b",
                "min_byte", "max_byte", "n_pixels"])]
    return feats.select("media_id", F.col("n_bytes").cast("long").alias("n_bytes"), *sel)


# oracle: rebuild the padded pixel block as hex (2 chars per byte),
# then fold the channel-strided byte lists; list_* run per row — no
# join, no explosion
_PPM_W, _PPM_H = 8, 4
_PPM_NPX = _PPM_W * _PPM_H
_PPM_NBYTES = _PPM_NPX * 3
_PPM_HDR_LEN = len(f"P6\n{_PPM_W} {_PPM_H}\n255\n")

MULTIMODAL_DECODE_SQL = f"""
WITH b AS (
    SELECT doc_id AS media_id,
           rpad(substr(hex(encode(text)), 1, {_PPM_NBYTES * 2}),
                {_PPM_NBYTES * 2}, '0') AS hxp
    FROM documents
), px AS (
    SELECT media_id,
           list_transform(range(0, {_PPM_NBYTES}),
               i -> ('0x' || substr(hxp, i * 2 + 1, 2))::BIGINT) AS bytes
    FROM b
)
SELECT media_id,
       {_PPM_HDR_LEN + _PPM_NBYTES}::BIGINT AS n_bytes,
       {_PPM_W}::DOUBLE AS w, {_PPM_H}::DOUBLE AS h,
       list_sum(list_transform(range(0, {_PPM_NPX}),
           i -> bytes[3 * i + 1])) / {_PPM_NPX}.0 AS mean_r,
       list_sum(list_transform(range(0, {_PPM_NPX}),
           i -> bytes[3 * i + 2])) / {_PPM_NPX}.0 AS mean_g,
       list_sum(list_transform(range(0, {_PPM_NPX}),
           i -> bytes[3 * i + 3])) / {_PPM_NPX}.0 AS mean_b,
       list_min(bytes)::DOUBLE AS min_byte,
       list_max(bytes)::DOUBLE AS max_byte,
       {_PPM_NPX}::DOUBLE AS n_pixels
FROM px
"""


def q_multimodal_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-format header metadata: docs become REAL byte streams by
    doc_id % 4 (operators/multimodal.documents_by_format) — PNG
    (signature + CRC-validated IHDR), JPEG (SOI/APP0/SOF0 marker
    stream), GIF89a (logical screen descriptor, little-endian dims),
    BMP (BITMAPINFOHEADER) — all built JVM-side with dims derived
    from the text length; the spec-literal pure-python header parsers
    (operators/multimodal.py:png_header / jpeg_header / gif_header /
    bmp_header) then recover (width, height, bit_depth, channels)
    from the BYTES inside one Arrow kernel pass. The oracle predicts
    the dims independently from the length formula — a builder/parser
    endianness or offset bug surfaces as a hash mismatch; the
    byte-level fixture pins live in tests/test_pipeline_ops.py against
    hand-verified spec vectors."""
    from .operators.multimodal import documents_by_format, media_headers

    return media_headers(documents_by_format(_docs(spark, sf_dir)))


MULTIMODAL_HEADERS_SQL = """
SELECT doc_id AS media_id,
       CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
            WHEN 2 THEN 'gif' ELSE 'bmp' END AS format,
       (octet_length(encode(text)) % 64 + 1)::BIGINT AS width,
       (octet_length(encode(text)) % 32 + 1)::BIGINT AS height,
       8::BIGINT AS bit_depth,
       3::BIGINT AS channels
FROM documents
"""


def q_image_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image exact-perceptual-dup groups (r11): average-hash every
    real PPM payload (operators/multimodal.media_ahash — integer
    aHash, the public perceptual-hash family's threshold-at-mean
    member) and group identical hashes: (phash, keeper_id, n_images)
    for groups of >= 2. Hash-space dedup — the pixels are read once;
    the group-by shuffles 1 row per image on a uniform 32-bit key.
    The DuckDB oracle recomputes every hash bit from hex(encode(text))
    with the same cross-multiplied mean comparison (no float seam)."""
    from .operators.multimodal import documents_as_ppm, media_ahash

    media = documents_as_ppm(_docs(spark, sf_dir))
    return (
        media_ahash(media).groupBy("phash")
        .agg(F.min("media_id").alias("keeper_id"),
             F.count(F.lit(1)).cast("long").alias("n_images"))
        .where(F.col("n_images") >= 2)
    )


# shared hash CTE: pixel sums from the zero-padded text-byte block
# (same reconstruction as MULTIMODAL_DECODE_SQL), cross-multiplied
# mean threshold, MSB-first bit fold — integer arithmetic end to end
_PHASH_CTE = f"""
WITH b AS (
    SELECT doc_id AS media_id,
           rpad(substr(hex(encode(text)), 1, {_PPM_NBYTES * 2}),
                {_PPM_NBYTES * 2}, '0') AS hxp
    FROM documents
), s AS (
    SELECT media_id,
           list_transform(range(0, {_PPM_NPX}), j ->
               ('0x' || substr(hxp, j * 6 + 1, 2))::BIGINT
             + ('0x' || substr(hxp, j * 6 + 3, 2))::BIGINT
             + ('0x' || substr(hxp, j * 6 + 5, 2))::BIGINT) AS sl
    FROM b
), t AS (
    SELECT media_id, sl, CAST(list_sum(sl) AS BIGINT) AS total FROM s
), hsh AS (
    SELECT media_id,
           CAST(list_sum(list_transform(range(0, {_PPM_NPX}), j ->
               CASE WHEN sl[j + 1] * {_PPM_NPX} > total
                    THEN (1::BIGINT << ({_PPM_NPX} - 1 - j))
                    ELSE 0 END)) AS BIGINT) AS phash
    FROM t
)
"""

IMAGE_PHASH_DEDUP_SQL = _PHASH_CTE + """
SELECT phash, MIN(media_id) AS keeper_id,
       COUNT(*)::BIGINT AS n_images
FROM hsh GROUP BY phash HAVING COUNT(*) >= 2
"""


PHASH_MAX_HAMMING = 3
# wide-hash banding geometry: 60 bits = 4 chunks x 15 bits, plus the
# winnow-style bucket cap as the production guard
_PHASH_WIDE_BITS = _PPM_NPX + _PPM_H * (_PPM_W - 1)   # 32 + 28
_PHASH_ND = _PPM_H * (_PPM_W - 1)                      # dHash bits
PHASH_NEARDUP_BANDS = 4
PHASH_NEARDUP_MAX_BUCKET = 50


def q_image_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image NEAR-dup pairs: hamming(wide phash) <= 3 via pigeonhole
    banding (operators/multimodal.phash_neardup_pairs — the
    simhash_pairs shape on perceptual hashes: 4 equality joins on
    15-bit chunks, exact hamming verify; never an all-pairs product).

    r11 sf1 fix: the first registration banded the 32-bit aHash into
    8-bit chunks, whose 256-value space saturates — bucket density
    grows linearly with corpus size and the candidate join went
    quadratic (measured 107x wall for 10x images). Now the hash is
    the 60-bit aHash||dHash (operators/multimodal.phash_wide), so
    chunks span 32768 values and buckets stay sparse, with the
    max_bucket cap as the winnow-style production guard (at the
    certification SF no bucket reaches it, so the oracle — which
    applies the identical cap — still pins exact pigeonhole recall).
    """
    from .operators.multimodal import (documents_as_ppm, media_ahash,
                                       phash_neardup_pairs)

    media = documents_as_ppm(_docs(spark, sf_dir))
    hashes = media_ahash(media).select(
        "media_id", F.col("phash_wide").alias("phash"))
    return phash_neardup_pairs(hashes,
                               max_hamming=PHASH_MAX_HAMMING,
                               bits=_PHASH_WIDE_BITS,
                               bands=PHASH_NEARDUP_BANDS,
                               max_bucket=PHASH_NEARDUP_MAX_BUCKET)


def _image_phash_neardup_sql() -> str:
    chunk_w = _PHASH_WIDE_BITS // PHASH_NEARDUP_BANDS
    return _PHASH_CTE + f"""
, wide AS (
    SELECT t.media_id,
           h.phash * {1 << _PHASH_ND} + CAST(list_sum(
               list_transform(range(0, {_PHASH_ND}), j ->
                   CASE WHEN sl[(j // {_PPM_W - 1}) * {_PPM_W}
                               + (j % {_PPM_W - 1}) + 2]
                             > sl[(j // {_PPM_W - 1}) * {_PPM_W}
                                 + (j % {_PPM_W - 1}) + 1]
                        THEN (1::BIGINT << ({_PHASH_ND} - 1 - j))
                        ELSE 0 END)) AS BIGINT) AS phash
    FROM t JOIN hsh h ON t.media_id = h.media_id
), chunks AS (
    SELECT media_id, phash, c AS chunk,
           (phash >> (c * {chunk_w})) & {(1 << chunk_w) - 1} AS chunk_val
    FROM wide, range(0, {PHASH_NEARDUP_BANDS}) r(c)
), kept AS (
    SELECT chunk, chunk_val FROM chunks GROUP BY chunk, chunk_val
    HAVING COUNT(*) <= {PHASH_NEARDUP_MAX_BUCKET}
), kc AS (
    SELECT chunks.* FROM chunks JOIN kept USING (chunk, chunk_val)
), cand AS (
    SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
           a.phash AS ha, b.phash AS hb
    FROM kc a JOIN kc b
      ON a.chunk = b.chunk AND a.chunk_val = b.chunk_val
     AND a.media_id < b.media_id
)
SELECT id_a, id_b, bit_count(xor(ha, hb))::BIGINT AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= {PHASH_MAX_HAMMING}
"""


RESIZE_MAX_BYTES = 128


def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-budget media resize plumbing
    (operators/multimodal.py:resize_media)."""
    from .operators.multimodal import resize_media

    media = documents_as_media(_docs(spark, sf_dir))
    return resize_media(media, RESIZE_MAX_BYTES)


MEDIA_RESIZE_SQL = f"""
WITH m AS (
    SELECT doc_id AS media_id, 'image' AS media_type, 'png' AS format,
           encode(text) AS payload,
           octet_length(encode(text))::BIGINT AS orig_n_bytes,
           substring(hex(encode(text)), 1, {RESIZE_MAX_BYTES} * 2) AS hx
    FROM documents
)
SELECT media_id, media_type, format, orig_n_bytes,
       (length(hx) // 2)::BIGINT AS n_bytes,
       orig_n_bytes > {RESIZE_MAX_BYTES} AS resized,
       sha256(hx) AS content_sha256
FROM m
"""


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = documents_as_media(_docs(spark, sf_dir))
    return frame_sample(media, every_n_bytes=64, max_frames=8)


# byte-window frames sliced via the hex encoding (2 hex chars per
# byte) — byte-exact for any payload, unlike character substring on
# text, which diverges from the operator's byte windows on non-ASCII
FRAME_SAMPLE_SQL = """
WITH frames AS (
    SELECT doc_id AS media_id, hex(encode(text)) AS hx,
           unnest(range(0, least(octet_length(encode(text)) // 64, 7) + 1))
               AS frame_idx
    FROM documents
), sliced AS (
    SELECT media_id, frame_idx,
           substring(hx, (frame_idx * 128 + 1)::INT, 128) AS frame_hex
    FROM frames
)
SELECT media_id, frame_idx::BIGINT AS frame_idx,
       (length(frame_hex) // 2)::BIGINT AS frame_len,
       sha256(frame_hex) AS frame_sha256
FROM sliced
"""


BM25_K = 5
# fixed retrieval probes over the synthetic vocabulary (top corpus
# terms, so every query has real postings); literal here AND in the
# oracle VALUES clause
BM25_QUERIES: list[tuple[int, str]] = [
    (1, "spark window join"),
    (2, "hash table scan"),
    (3, "stream batch order"),
    (4, "vector column filter"),
    (5, "slow query sort merge"),
]


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval over the documents corpus
    (operators/text.py:bm25_topk): top-5 docs for each fixed probe."""
    from .operators.text import bm25_topk

    qdf = spark.createDataFrame(BM25_QUERIES, "query_id long, query_text string")
    return bm25_topk(_docs(spark, sf_dir), qdf, k=BM25_K)


def _bm25_sql(k: int = BM25_K) -> str:
    vals = ", ".join(f"({i}, '{t}')" for i, t in BM25_QUERIES)
    return f"""
WITH {_D_BASE},
toks AS (
    SELECT doc_id, unnest(w) AS token FROM tok
), nonempty AS (
    SELECT doc_id, token FROM toks WHERE token <> ''
), tf AS (
    SELECT doc_id, token, COUNT(*)::BIGINT AS tf
    FROM nonempty GROUP BY 1, 2
), dl AS (
    SELECT doc_id, COUNT(*)::BIGINT AS dl FROM nonempty GROUP BY 1
), dfreq AS (
    SELECT token, COUNT(*)::BIGINT AS df FROM tf GROUP BY 1
), consts AS (
    SELECT (SELECT COUNT(*) FROM documents)::BIGINT AS n_docs,
           (SELECT sum(dl)::DOUBLE / COUNT(*) FROM dl) AS avgdl
), q(query_id, query_text) AS (VALUES {vals}),
qt AS (
    SELECT DISTINCT query_id, unnest(string_split(trim(regexp_replace(
        regexp_replace(lower(query_text), '[^a-z0-9 ]', ' ', 'g'),
        ' +', ' ', 'g')), ' ')) AS token
    FROM q
), scored AS (
    SELECT qt.query_id, tf.doc_id,
           round(ln((consts.n_docs::DOUBLE - dfreq.df + 0.5)
                    / (dfreq.df + 0.5) + 1.0)
                 * tf.tf::DOUBLE * ({1.2} + 1.0)
                 / (tf.tf::DOUBLE + {1.2} * (1.0 - {0.75}
                    + {0.75} * dl.dl::DOUBLE / consts.avgdl)) * 1000000,
                 0)::BIGINT AS f
    FROM qt
    JOIN tf USING (token)
    JOIN dfreq USING (token)
    JOIN dl ON dl.doc_id = tf.doc_id
    CROSS JOIN consts
    WHERE qt.token <> ''
), summed AS (
    SELECT query_id, doc_id, sum(f)::BIGINT AS s,
           COUNT(*)::BIGINT AS n_terms_hit
    FROM scored GROUP BY 1, 2
), ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY s DESC, doc_id) AS rnk
    FROM summed
)
SELECT query_id, doc_id, round(s::DOUBLE / 1000000.0, 4) AS bm25,
       n_terms_hit, rnk::BIGINT AS rnk
FROM ranked WHERE rnk <= {k}
"""


RRF_K, RRF_TOPK, RRF_DEPTH = 60, 5, 20


def q_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion of BM25 and
    boolean-overlap rankings for the same probes
    (operators/text.py:bm25_topk + overlap_topk -> rrf_fuse).
    Input lists go RRF_DEPTH deep (standard practice: fuse deeper
    than you emit, so both signals actually intersect), fused top-5
    out."""
    from .operators.text import (
        bm25_index,
        bm25_topk_from_index,
        overlap_topk_from_postings,
        rrf_fuse,
    )

    docs = _docs(spark, sf_dir)
    qdf = spark.createDataFrame(BM25_QUERIES,
                                "query_id long, query_text string")
    # r14 (§2.4): both legs probe ONE inline-built index — the overlap
    # leg reads tf as its posting list exactly as the stored twin does
    # (probe ≡ rebuild is that twin's test-asserted claim, and this
    # row keeps the same oracle), so the corpus tokenizes once and the
    # two legs share the (id, token) exchange instead of each building
    # its own tokenization.
    idx = bm25_index(docs)
    bm = bm25_topk_from_index(idx, qdf, k=RRF_DEPTH)
    ov = overlap_topk_from_postings(idx["tf"], qdf, k=RRF_DEPTH)
    return rrf_fuse([bm, ov], k_rrf=RRF_K, topk=RRF_TOPK)


def q_hybrid_retrieval_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION hybrid retrieval (VERDICT r5 #3): BOTH legs fuse
    from the STORED BM25 index — bm25_topk_from_index probes the
    bucketed tf/dl tables, and the overlap leg reads the SAME stored
    tf table as its posting list (its (doc, token) key is exactly the
    distinct posting list overlap_topk would rebuild), so a query
    batch at 100 TB re-tokenizes nothing and rebuilds no index.
    Same oracle as hybrid_retrieval: probe-only ≡ inline-build is
    the claim. Shares bm25_topk_stored's artifact — whichever runs
    first pays the one-time build."""
    from .operators.text import (
        bm25_read_index,
        bm25_topk_from_index,
        overlap_topk_from_postings,
        rrf_fuse,
    )

    prefix = f"bm25_{_artifact_tag(sf_dir)}"
    if not readers.index_ready(spark, prefix):
        from .operators.text import bm25_store_index

        bm25_store_index(_docs(spark, sf_dir), prefix)
    idx = bm25_read_index(spark, prefix)
    qdf = spark.createDataFrame(BM25_QUERIES,
                                "query_id long, query_text string")
    bm = bm25_topk_from_index(idx, qdf, k=RRF_DEPTH)
    ov = overlap_topk_from_postings(idx["tf"], qdf, k=RRF_DEPTH)
    return rrf_fuse([bm, ov], k_rrf=RRF_K, topk=RRF_TOPK)


def _hybrid_sql() -> str:
    vals = ", ".join(f"({i}, '{t}')" for i, t in BM25_QUERIES)
    return f"""
WITH bm AS (
    SELECT * FROM ({_bm25_sql(RRF_DEPTH)}) _bm
), ov AS (
    SELECT * FROM (
        WITH {_D_BASE},
        q(query_id, query_text) AS (VALUES {vals}),
        qt AS (
            SELECT DISTINCT query_id, unnest(string_split(trim(
                regexp_replace(regexp_replace(lower(query_text),
                    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' '))
                AS token
            FROM q
        ), dt AS (
            SELECT DISTINCT doc_id, token FROM (
                SELECT doc_id, unnest(w) AS token FROM tok
            ) WHERE token <> ''
        ), sc AS (
            SELECT qt.query_id, dt.doc_id,
                   COUNT(*)::BIGINT AS n_overlap
            FROM qt JOIN dt USING (token)
            WHERE qt.token <> ''
            GROUP BY 1, 2
        )
        SELECT query_id, doc_id, n_overlap,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY n_overlap DESC, doc_id)
                   AS rnk
        FROM sc
        QUALIFY rnk <= {RRF_DEPTH}
    ) _ov
), u AS (
    SELECT query_id, doc_id, rnk FROM bm
    UNION ALL
    SELECT query_id, doc_id, rnk FROM ov
), f AS (
    SELECT query_id, doc_id,
           SUM(1000000000 // ({RRF_K} + rnk))::BIGINT AS s,
           COUNT(*)::BIGINT AS n_lists
    FROM u GROUP BY 1, 2
)
SELECT query_id, doc_id,
       round(s::DOUBLE / 1000000000, 6) AS rrf_score, n_lists,
       (row_number() OVER (PARTITION BY query_id
                           ORDER BY s DESC, doc_id))::BIGINT AS rnk
FROM f
QUALIFY rnk <= {RRF_TOPK}
"""


SOURCE_QMIN = 0.6


def q_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, lang) curation telemetry
    (operators/text.py:source_stats)."""
    from .operators.text import source_stats

    return source_stats(_docs(spark, sf_dir), SOURCE_QMIN)


def _source_stats_sql() -> str:
    return f"""
WITH {_D_BASE},
per AS (
    SELECT d.source, d.lang, len(t.w)::BIGINT AS nt,
           round((0.4 * least(len(t.w)::DOUBLE / 100, 1.0)
                  + 0.3 * (1.0 - (length(d.text) - length(regexp_replace(
                        d.text, '[^a-zA-Z0-9\\s]', '', 'g')))::DOUBLE
                        / greatest(length(d.text), 1))
                  + 0.3 * len(list_distinct(t.w))::DOUBLE
                        / greatest(len(t.w), 1)), 4) AS q
    FROM documents d JOIN tok t USING (doc_id)
)
SELECT source, lang, COUNT(*)::BIGINT AS n_docs,
       sum(nt)::BIGINT AS total_tokens,
       round(sum(round(q * 10000, 0)::BIGINT)::DOUBLE / COUNT(*), 0)
           / 10000.0 AS mean_quality,
       round(sum((q >= {SOURCE_QMIN})::INT)::DOUBLE / COUNT(*), 4)
           AS keep_rate
FROM per GROUP BY 1, 2
"""


def q_chunk_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-duplication containment per document
    (operators/chunking.py:chunk_containment)."""
    from .operators.chunking import chunk_containment

    return chunk_containment(_docs(spark, sf_dir), CHUNK_TOKENS)


def _chunk_containment_sql() -> str:
    return f"""
WITH chunks AS ({CHUNK_SQL}),
fp AS (
    SELECT DISTINCT doc_id, md5(chunk_text) AS fp FROM chunks
), nd AS (
    SELECT fp, COUNT(*)::BIGINT AS ndocs FROM fp GROUP BY 1
)
SELECT fp.doc_id, COUNT(*)::BIGINT AS n_chunks,
       sum((nd.ndocs >= 2)::INT)::BIGINT AS n_shared,
       round(sum((nd.ndocs >= 2)::INT)::DOUBLE / COUNT(*), 4)
           AS containment
FROM fp JOIN nd USING (fp)
GROUP BY 1
"""


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule-based quality gate (operators/text.py:gopher_rules).

    min_stop_hits=1 here (operator default is the paper's 2): the
    synthetic corpus is topic-word soup where English function words
    are rare, and 2 would zero out `keep` — making the conjunction
    column vacuously un-tested. At 1, every rule column carries
    signal on this corpus."""
    from .operators.text import gopher_rules

    return gopher_rules(_docs(spark, sf_dir), min_stop_hits=1)


def _gopher_sql() -> str:
    from .operators.text import GOPHER_STOPWORDS

    stop_sum = " + ".join(
        f"list_contains(lw, '{s}')::INT" for s in GOPHER_STOPWORDS)
    return f"""
WITH words AS (
    SELECT doc_id, text,
           string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')
               AS w
    FROM documents
), m AS (
    SELECT doc_id,
           len(w)::BIGINT AS n_words,
           greatest(len(w), 1) AS den,
           list_transform(w, x -> lower(x)) AS lw,
           list_sum(list_transform(w, x -> length(x)))::DOUBLE
               / greatest(len(w), 1) AS mwl,
           ((length(text) - length(replace(text, '#', '')))
            + (length(text) - length(replace(text, '...', ''))) // 3
           )::DOUBLE / greatest(len(w), 1) AS sym,
           len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]')))::DOUBLE
               / greatest(len(w), 1) AS alpha
    FROM words
), r AS (
    SELECT doc_id, n_words, mwl, sym, alpha,
           ({stop_sum})::BIGINT AS n_stop_hits,
           (n_words >= 50 AND n_words <= 100000)::INT AS r_wc,
           (mwl >= 3.0 AND mwl <= 10.0)::INT AS r_mwl,
           (sym <= 0.1)::INT AS r_sym,
           (alpha >= 0.8)::INT AS r_alpha
    FROM m
)
SELECT doc_id, n_words,
       round(mwl, 4) AS mean_word_len,
       round(sym, 4) AS symbol_ratio,
       round(alpha, 4) AS alpha_word_frac,
       n_stop_hits,
       r_wc::BIGINT AS r_word_count,
       r_mwl::BIGINT AS r_mean_word_len,
       r_sym::BIGINT AS r_symbol_ratio,
       r_alpha::BIGINT AS r_alpha_words,
       (n_stop_hits >= 1)::BIGINT AS r_stop_words,
       (r_wc = 1 AND r_mwl = 1 AND r_sym = 1 AND r_alpha = 1
        AND n_stop_hits >= 1)::BIGINT AS keep
FROM r
"""


SPAN_TOKENS = 16


def q_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stride-1 duplicated-span coverage per document
    (operators/chunking.py:duplicated_spans) — the distributed form
    of exact-substring dedup (Lee et al. 2021)."""
    from .operators.chunking import duplicated_spans

    return duplicated_spans(_docs(spark, sf_dir), SPAN_TOKENS)


def _duplicated_spans_sql() -> str:
    k = SPAN_TOKENS
    return f"""
WITH {_D_BASE},
sized AS (
    SELECT doc_id, w, len(w)::BIGINT AS n_tokens FROM tok
), spans AS (
    SELECT doc_id, i::BIGINT AS pos,
           md5(array_to_string(w[i:i + {k - 1}], ' ')) AS fp
    FROM (SELECT doc_id, w, unnest(range(1, len(w) - {k} + 2)) AS i
          FROM sized WHERE n_tokens >= {k})
), occ AS (
    SELECT fp, COUNT(*)::BIGINT AS n_occ FROM spans GROUP BY 1
), dup AS (
    SELECT s.doc_id, s.pos FROM spans s JOIN occ USING (fp)
    WHERE occ.n_occ >= 2
), contrib AS (
    SELECT doc_id,
           LEAST(COALESCE(lead(pos) OVER (PARTITION BY doc_id
                                          ORDER BY pos) - pos,
                          {k}), {k}) AS c
    FROM dup
), cov AS (
    SELECT doc_id, COUNT(*)::BIGINT AS n_dup_spans,
           SUM(c)::BIGINT AS covered_tokens
    FROM contrib GROUP BY 1
)
SELECT s.doc_id, s.n_tokens,
       GREATEST(s.n_tokens - {k} + 1, 0)::BIGINT AS n_spans,
       COALESCE(c.n_dup_spans, 0)::BIGINT AS n_dup_spans,
       COALESCE(c.covered_tokens, 0)::BIGINT AS covered_tokens,
       round(COALESCE(c.covered_tokens, 0)::DOUBLE / s.n_tokens, 4)
           AS dup_coverage
FROM sized s LEFT JOIN cov c USING (doc_id)
"""


def q_remove_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup as a TRANSFORM (VERDICT r5 #5): cut
    every token covered by a corpus-duplicated stride-1 span and
    emit the cleaned text (operators/chunking.py:
    remove_duplicated_spans) — Lee et al. 2021's actual intervention,
    not just its telemetry. clean_text is exactly oracle-computable
    from the span set, so the hash match certifies the cut itself."""
    from .operators.chunking import remove_duplicated_spans

    return remove_duplicated_spans(_docs(spark, sf_dir), SPAN_TOKENS)


def _remove_dup_spans_sql() -> str:
    k = SPAN_TOKENS
    return f"""
WITH {_D_BASE},
sized AS (
    SELECT doc_id, w, len(w)::BIGINT AS n_tokens FROM tok
), spans AS (
    SELECT doc_id, i::BIGINT AS pos,
           md5(array_to_string(w[i:i + {k - 1}], ' ')) AS fp
    FROM (SELECT doc_id, w, unnest(range(1, len(w) - {k} + 2)) AS i
          FROM sized WHERE n_tokens >= {k})
), occ AS (
    SELECT fp, COUNT(*)::BIGINT AS n_occ FROM spans GROUP BY 1
), dup AS (
    SELECT s.doc_id, s.pos FROM spans s JOIN occ USING (fp)
    WHERE occ.n_occ >= 2
), contrib AS (
    SELECT doc_id, pos,
           LEAST(COALESCE(lead(pos) OVER (PARTITION BY doc_id
                                          ORDER BY pos) - pos,
                          {k}), {k}) AS c
    FROM dup
), covered AS (
    SELECT doc_id, unnest(range(pos, pos + c))::BIGINT AS tpos
    FROM contrib
), toks AS (
    SELECT doc_id, tpos::BIGINT AS tpos, w[tpos] AS tok
    FROM (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS tpos
          FROM sized)
), kept AS (
    SELECT t.doc_id, t.tpos, t.tok
    FROM toks t LEFT JOIN covered c
      ON t.doc_id = c.doc_id AND t.tpos = c.tpos
    WHERE c.tpos IS NULL
), agg AS (
    SELECT doc_id, COUNT(*)::BIGINT AS n_tokens_clean,
           string_agg(tok, ' ' ORDER BY tpos) AS clean_text
    FROM kept GROUP BY 1
)
SELECT s.doc_id, s.n_tokens,
       (s.n_tokens - COALESCE(a.n_tokens_clean, 0))::BIGINT
           AS covered_tokens,
       COALESCE(a.n_tokens_clean, 0)::BIGINT AS n_tokens_clean,
       COALESCE(a.clean_text, '') AS clean_text
FROM sized s LEFT JOIN agg a USING (doc_id)
"""


def q_duplicated_spans_inc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental span dedup: the hash-split 30% batch probed against
    the 70% corpus's span-fp counts
    (operators/chunking.py:duplicated_spans_incremental). The oracle
    computes the FULL corpus+delta form restricted to delta docs —
    incremental ≡ full-restricted is exactly the certified claim."""
    from .operators.chunking import duplicated_spans_incremental
    from .operators.sampling import hash_uniform

    docs = _docs(spark, sf_dir)
    is_delta = hash_uniform("doc_id", "delta") < DELTA_RATE
    return duplicated_spans_incremental(
        docs.where(~is_delta), docs.where(is_delta), SPAN_TOKENS)


def _duplicated_spans_inc_sql() -> str:
    u = _D_MD5INT.format(x="'delta:' || doc_id::VARCHAR")
    k = SPAN_TOKENS
    return f"""
WITH {_D_BASE},
sized AS (
    SELECT t.doc_id, t.w, len(t.w)::BIGINT AS n_tokens,
           {u} / 1152921504606846976.0 < {DELTA_RATE} AS is_delta
    FROM tok t JOIN documents d USING (doc_id)
), spans AS (
    SELECT doc_id, is_delta, i::BIGINT AS pos,
           md5(array_to_string(w[i:i + {k - 1}], ' ')) AS fp
    FROM (SELECT doc_id, w, is_delta,
                 unnest(range(1, len(w) - {k} + 2)) AS i
          FROM sized WHERE n_tokens >= {k})
), occ AS (
    SELECT fp, COUNT(*)::BIGINT AS n_occ FROM spans GROUP BY 1
), dup AS (
    SELECT s.doc_id, s.pos FROM spans s JOIN occ USING (fp)
    WHERE occ.n_occ >= 2 AND s.is_delta
), contrib AS (
    SELECT doc_id,
           LEAST(COALESCE(lead(pos) OVER (PARTITION BY doc_id
                                          ORDER BY pos) - pos,
                          {k}), {k}) AS c
    FROM dup
), cov AS (
    SELECT doc_id, COUNT(*)::BIGINT AS n_dup_spans,
           SUM(c)::BIGINT AS covered_tokens
    FROM contrib GROUP BY 1
)
SELECT s.doc_id, s.n_tokens,
       GREATEST(s.n_tokens - {k} + 1, 0)::BIGINT AS n_spans,
       COALESCE(c.n_dup_spans, 0)::BIGINT AS n_dup_spans,
       COALESCE(c.covered_tokens, 0)::BIGINT AS covered_tokens,
       round(COALESCE(c.covered_tokens, 0)::DOUBLE / s.n_tokens, 4)
           AS dup_coverage
FROM sized s LEFT JOIN cov c USING (doc_id)
WHERE s.is_delta
"""


def q_dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identical output contract to dedup_clusters, computed with the
    alternating large-star/small-star components algorithm
    (operators/cluster.py:connected_components_star) — shares
    dedup_clusters' recursive-CTE oracle, which is exactly the claim:
    the two algorithms agree on real pair graphs."""
    from .operators.cluster import connected_components_star, dedup_clusters

    docs = _docs(spark, sf_dir)
    pairs = minhash_lsh_pairs(docs, JACCARD_T, k=MINHASH_K, bands=LSH_BANDS)
    return dedup_clusters(docs, pairs, cc_fn=connected_components_star)


# recall certificate floor: ivf_topk_trained is fully deterministic
# (content-hash init, fixed-point updates), so recall at a given table
# is a constant; measured 0.35 / 0.2625 / 0.3125 at sf0.001/0.01/0.1
IVF_TRAINED_RECALL_FLOOR = 0.2


def q_ann_topk_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kmeans-trained IVF ANN (operators/similarity.py:ivf_topk_trained),
    registered as its SELF-CERTIFYING form (VERDICT r4 next-round #1):
    the trained quantizer is iterative (no SQL oracle), so the query
    emits ONE row of certificates the oracle pins —
      n_queries:  number of query vectors (oracle computes exactly)
      k:          requested neighbors per query
      recall_ok:  recall@k against the BRUTE-FORCE top-k (computed
                  in-query with brute_force_topk_arrow over the same
                  corpus) >= {floor} — deterministic, so this is a
                  stable bound, not a flaky statistical gate
      ranks_ok:   every query's ranks are contiguous 1..n
    Raw neighbor rows remain available via ivf_topk_trained;
    determinism + cell balance stay pytest-gated
    (tests/test_pipeline_ops.py:test_ivf_trained_deterministic_and_recall).
    """
    from .operators.similarity import brute_force_topk_arrow, ivf_topk_trained

    embs = _embs(spark, sf_dir)
    queries = embs.where(F.col("vec_id") < ANN_QUERY_MAX_ID)
    trained = ivf_topk_trained(queries, embs, ANN_K,
                               n_centroids=IVF_K, nprobe=IVF_NPROBE,
                               train_iters=2)
    return _ann_certificate(
        spark, queries, trained,
        _materialized(brute_force_topk_arrow(queries, embs, ANN_K)),
        IVF_TRAINED_RECALL_FLOOR)


def _bad_rank_agg(approx: DataFrame) -> DataFrame:
    """1-row aggregate `_nb` = #queries whose ranks are not contiguous
    1..n — a lazy subtree the certificate plans cross-join in."""
    return (
        approx.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n"),
             F.min("rnk").alias("mn"), F.max("rnk").alias("mx"))
        .where(~((F.col("mn") == 1) & (F.col("mx") == F.col("n"))))
        .agg(F.count(F.lit(1)).alias("_nb"))
    )


def _materialized(df: DataFrame) -> DataFrame:
    """``df`` persisted (tracked — released with the signature caches)
    and materialized now, so the plans that read it twice hit the
    cache instead of each recomputing it."""
    from .operators.dedup import _tracked_persist

    df = _tracked_persist(df)
    df.count()
    return df


def _ann_certificate(spark: SparkSession, queries: DataFrame,
                     approx: DataFrame, truth: DataFrame,
                     floor: float) -> DataFrame:
    """The shared certificate row for the iterative-ANN queries:
    exact n_queries/k, recall@k vs brute force >= floor, contiguous
    ranks.

    r14 shape (guide §1.2/§2.6): the four gate quantities used to be
    four SEQUENTIAL driver actions (truth count, hit-join count, rank
    audit, query count) — four job round-trips over a one-row result.
    They are now four 1-row aggregate subtrees cross-joined into ONE
    lazy plan, so a single action computes them and Spark schedules
    the independent subtrees' stages concurrently. ``approx`` is
    materialized once up front (_materialized) so the two subtrees
    that read it (hit join, rank audit) hit cache instead of racing
    to recompute the ADC/assignment scan; ``truth`` is either
    materialized by the caller the same way or cheap to read twice
    (a stored table). recall_ok is the same IEEE double compare as
    the old ``int(n_hit / n_truth >= floor)`` — bit-identical
    output."""
    approx = _materialized(approx)
    nq = queries.agg(F.count(F.lit(1)).alias("n_queries"))
    nt = truth.agg(F.count(F.lit(1)).alias("_nt"))
    nh = (
        approx.join(truth.select("query_id", "neighbor_id"),
                    ["query_id", "neighbor_id"])
        .agg(F.count(F.lit(1)).alias("_nh"))
    )
    nb = _bad_rank_agg(approx)
    return (
        nq.crossJoin(nt).crossJoin(nh).crossJoin(nb)
        .select(
            F.col("n_queries").cast("long").alias("n_queries"),
            F.lit(ANN_K).cast("long").alias("k"),
            (F.col("_nh").cast("double") / F.col("_nt").cast("double")
             >= F.lit(float(floor))).cast("long").alias("recall_ok"),
            (F.col("_nb") == 0).cast("long").alias("ranks_ok"),
        )
    )


# the oracle of every _ann_certificate row (ann_topk_ivf_trained,
# ann_topk_pq, ann_topk_ivfpq, ann_topk_ivfpq_stored): exact
# n_queries and k, and both certificates held
ANN_CERTIFICATE_SQL = f"""
SELECT (SELECT COUNT(*) FROM embeddings
        WHERE vec_id < {ANN_QUERY_MAX_ID})::BIGINT AS n_queries,
       {ANN_K}::BIGINT AS k,
       1::BIGINT AS recall_ok, 1::BIGINT AS ranks_ok
"""


# recall floor for the PQ certificate: deterministic per table
# (content-hash init, fixed-point Lloyd); measured recall@5-domain
# values 0.27 / 0.284 / 0.165 at sf0.001/0.01/0.1 with k=10 —
# floor set safely below the deterministic minimum
PQ_RECALL_FLOOR = 0.1
PQ_M, PQ_CODES = 8, 16


def q_ann_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC ANN (operators/similarity.py:pq_fit/
    pq_topk), registered as its SELF-CERTIFYING form like
    ann_topk_ivf_trained: the codebooks are iterative (no SQL
    oracle), so the query emits ONE certificate row the oracle pins —
    n_queries / k exactly, recall@k vs in-query brute force >= floor,
    ranks contiguous 1..n per query. Raw neighbor rows via pq_topk;
    determinism + code validity stay pytest-gated."""
    from .operators.similarity import brute_force_topk_arrow, pq_topk

    embs = _embs(spark, sf_dir)
    queries = embs.where(F.col("vec_id") < ANN_QUERY_MAX_ID)
    approx = pq_topk(queries, embs, ANN_K, m=PQ_M, codes=PQ_CODES,
                     train_iters=2)
    return _ann_certificate(
        spark, queries, approx,
        _materialized(brute_force_topk_arrow(queries, embs, ANN_K)),
        PQ_RECALL_FLOOR)


# deterministic recalls (content-hash init, fixed-point updates) with
# RESIDUAL encoding — true Jegou IVFADC, VERDICT r5 #2 — at the
# registered hyperparameters (32 cells, nprobe 12, m=32, codes=256):
# 0.825 / 0.7375 / 0.75 at sf0.001/0.01/0.1.  The r5 raw-vector form
# measured 0.275/0.2875/0.125 at the same scales — residual coupling
# is worth ~3x recall here, so the floor moves from the near-vacuous
# 0.1 to a level that actually certifies retrieval quality.
IVFPQ_RECALL_FLOOR = 0.5
IVFPQ_CELLS, IVFPQ_NPROBE = 32, 12
IVFPQ_M, IVFPQ_CODES = 32, 256


def q_ann_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Combined IVF+PQ ANN (operators/similarity.py:ivfpq_topk,
    residual-encoded IVFADC) in the self-certifying form:
    certificates for exact n_queries/k, recall@k vs in-query brute
    force >= floor, contiguous ranks. (That routing actually prunes
    is pytest-gated: the probed candidate set must be a strict
    subset of the corpus.)"""
    from .operators.similarity import brute_force_topk_arrow, ivfpq_topk

    embs = _embs(spark, sf_dir)
    queries = embs.where(F.col("vec_id") < ANN_QUERY_MAX_ID)
    approx = ivfpq_topk(queries, embs, ANN_K,
                        n_centroids=IVFPQ_CELLS, nprobe=IVFPQ_NPROBE,
                        m=IVFPQ_M, codes=IVFPQ_CODES)
    return _ann_certificate(
        spark, queries, approx,
        _materialized(brute_force_topk_arrow(queries, embs, ANN_K)),
        IVFPQ_RECALL_FLOOR)


def q_ann_topk_ivfpq_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION IVFADC shape (VERDICT r5 #1): coarse centroids,
    residual-PQ codebooks, and the cell-PARTITIONED encoded inverted
    file are STORED artifacts (operators/similarity.py:
    ivfpq_store_index) — built once per (corpus, sf), then every
    query batch is route+ADC probe-only over the nprobe probed cell
    partitions; the float corpus is never read at query time.

    The brute-force truth for the canonical query set is ALSO a
    build-time artifact, so the driver row certifies real retrieval
    quality (recall vs truth >= {floor}) while the probe stays flat:
    no per-call retrain, no per-call brute-force scan. probe ≡
    inline-fit is pytest-asserted (the ann_topk_pq_stored pattern);
    bench's min-of-2 times the steady-state serving wall."""
    from .operators.similarity import ivfpq_topk_from_index

    prefix = f"ivfpq_{_artifact_tag(sf_dir)}"
    embs = _embs(spark, sf_dir)
    queries = embs.where(F.col("vec_id") < ANN_QUERY_MAX_ID)
    if not readers.index_ready(spark, prefix):
        from .operators.similarity import ivfpq_store_index

        ivfpq_store_index(embs, prefix, n_centroids=IVFPQ_CELLS,
                          m=IVFPQ_M, codes=IVFPQ_CODES,
                          coarse_iters=2, pq_iters=2,
                          truth_queries=queries, truth_k=ANN_K)
    approx = ivfpq_topk_from_index(spark, prefix, queries, ANN_K,
                                   nprobe=IVFPQ_NPROBE)
    truth = spark.table(f"{prefix}_truth")
    return _ann_certificate(spark, queries, approx, truth,
                            IVFPQ_RECALL_FLOOR)


def q_ann_topk_pq_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION PQ shape: codebooks + encoded corpus are STORED
    artifacts (operators/similarity.py:pq_store_index) — built once
    per (corpus, sf), then every query batch is an ADC probe over the
    m-codes table; the float corpus is never read at query time.
    probe ≡ inline-fit is pytest-asserted (the bm25_topk_stored
    pattern); the driver row certifies the oracle-computable shape —
    exact n_queries/k/row-count and contiguous ranks. bench's
    min-of-2 therefore times the steady-state probe wall."""
    from .operators.similarity import pq_read_index, pq_topk

    prefix = f"pq_{_artifact_tag(sf_dir)}"
    if not readers.index_ready(spark, prefix):
        from .operators.similarity import pq_store_index

        pq_store_index(_embs(spark, sf_dir), prefix,
                       m=PQ_M, codes=PQ_CODES, iters=2)
    model, enc = pq_read_index(spark, prefix)
    embs = _embs(spark, sf_dir)
    queries = embs.where(F.col("vec_id") < ANN_QUERY_MAX_ID)
    approx = pq_topk(queries, embs, ANN_K, model=model, encoded=enc)
    # one combined certificate plan instead of three sequential
    # driver actions (the _ann_certificate r14 shape); approx is
    # persisted+materialized once so the row-count and rank-audit
    # subtrees read cache instead of re-running the ADC probe
    approx = _materialized(approx)
    nq = queries.agg(F.count(F.lit(1)).alias("n_queries"))
    nr = approx.agg(F.count(F.lit(1)).alias("_nr"))
    nb = _bad_rank_agg(approx)
    return (
        nq.crossJoin(nr).crossJoin(nb)
        .select(F.col("n_queries").cast("long").alias("n_queries"),
                F.lit(ANN_K).cast("long").alias("k"),
                F.col("_nr").cast("long").alias("n_rows"),
                (F.col("_nb") == 0).cast("long").alias("ranks_ok"))
    )


ANN_TOPK_PQ_STORED_SQL = f"""
SELECT (SELECT COUNT(*) FROM embeddings
        WHERE vec_id < {ANN_QUERY_MAX_ID})::BIGINT AS n_queries,
       {ANN_K}::BIGINT AS k,
       ((SELECT COUNT(*) FROM embeddings
         WHERE vec_id < {ANN_QUERY_MAX_ID})
        * least({ANN_K},
                (SELECT COUNT(*) FROM embeddings) - 1))::BIGINT AS n_rows,
       1::BIGINT AS ranks_ok
"""


ANN_FILTER_LABEL = 3


def q_ann_topk_filtered_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search over the stored IVFADC index ('top-k
    where label = {label}') — operators/similarity.py:
    ivfpq_topk_filtered_from_index. The metadata predicate is a
    pushed parquet filter on the cell-partitioned inverted-file scan
    (PartitionFilters for probed cells + PushedFilters for the
    label, test-asserted); no metadata join at query time.

    Registered r8 (staged in r7 behind the window capacity, same as
    q_dedup_semantic_stored). Certificate shape: exact query count,
    every returned neighbor satisfies the predicate (label_ok),
    contiguous per-query ranks (ranks_ok) — the DuckDB-verifiable
    parts are pinned by the oracle; predicate compliance and rank
    shape are re-audited Spark-side from the result frame.
    """
    from .operators.similarity import (
        ivfpq_store_index,
        ivfpq_topk_filtered_from_index,
    )

    prefix = f"ivfpqf_{_artifact_tag(sf_dir)}"
    embs = _embs(spark, sf_dir)
    queries = embs.where(F.col("vec_id") < ANN_QUERY_MAX_ID)
    if not readers.index_ready(spark, prefix):
        ivfpq_store_index(embs, prefix, n_centroids=IVFPQ_CELLS,
                          m=IVFPQ_M, codes=IVFPQ_CODES,
                          coarse_iters=2, pq_iters=2,
                          meta_cols=["label"])
    approx = ivfpq_topk_filtered_from_index(
        spark, prefix, queries, ANN_K,
        F.col("label") == ANN_FILTER_LABEL, nprobe=IVFPQ_NPROBE)
    # one combined certificate plan instead of three sequential
    # driver actions (the _ann_certificate r14 shape)
    approx = _materialized(approx)
    nq = queries.agg(F.count(F.lit(1)).alias("n_queries"))
    nl = (
        approx.select(F.col("neighbor_id").alias("vec_id"))
        .join(embs.select("vec_id", "label"), "vec_id")
        .where(F.col("label") != ANN_FILTER_LABEL)
        .agg(F.count(F.lit(1)).alias("_nl"))
    )
    nb = _bad_rank_agg(approx)
    return (
        nq.crossJoin(nl).crossJoin(nb)
        .select(F.col("n_queries").cast("long").alias("n_queries"),
                F.lit(ANN_K).cast("long").alias("k"),
                (F.col("_nl") == 0).cast("long").alias("label_ok"),
                (F.col("_nb") == 0).cast("long").alias("ranks_ok"))
    )


ANN_TOPK_FILTERED_STORED_SQL = f"""
SELECT (SELECT COUNT(*) FROM embeddings
        WHERE vec_id < {ANN_QUERY_MAX_ID})::BIGINT AS n_queries,
       {ANN_K}::BIGINT AS k,
       1::BIGINT AS label_ok, 1::BIGINT AS ranks_ok
"""


# ------------------------------------------------------- semantic dedup

SEMDEDUP_K = 8
SEMDEDUP_EPS = COSINE_T  # same near-dup cosine bar as the pair dedups
SEMDEDUP_ITERS = 3


# The clustering model is a CANONICAL committed artifact, trained
# once (deterministically) on the gating corpus and reused for every
# scale factor — the production shape: one model version serves all
# data versions, and the DuckDB oracle can bake a single path.
SEMDEDUP_TRAIN_DIR = os.environ.get(
    "SPARK_GRAFT_SEMDEDUP_TRAIN_DIR", "/root/testdata/sf0.01")


def _semdedup_centroid_path() -> str:
    import os as _os

    repo = _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
    return _os.path.join(repo, ".artifacts", "semdedup_centroids.parquet")


def _semdedup_write_centroids(path: str, cents: list[list[float]]) -> None:
    """Single-file parquet via tmp+rename (atomic on one filesystem)
    — the k x d centroid table is tiny and deterministic, so the
    committed artifact doubles as the oracle's input."""
    import os as _os

    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = [(c, d, float(v)) for c, vec in enumerate(cents)
            for d, v in enumerate(vec)]
    tbl = pa.table({
        "cell": pa.array([r[0] for r in rows], pa.int32()),
        "dim": pa.array([r[1] for r in rows], pa.int32()),
        "val": pa.array([r[2] for r in rows], pa.float64()),
    })
    _os.makedirs(_os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    pq.write_table(tbl, tmp)
    _os.replace(tmp, path)


def _semdedup_read_centroids(path: str) -> list[list[float]]:
    import pyarrow.parquet as pq

    t = pq.read_table(path).to_pydict()
    k = max(t["cell"]) + 1
    d = max(t["dim"]) + 1
    cents = [[0.0] * d for _ in range(k)]
    for c, dim, v in zip(t["cell"], t["dim"], t["val"]):
        cents[c][dim] = v
    return cents


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic
    near-duplicate removal over k-means clusters of the embedding
    space (operators/similarity.py:semantic_dedup). The spherical
    k-means fit (kmeans_fit — deterministic: content-hash init,
    fixed-point update) runs once per (corpus, sf) and lands as a
    committed (cell, dim, val) parquet artifact; the DuckDB oracle
    reads THAT table and independently recomputes the assignment,
    the keep-priority order, and every within-cluster pair decision
    from the embeddings view — only the iterative fit is trusted,
    every decision is re-derived. Pair comparisons are cluster-local
    (the paper's device for bounding the quadratic)."""
    from .operators.similarity import semantic_dedup

    cents = _semdedup_read_centroids_or_fit(spark)
    # pair_kernel='gemm' (r12): the SQL pair join's per-pair cosine is
    # an interpreter-bound expression fold and was INVISIBLE to the
    # count()-era bench (Catalyst eliminated the whole subtree under
    # count — the distinct join key made the left join row-preserving);
    # the honest full-column consumer exposed 367 s at sf1. The GEMM
    # kernel computes identical decisions (bit-equal at every SF,
    # test-asserted) in blocked numpy matmuls per cell: 2.9 s at sf1.
    return semantic_dedup(_embs(spark, sf_dir), cents, SEMDEDUP_EPS,
                          pair_kernel="gemm")


def q_dedup_semantic_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION incremental SemDeDup: the 70% corpus's cell
    assignments + embeddings are a STORED cell-partitioned catalog
    artifact (operators/similarity.py:semdedup_store_corpus,
    crash-atomic manifest); the 30% batch assigns only itself (pure
    literal-centroid projection) and probes only the cells it lands
    in (semdedup_probe). Statuses mirror dedup_incremental's
    contract (dup_corpus / dup_delta / kept + n_corpus_matches).

    Registered r8: r7's 50-entry gate window was fully occupied by
    the mandated rotation, so this sat pytest-gated (probe vs
    pure-Python reference in tests/test_pipeline_ops.py) for one
    round before entering the driver window."""
    from .operators.sampling import hash_uniform
    from .operators.similarity import (semdedup_index_current,
                                       semdedup_probe,
                                       semdedup_store_corpus)

    embs = _embs(spark, sf_dir)
    is_delta = hash_uniform("vec_id", "delta") < DELTA_RATE
    cents = _semdedup_read_centroids_or_fit(spark)
    prefix = f"semdd_{_artifact_tag(sf_dir)}"
    # gate on model IDENTITY, not just manifest presence: a refit
    # centroid artifact must invalidate cells assigned under the old
    # model (semdedup_index_current compares the stored fingerprint)
    if not semdedup_index_current(spark, prefix, cents):
        semdedup_store_corpus(embs.where(~is_delta), cents, prefix)
    return semdedup_probe(spark, prefix, embs.where(is_delta), cents,
                          SEMDEDUP_EPS)


def _semdedup_read_centroids_or_fit(spark: SparkSession) -> list[list[float]]:
    import os as _os

    path = _semdedup_centroid_path()
    if not _os.path.exists(path):
        # Fail fast with the actual remedy (ADVICE r7): on a checkout
        # without the committed artifact, falling through to a read
        # of a missing train dir surfaces as an opaque parquet error
        # far from the real cause.
        train = _os.path.join(SEMDEDUP_TRAIN_DIR, "embeddings.parquet")
        if not _os.path.exists(train):
            raise FileNotFoundError(
                f"SemDeDup centroid artifact {path} is missing and the "
                f"training corpus {train} does not exist — commit the "
                f"artifact, or point SPARK_GRAFT_SEMDEDUP_TRAIN_DIR at "
                f"a directory containing embeddings.parquet to refit")
        from .operators.similarity import kmeans_fit

        cents = kmeans_fit(_embs(spark, SEMDEDUP_TRAIN_DIR),
                           SEMDEDUP_K, iters=SEMDEDUP_ITERS,
                           metric="cosine")
        _semdedup_write_centroids(path, cents)
    return _semdedup_read_centroids(path)


def q_semdedup_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-drift monitor over the stored SemDeDup corpus
    (operators/similarity.py:semdedup_drift): per centroid cell,
    the arriving batch's mean centroid-cosine and cell-mass share
    vs the stored corpus baseline — the REFIT SIGNAL every
    frozen-model caveat in the incremental paths points at. Batch =
    the same DELTA_RATE hash split as q_dedup_semantic_stored, so
    the two queries share the stored cells artifact (and its
    model-fingerprint gate).

    Registered r8 with the other staged queries; pytest-gated
    against a full-recompute DuckDB oracle through r7."""
    from .operators.sampling import hash_uniform
    from .operators.similarity import (semdedup_drift,
                                       semdedup_index_current,
                                       semdedup_store_corpus)

    embs = _embs(spark, sf_dir)
    is_delta = hash_uniform("vec_id", "delta") < DELTA_RATE
    cents = _semdedup_read_centroids_or_fit(spark)
    prefix = f"semdd_{_artifact_tag(sf_dir)}"
    if not semdedup_index_current(spark, prefix, cents):
        semdedup_store_corpus(embs.where(~is_delta), cents, prefix)
    return semdedup_drift(spark, prefix, embs.where(is_delta), cents)


def _semdedup_drift_sql() -> str:
    """Full-recompute drift oracle: re-derives BOTH sides'
    assignments from the centroid artifact (the Spark query's corpus
    side reads stored cent_sims — valid because the fingerprint gate
    guarantees the same model, which q_dedup_semantic_stored's
    oracle already proves reproduces the stored assignment).
    Micro-unit integer sums keep the means engine-exact."""
    path = _semdedup_centroid_path()
    u = _D_MD5INT.format(x="'delta:' || vec_id::VARCHAR")
    return f"""
WITH cent AS (
    SELECT cell, list(val ORDER BY dim) AS cvec
    FROM read_parquet('{path}') GROUP BY cell
), centn AS (
    SELECT cell, cvec, sqrt(list_dot_product(cvec, cvec)) AS cnorm
    FROM cent
), emb AS (
    SELECT vec_id, embedding::DOUBLE[] AS v,
           sqrt(list_dot_product(embedding::DOUBLE[],
                                 embedding::DOUBLE[])) AS nrm,
           {u} / 1152921504606846976.0 < {DELTA_RATE} AS is_delta
    FROM embeddings
), scored AS (
    SELECT e.vec_id, e.is_delta, c.cell,
           round(CASE WHEN e.nrm = 0 OR c.cnorm = 0 THEN 0.0
                 ELSE list_dot_product(e.v, c.cvec) / (e.nrm * c.cnorm)
                 END, 6) AS cs
    FROM emb e CROSS JOIN centn c
), assign AS (
    SELECT vec_id, is_delta, cell, cs AS cent_sim FROM (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY cs DESC, cell ASC) AS rn
        FROM scored
    ) WHERE rn = 1
), corp AS (
    SELECT cell, COUNT(*)::BIGINT AS n_corpus,
           sum(round(cent_sim * 1e6)::BIGINT) AS csum
    FROM assign WHERE NOT is_delta GROUP BY cell
), batch AS (
    SELECT cell, COUNT(*)::BIGINT AS n_batch,
           sum(round(cent_sim * 1e6)::BIGINT) AS bsum
    FROM assign WHERE is_delta GROUP BY cell
)
SELECT coalesce(c.cell, b.cell)::BIGINT AS cell,
       coalesce(c.n_corpus, 0)::BIGINT AS n_corpus,
       coalesce(b.n_batch, 0)::BIGINT AS n_batch,
       CASE WHEN c.n_corpus > 0
            THEN round(c.csum::DOUBLE / c.n_corpus / 1e6, 6) END
           AS mean_sim_corpus,
       CASE WHEN b.n_batch > 0
            THEN round(b.bsum::DOUBLE / b.n_batch / 1e6, 6) END
           AS mean_sim_batch,
       CASE WHEN c.n_corpus > 0 AND b.n_batch > 0
            THEN round(round(b.bsum::DOUBLE / b.n_batch / 1e6, 6)
                       - round(c.csum::DOUBLE / c.n_corpus / 1e6, 6), 6)
            END AS sim_drift,
       CASE WHEN c.n_corpus > 0 THEN
            round((coalesce(b.n_batch, 0)::DOUBLE
                   / (SELECT sum(n_batch) FROM batch))
                  / (c.n_corpus::DOUBLE
                     / (SELECT sum(n_corpus) FROM corp)), 4) END
           AS mass_ratio
FROM corp c
FULL OUTER JOIN batch b ON c.cell = b.cell
"""


def _dedup_semantic_stored_sql() -> str:
    """Full-recompute oracle for the staged stored probe (r8): split
    by the same md5 hash, re-derive assignment from the centroid
    artifact, then apply the dup_corpus / dup_delta rules."""
    path = _semdedup_centroid_path()
    u = _D_MD5INT.format(x="'delta:' || vec_id::VARCHAR")
    return f"""
WITH cent AS (
    SELECT cell, list(val ORDER BY dim) AS cvec
    FROM read_parquet('{path}') GROUP BY cell
), centn AS (
    SELECT cell, cvec, sqrt(list_dot_product(cvec, cvec)) AS cnorm
    FROM cent
), emb AS (
    SELECT vec_id, embedding::DOUBLE[] AS v,
           sqrt(list_dot_product(embedding::DOUBLE[],
                                 embedding::DOUBLE[])) AS nrm,
           {u} / 1152921504606846976.0 < {DELTA_RATE} AS is_delta
    FROM embeddings
), scored AS (
    SELECT e.vec_id, e.is_delta, c.cell,
           round(CASE WHEN e.nrm = 0 OR c.cnorm = 0 THEN 0.0
                 ELSE list_dot_product(e.v, c.cvec) / (e.nrm * c.cnorm)
                 END, 6) AS cs
    FROM emb e CROSS JOIN centn c
), assign AS (
    SELECT vec_id, is_delta, cell, cs AS cent_sim FROM (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY cs DESC, cell ASC) AS rn
        FROM scored
    ) WHERE rn = 1
), vs_corpus AS (
    SELECT d.vec_id, COUNT(*)::BIGINT AS n_corpus_matches
    FROM assign d
    JOIN assign c ON d.is_delta AND NOT c.is_delta AND d.cell = c.cell
    JOIN emb ed ON ed.vec_id = d.vec_id
    JOIN emb ec ON ec.vec_id = c.vec_id
    WHERE round(CASE WHEN ed.nrm = 0 OR ec.nrm = 0 THEN 0.0
                ELSE list_dot_product(ed.v, ec.v) / (ed.nrm * ec.nrm)
                END, 4) >= {SEMDEDUP_EPS}
    GROUP BY 1
), vs_delta AS (
    SELECT DISTINCT b.vec_id AS did
    FROM assign a
    JOIN assign b ON a.is_delta AND b.is_delta AND a.cell = b.cell
       AND (a.cent_sim < b.cent_sim
            OR (a.cent_sim = b.cent_sim AND a.vec_id < b.vec_id))
    JOIN emb ea ON ea.vec_id = a.vec_id
    JOIN emb eb ON eb.vec_id = b.vec_id
    WHERE round(CASE WHEN ea.nrm = 0 OR eb.nrm = 0 THEN 0.0
                ELSE list_dot_product(ea.v, eb.v) / (ea.nrm * eb.nrm)
                END, 4) >= {SEMDEDUP_EPS}
)
SELECT a.vec_id,
       CASE WHEN vc.vec_id IS NOT NULL THEN 'dup_corpus'
            WHEN vd.did IS NOT NULL THEN 'dup_delta'
            ELSE 'kept' END AS status,
       coalesce(vc.n_corpus_matches, 0)::BIGINT AS n_corpus_matches
FROM assign a
LEFT JOIN vs_corpus vc ON a.vec_id = vc.vec_id
LEFT JOIN vs_delta vd ON a.vec_id = vd.did
WHERE a.is_delta
"""


def _dedup_semantic_sql() -> str:
    """Full recompute oracle: trusts ONLY the stored centroid table
    (the iterative fit); assignment, priorities, pair cosines, and
    the drop rule are all re-derived in SQL. The path is the single
    canonical committed model artifact, valid at every sf."""
    path = _semdedup_centroid_path()
    return f"""
WITH cent AS (
    SELECT cell, list(val ORDER BY dim) AS cvec
    FROM read_parquet('{path}') GROUP BY cell
), centn AS (
    SELECT cell, cvec, sqrt(list_dot_product(cvec, cvec)) AS cnorm
    FROM cent
), emb AS (
    SELECT vec_id, embedding::DOUBLE[] AS v,
           sqrt(list_dot_product(embedding::DOUBLE[],
                                 embedding::DOUBLE[])) AS nrm
    FROM embeddings
), scored AS (
    SELECT e.vec_id, c.cell,
           round(CASE WHEN e.nrm = 0 OR c.cnorm = 0 THEN 0.0
                 ELSE list_dot_product(e.v, c.cvec) / (e.nrm * c.cnorm)
                 END, 6) AS cs
    FROM emb e CROSS JOIN centn c
), assign AS (
    SELECT vec_id, cell, cs AS cent_sim FROM (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY cs DESC, cell ASC) AS rn
        FROM scored
    ) WHERE rn = 1
), dropped AS (
    SELECT DISTINCT b.vec_id AS did
    FROM assign a
    JOIN assign b ON a.cell = b.cell
       AND (a.cent_sim < b.cent_sim
            OR (a.cent_sim = b.cent_sim AND a.vec_id < b.vec_id))
    JOIN emb ea ON ea.vec_id = a.vec_id
    JOIN emb eb ON eb.vec_id = b.vec_id
    WHERE round(CASE WHEN ea.nrm = 0 OR eb.nrm = 0 THEN 0.0
                ELSE list_dot_product(ea.v, eb.v) / (ea.nrm * eb.nrm)
                END, 4) >= {SEMDEDUP_EPS}
)
SELECT a.vec_id, a.cell::BIGINT AS cell, a.cent_sim,
       CASE WHEN d.did IS NOT NULL THEN 'dropped' ELSE 'kept' END
           AS status
FROM assign a LEFT JOIN dropped d ON a.vec_id = d.did
"""


# ------------------------------------------------------------------- PII

# Deterministic PII injection: the synthetic documents carry no PII,
# so the query embeds a derived email, a TPC-H-shaped phone number,
# and an IPv4 into each doc, all computed arithmetically from doc_id
# — both engines construct the identical augmented text, making the
# redaction certificate non-vacuous (every doc has exactly one of
# each class to find and scrub) while the whole query stays a pure
# scan projection.


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based PII redaction over the corpus (operators/text.py:
    pii_scrub — the Dolma/FineWeb-style regex scrub pass; the
    reference has no analogue, this is the LLM-data-pipeline
    mandate). Per document: counts per PII class on the raw text,
    then every occurrence replaced with its <CLASS> placeholder in a
    fixed class order; the certificate pins the md5 and length of
    the SCRUBBED text per doc, so replacement semantics — not just
    counts — are oracle-verified.

    Scale: the injection and the scrub are both shuffle-free
    JVM-codegen projections that fuse into the scan — a map-only
    pass at 100 TB."""
    from .operators.text import pii_scrub

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    d = F.col("doc_id")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" contact user"),
            (d % 1000).cast("string"), F.lit("@example.com ph "),
            (10 + d % 89).cast("string"), F.lit("-"),
            F.lpad(((d * 7) % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad(((d * 13) % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad(((d * 29) % 10000).cast("string"), 4, "0"),
            F.lit(" ip 10."),
            (d % 256).cast("string"), F.lit("."),
            (d % 199).cast("string"), F.lit(".4"),
        ).alias("text"),
    )
    out = pii_scrub(aug)
    return out.select(
        "doc_id", "n_email", "n_phone", "n_ip",
        F.md5("scrubbed").alias("scrub_md5"),
        F.length("scrubbed").cast("long").alias("scrub_len"),
    )


def _pii_scrub_sql() -> str:
    from .operators.text import PII_PATTERNS

    em, ph, ip = (PII_PATTERNS["email"], PII_PATTERNS["phone"],
                  PII_PATTERNS["ip"])
    return f"""
WITH aug AS (
    SELECT doc_id,
           text || ' contact user' || CAST(doc_id % 1000 AS VARCHAR)
           || '@example.com ph '
           || CAST(10 + doc_id % 89 AS VARCHAR) || '-'
           || lpad(CAST((doc_id * 7) % 1000 AS VARCHAR), 3, '0') || '-'
           || lpad(CAST((doc_id * 13) % 1000 AS VARCHAR), 3, '0') || '-'
           || lpad(CAST((doc_id * 29) % 10000 AS VARCHAR), 4, '0')
           || ' ip 10.' || CAST(doc_id % 256 AS VARCHAR)
           || '.' || CAST(doc_id % 199 AS VARCHAR) || '.4' AS text
    FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(text, '{em}'))::BIGINT AS n_email,
       len(regexp_extract_all(text, '{ph}'))::BIGINT AS n_phone,
       len(regexp_extract_all(text, '{ip}'))::BIGINT AS n_ip,
       md5(regexp_replace(regexp_replace(regexp_replace(
           text, '{em}', '<EMAIL>', 'g'),
                 '{ph}', '<PHONE>', 'g'),
                 '{ip}', '<IP>', 'g')) AS scrub_md5,
       length(regexp_replace(regexp_replace(regexp_replace(
           text, '{em}', '<EMAIL>', 'g'),
                 '{ph}', '<PHONE>', 'g'),
                 '{ip}', '<IP>', 'g'))::BIGINT AS scrub_len
FROM aug
"""


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus version diff (operators/versioning.py snapshot_diff —
    data-versioning primitive; no reference analogue, LLM-pipeline
    mandate): two snapshots are derived deterministically from the
    documents table (old = doc_id % 11 != 0 verbatim; new =
    doc_id % 13 != 0 with every 7th doc's text mutated), and the
    operator reports added / removed / changed rows by content
    fingerprint. Only (doc_id, md5) pairs shuffle — the diff cost is
    key-width, not document-width, and bucketed snapshots make it
    zero-exchange (see module docstring)."""
    from .operators.versioning import snapshot_diff

    docs = _docs(spark, sf_dir)
    old = docs.where(F.col("doc_id") % 11 != 0).select(
        "doc_id", "text", "source")
    new = docs.where(F.col("doc_id") % 13 != 0).select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0,
               F.concat(F.col("text"), F.lit(" [rev2]")))
        .otherwise(F.col("text")).alias("text"),
        "source",
    )
    return snapshot_diff(old, new, ["doc_id"], ["text", "source"])


#: DuckDB twin of operators/versioning._fp_field — escape-encode a
#: field before the chr(31)-join so separator/sentinel/escape bytes in
#: content can't alias field boundaries (lockstep with the Spark side).
_FP_FIELD_SQL = ("coalesce(replace(replace(replace({v}, chr(27), "
                 "chr(27)||chr(27)), chr(31), chr(27)||chr(31)), "
                 "chr(0), chr(27)||chr(0)), chr(0))")

SNAPSHOT_DIFF_SQL = f"""
WITH o AS (
    SELECT doc_id, md5(concat_ws(chr(31),
        {_FP_FIELD_SQL.format(v='text')},
        {_FP_FIELD_SQL.format(v='source')})) AS fp
    FROM documents WHERE doc_id % 11 <> 0
), n AS (
    SELECT doc_id,
           md5(concat_ws(chr(31),
        {_FP_FIELD_SQL.format(
            v="CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]' "
              "ELSE text END")},
        {_FP_FIELD_SQL.format(v='source')})) AS fp
    FROM documents WHERE doc_id % 13 <> 0
)
SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN o.doc_id IS NULL THEN 'added'
            WHEN n.doc_id IS NULL THEN 'removed'
            ELSE 'changed' END AS status,
       o.fp AS old_fp, n.fp AS new_fp
FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
WHERE o.fp IS NULL OR n.fp IS NULL OR o.fp <> n.fp
"""


def q_snapshot_diff_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION versioning shape: the previous corpus version's
    fingerprints live in a STORED bucketed table
    (operators/versioning.py:snapshot_store_fps — built once when the
    version is cut, crash-atomic manifest) and each candidate snapshot
    diffs against it (snapshot_diff_from_store): the old corpus text
    is never reread, so a daily diff costs one scan of the NEW
    snapshot plus a hash-width co-partitioned join however large the
    history is. Same derived old/new pair and the same oracle as
    snapshot_diff — probe == inline IS the stored twin's claim."""
    from .operators.versioning import (snapshot_diff_from_store,
                                       snapshot_store_fps)

    docs = _docs(spark, sf_dir)
    old = docs.where(F.col("doc_id") % 11 != 0).select(
        "doc_id", "text", "source")
    new = docs.where(F.col("doc_id") % 13 != 0).select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0,
               F.concat(F.col("text"), F.lit(" [rev2]")))
        .otherwise(F.col("text")).alias("text"),
        "source",
    )
    prefix = f"snapfp_{_artifact_tag(sf_dir)}"
    if not readers.index_ready(spark, prefix):
        snapshot_store_fps(old, prefix, ["doc_id"], ["text", "source"])
    return snapshot_diff_from_store(spark, prefix, new,
                                    ["doc_id"], ["text", "source"])


SOURCE_CAP = 40


def q_source_frequency_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source frequency-cap audit (operators/sampling.py
    frequency_cap — the C4/RefinedWeb domain cap, quality-ordered):
    at most SOURCE_CAP docs kept per source, preferring the longest
    (n_chars DESC, doc_id tiebreak); reports per source how much the
    cap bit and where the quality cutoff landed. One shuffle on
    source for the rank + a map-side-combinable groupBy — the audit
    output is |sources| rows regardless of corpus size."""
    from .operators.sampling import frequency_cap

    docs = _docs(spark, sf_dir)
    capped = frequency_cap(
        docs, ["source"], SOURCE_CAP,
        [F.col("n_chars").desc(), F.col("doc_id").asc()],
    )
    return capped.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("kept"), 1).otherwise(0))
        .cast("long").alias("n_kept"),
        F.sum(F.when(~F.col("kept"), 1).otherwise(0))
        .cast("long").alias("n_dropped"),
        F.min(F.when(F.col("kept"), F.col("n_chars")))
        .cast("long").alias("min_kept_chars"),
    )


SOURCE_FREQUENCY_CAP_SQL = f"""
WITH ranked AS (
    SELECT source, n_chars,
           row_number() OVER (PARTITION BY source
                              ORDER BY n_chars DESC, doc_id) AS rnk
    FROM documents
)
SELECT source,
       COUNT(*)::BIGINT AS n_docs,
       SUM(CASE WHEN rnk <= {SOURCE_CAP} THEN 1 ELSE 0 END)::BIGINT
           AS n_kept,
       SUM(CASE WHEN rnk > {SOURCE_CAP} THEN 1 ELSE 0 END)::BIGINT
           AS n_dropped,
       MIN(CASE WHEN rnk <= {SOURCE_CAP} THEN n_chars END)::BIGINT
           AS min_kept_chars
FROM ranked GROUP BY source
"""


def _recall_frame(queries: DataFrame, approx: DataFrame,
                  truth: DataFrame) -> DataFrame:
    """Per-query recall@k: (query_id, n_hits, recall) — the hit-join
    core shared by every ann_recall_* row. |approx ∩ truth| per
    query over |Q| x k rows each side, corpus-size-independent by
    construction; queries with zero hits still get a row (left
    join), so n_scored == n_queries is a certifiable invariant."""
    hits = (
        approx.select("query_id", "neighbor_id")
        .join(truth.select("query_id", "neighbor_id"),
              ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    all_q = queries.select(F.col("vec_id").alias("query_id"))
    return all_q.join(hits, ["query_id"], "left").select(
        "query_id",
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
        F.round(F.coalesce(F.col("n_hits"), F.lit(0)) / F.lit(ANN_K), 4)
        .alias("recall"),
    )


def q_ann_recall_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index-quality evaluation (recall@k): per query vector, how
    many of the hyperplane-LSH top-k are in the exact brute-force
    top-k. This is the eval harness one runs before trusting an
    approximate index at 100 TB — recall is measured on a query
    SAMPLE (here the registry's standard query slice), never the full
    corpus, so the cost is |Q| x k join rows however large the corpus
    is. Both legs reuse the registered operators
    (operators/similarity.py brute_force_topk_arrow /
    hyperplane_lsh_topk); the oracle recomputes BOTH legs in DuckDB
    from scratch, so the recall numbers are pinned end to end, not
    derived from the Spark outputs."""
    from .operators.similarity import (brute_force_topk_arrow,
                                       hyperplane_lsh_topk)

    embs = _embs(spark, sf_dir)
    queries = embs.where(F.col("vec_id") < ANN_QUERY_MAX_ID)
    brute = brute_force_topk_arrow(queries, embs, ANN_K)
    lsh = hyperplane_lsh_topk(
        queries, embs, ANN_K, planes=LSH_PLANES, dims=EMB_DIMS)
    return _recall_frame(queries, lsh, brute)


def q_ann_recall_lsh_mp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiprobe twin of ann_recall_lsh: recall@k of the Hamming-1
    multi-probe LSH against exact brute force — the measured recall
    LIFT multiprobe exists for (probing the d=1 neighbor buckets
    recovers vectors that fall just across one hyperplane), paid as a
    bands-times-wider candidate read with the same index. Run both
    recall rows side by side to price the lift."""
    from .operators.similarity import (brute_force_topk_arrow,
                                       hyperplane_lsh_topk)

    embs = _embs(spark, sf_dir)
    queries = embs.where(F.col("vec_id") < ANN_QUERY_MAX_ID)
    brute = brute_force_topk_arrow(queries, embs, ANN_K)
    lsh = hyperplane_lsh_topk(
        queries, embs, ANN_K, planes=LSH_PLANES, dims=EMB_DIMS,
        probes=LSH_PLANES)
    return _recall_frame(queries, lsh, brute)


def _ann_recall_sql(approx_sql: str) -> str:
    brute = ANN_TOPK_SQL.strip()
    return f"""
WITH lsh AS (
    SELECT * FROM ({approx_sql.strip()})
), brute AS (
    SELECT * FROM ({brute})
), hits AS (
    SELECT l.query_id, COUNT(*)::BIGINT AS n_hits
    FROM lsh l JOIN brute b
      ON l.query_id = b.query_id AND l.neighbor_id = b.neighbor_id
    GROUP BY l.query_id
)
SELECT q.vec_id AS query_id,
       COALESCE(h.n_hits, 0)::BIGINT AS n_hits,
       round(COALESCE(h.n_hits, 0) / {ANN_K}.0, 4) AS recall
FROM embeddings q LEFT JOIN hits h ON q.vec_id = h.query_id
WHERE q.vec_id < {ANN_QUERY_MAX_ID}
"""


def _ann_recall_lsh_sql() -> str:
    # the two standalone statements nest as DuckDB subquery-with-CTE
    # blocks (supported since 0.8) inside the shared recall builder
    return _ann_recall_sql(_ann_lsh_sql())


# Distributional floors for the stored-index recall certificates
# (VERDICT r11 #4). The per-query recall of a trained index is
# deterministic per (corpus, hyperparams) — content-hash init,
# fixed-point Lloyd — but not SQL-expressible, so like every
# iterative-ANN row these certify oracle-pinnable FLAGS, here over
# the per-query recall DISTRIBUTION (mean + a quantile), not just
# the single micro-average the ann_topk_* certificates pin. The
# quantile is family-specific: for the production IVFADC the
# informative tail is the BOTTOM quartile (does quality hold for
# nearly every query), while for the deliberately coarse flat-PQ
# baseline (m=8, 16 codes) the bottom quartile is identically 0 and
# the informative tail is the TOP quartile (is the index useful for
# a meaningful share of queries at all).
# Measured at sf0.001/0.01/0.1 (k=10, |Q|=16):
#   ivfpq stored probe: mean 0.825/0.7375/0.75, p25 0.75/0.60/0.60,
#                       min 0.4/0.6/0.4
#   pq ADC:             mean 0.20/0.2375/0.1125, p75 0.25/0.40/0.20,
#                       frac(recall>0) 0.75/0.69/0.56
# floors sit safely below every deterministic measurement.
IVFPQ_RECALL_DIST_Q, IVFPQ_RECALL_DIST_FLOOR = 0.25, 0.4
PQ_RECALL_DIST_Q, PQ_RECALL_DIST_FLOOR = 0.75, 0.1


def _recall_certificate(spark: SparkSession, queries: DataFrame,
                        approx: DataFrame, truth: DataFrame,
                        mean_floor: float, dist_q: float,
                        dist_floor: float) -> DataFrame:
    """Certificate row over the per-query recall distribution: exact
    n_queries / k / n_scored (every query gets a recall row, hits or
    not), mean recall >= mean_floor, the dist_q-quantile recall >=
    dist_floor, all recalls inside [0, 1].

    r15 shape (guide §1.2 — the _ann_certificate fold): this used to
    be a collect() aggregate, then a SEPARATE queries.count(), then
    createDataFrame — two sequential driver round-trips plus a
    driver-precomputed result row. The two 1-row aggregate subtrees
    are now cross-joined into ONE lazy plan; the floor compares are
    the same IEEE double compares, evaluated in the JVM instead of
    Python on the identical aggregate values — bit-identical
    output. No subtree is read twice, so nothing needs persisting."""
    agg = _recall_frame(queries, approx, truth).agg(
        F.count(F.lit(1)).cast("long").alias("n_scored"),
        (F.avg("recall") >= F.lit(float(mean_floor)))
        .cast("long").alias("mean_recall_ok"),
        (F.expr(f"percentile(recall, {dist_q})")
         >= F.lit(float(dist_floor))).cast("long").alias("dist_recall_ok"),
        ((F.min("recall") >= F.lit(0.0)) & (F.max("recall") <= F.lit(1.0)))
        .cast("long").alias("recall_in_unit"),
    )
    nq = queries.agg(F.count(F.lit(1)).alias("n_queries"))
    return nq.crossJoin(agg).select(
        F.col("n_queries").cast("long").alias("n_queries"),
        F.lit(ANN_K).cast("long").alias("k"),
        "n_scored", "mean_recall_ok", "dist_recall_ok", "recall_in_unit")


ANN_RECALL_STORED_CERT_SQL = f"""
SELECT (SELECT COUNT(*) FROM embeddings
        WHERE vec_id < {ANN_QUERY_MAX_ID})::BIGINT AS n_queries,
       {ANN_K}::BIGINT AS k,
       (SELECT COUNT(*) FROM embeddings
        WHERE vec_id < {ANN_QUERY_MAX_ID})::BIGINT AS n_scored,
       1::BIGINT AS mean_recall_ok, 1::BIGINT AS dist_recall_ok,
       1::BIGINT AS recall_in_unit
"""


def q_ann_recall_ivfpq_stored(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Recall@k distribution of the PRODUCTION IVFADC serving path
    (VERDICT r11 #4): the approx leg is the stored-index ADC probe
    (route -> probed cell partitions -> residual ADC), so the recall
    is measured exactly where compression loss occurs — PQ ADC error
    plus IVF probe misses — not on the SQL-expressible LSH stand-in.
    The truth leg is a live brute-force pass over the query sample
    (the eval-harness cost: |Q| x corpus GEMM once per evaluation
    run, never per serving query). Certificate form like every
    iterative-ANN row; the per-query distribution itself stays
    pytest-pinned (test_pipeline_ops)."""
    from .operators.similarity import (brute_force_topk_arrow,
                                       ivfpq_topk_from_index)

    prefix = f"ivfpq_{_artifact_tag(sf_dir)}"
    embs = _embs(spark, sf_dir)
    queries = embs.where(F.col("vec_id") < ANN_QUERY_MAX_ID)
    if not readers.index_ready(spark, prefix):
        from .operators.similarity import ivfpq_store_index

        ivfpq_store_index(embs, prefix, n_centroids=IVFPQ_CELLS,
                          m=IVFPQ_M, codes=IVFPQ_CODES,
                          coarse_iters=2, pq_iters=2,
                          truth_queries=queries, truth_k=ANN_K)
    approx = ivfpq_topk_from_index(spark, prefix, queries, ANN_K,
                                   nprobe=IVFPQ_NPROBE)
    truth = brute_force_topk_arrow(queries, embs, ANN_K)
    return _recall_certificate(spark, queries, approx, truth,
                               IVFPQ_RECALL_FLOOR,
                               IVFPQ_RECALL_DIST_Q,
                               IVFPQ_RECALL_DIST_FLOOR)


def q_ann_recall_pq_stored(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Recall@k distribution of the stored flat-PQ ADC path — the
    pure-compression companion to ann_recall_ivfpq_stored (no IVF
    routing, so the gap between the two rows prices probe misses
    separately from ADC error). Same certificate form and floors
    rationale; the PQ floors are lower because m=8/16 codes is a
    much coarser quantizer than the residual-coupled IVFADC."""
    from .operators.similarity import (brute_force_topk_arrow,
                                       pq_read_index, pq_topk)

    prefix = f"pq_{_artifact_tag(sf_dir)}"
    if not readers.index_ready(spark, prefix):
        from .operators.similarity import pq_store_index

        pq_store_index(_embs(spark, sf_dir), prefix,
                       m=PQ_M, codes=PQ_CODES, iters=2)
    model, enc = pq_read_index(spark, prefix)
    embs = _embs(spark, sf_dir)
    queries = embs.where(F.col("vec_id") < ANN_QUERY_MAX_ID)
    approx = pq_topk(queries, embs, ANN_K, model=model, encoded=enc)
    truth = brute_force_topk_arrow(queries, embs, ANN_K)
    return _recall_certificate(spark, queries, approx, truth,
                               PQ_RECALL_FLOOR, PQ_RECALL_DIST_Q,
                               PQ_RECALL_DIST_FLOOR)


# --------------------------------------------------------------- registry

PIPELINE_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "dedup_semantic": q_dedup_semantic,
    "dedup_exact": q_dedup_exact,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_clusters": q_dedup_clusters,
    "dedup_keeper_quality": q_dedup_keeper_quality,
    "dedup_incremental": q_dedup_incremental,
    "dedup_incremental_stored": q_dedup_incremental_stored,
    "dedup_simhash": q_dedup_simhash,
    "dedup_embedding_cosine": q_dedup_embedding_cosine,
    "dedup_embedding_cosine_lsh": q_dedup_embedding_cosine_lsh,
    "dedup_embedding_cosine_lsh_mt": q_dedup_embedding_cosine_lsh_mt,
    "doc_split": q_doc_split,
    "sample_docs": q_sample_docs,
    "ann_topk": q_ann_topk,
    "ann_topk_lsh": q_ann_topk_lsh,
    "ann_topk_lsh_mp": q_ann_topk_lsh_mp,
    "ann_topk_ivf": q_ann_topk_ivf,
    "quantize_embeddings": q_quantize_embeddings,
    "lang_centroids": q_lang_centroids,
    "text_stats": q_text_stats,
    "language_id": q_language_id,
    "token_vocab": q_token_vocab,
    "corpus_quantiles": q_corpus_quantiles,
    "corpus_quantiles_approx": q_corpus_quantiles_approx,
    "repetition_stats": q_repetition_stats,
    "tfidf_top_terms": q_tfidf_top_terms,
    "contamination": q_contamination,
    "contamination_stored": q_contamination_stored,
    "source_overlap": q_source_overlap,
    "stratified_sample": q_stratified_docs,
    "chunk_docs": q_chunk_docs,
    "pack_sequences": q_pack_sequences,
    "curation_pipeline": q_curation_pipeline,
    "doc_fingerprints": q_doc_fingerprints,
    "multimodal_meta": q_multimodal_meta,
    "multimodal_headers": q_multimodal_headers,
    "multimodal_decode": q_multimodal_decode,
    "image_phash_dedup": q_image_phash_dedup,
    "image_phash_neardup": q_image_phash_neardup,
    "media_resize": q_media_resize,
    "frame_sample": q_frame_sample,
    "bm25_topk": q_bm25_topk,
    "source_stats": q_source_stats,
    "chunk_containment": q_chunk_containment,
    "duplicated_spans": q_duplicated_spans,
    "remove_dup_spans": q_remove_dup_spans,
    "duplicated_spans_inc": q_duplicated_spans_inc,
    "duplicated_spans_inc_stored": q_duplicated_spans_inc_stored,
    "gopher_quality": q_gopher_quality,
    "hybrid_retrieval": q_hybrid_retrieval,
    "hybrid_retrieval_stored": q_hybrid_retrieval_stored,
    "source_quantiles": q_source_quantiles,
    "ann_topk_ivfpq": q_ann_topk_ivfpq,
    "ann_topk_ivfpq_stored": q_ann_topk_ivfpq_stored,
    "ann_topk_pq_stored": q_ann_topk_pq_stored,
    "dedup_clusters_star": q_dedup_clusters_star,
    "ann_topk_ivf_trained": q_ann_topk_ivf_trained,
    "ann_topk_pq": q_ann_topk_pq,
    "mixture_sample": q_mixture_sample,
    "mixture_temperature": q_mixture_temperature,
    "lm_score": q_lm_score,
    "dsir_select": q_dsir_select,
    "dsir_select_stored": q_dsir_select_stored,
    "dsir_resample": q_dsir_resample,
    "dsir_resample_stored": q_dsir_resample_stored,
    "bm25_topk_stored": q_bm25_topk_stored,
    "lm_score_stored": q_lm_score_stored,
    "winnow_fingerprints": q_winnow_fingerprints,
    "winnow_overlap": q_winnow_overlap,
    "pca_embed": q_pca_embed,
    "dedup_semantic_stored": q_dedup_semantic_stored,
    "ann_topk_filtered_stored": q_ann_topk_filtered_stored,
    "semdedup_drift": q_semdedup_drift,
    "pii_scrub": q_pii_scrub,
    "snapshot_diff": q_snapshot_diff,
    "snapshot_diff_stored": q_snapshot_diff_stored,
    "source_frequency_cap": q_source_frequency_cap,
    "ann_recall_lsh": q_ann_recall_lsh,
    "ann_recall_lsh_mp": q_ann_recall_lsh_mp,
    "ann_recall_ivfpq_stored": q_ann_recall_ivfpq_stored,
    "ann_recall_pq_stored": q_ann_recall_pq_stored,
}

PIPELINE_ORACLES: dict[str, str] = {
    "dedup_semantic": _dedup_semantic_sql(),
    "dedup_exact": DEDUP_EXACT_SQL,
    "dedup_ngram_jaccard": DEDUP_NGRAM_SQL,
    "dedup_minhash_lsh": _minhash_sql(),
    "dedup_clusters": _clusters_sql(),
    "dedup_keeper_quality": _keeper_quality_sql(),
    "dedup_incremental": _incremental_sql(),
    "dedup_incremental_stored": _incremental_sql(),
    "dedup_simhash": _simhash_sql(),
    "dedup_embedding_cosine": DEDUP_COSINE_SQL,
    "dedup_embedding_cosine_lsh": _cosine_lsh_sql(),
    "dedup_embedding_cosine_lsh_mt": _cosine_lsh_mt_sql(),
    "doc_split": _doc_split_sql(),
    "sample_docs": _sample_docs_sql(),
    "ann_topk": ANN_TOPK_SQL,
    "ann_topk_lsh": _ann_lsh_sql(),
    "ann_topk_lsh_mp": _ann_lsh_mp_sql(),
    "ann_topk_ivf": _ann_ivf_sql(),
    "quantize_embeddings": QUANTIZE_SQL,
    "lang_centroids": LANG_CENTROIDS_SQL,
    "text_stats": TEXT_STATS_SQL,
    "language_id": _lang_id_sql(),
    "token_vocab": _token_vocab_sql(),
    "corpus_quantiles": _corpus_quantiles_sql(),
    "corpus_quantiles_approx": _corpus_quantiles_approx_sql(),
    "repetition_stats": REPETITION_SQL,
    "tfidf_top_terms": TFIDF_SQL,
    "contamination": _contamination_sql(),
    "contamination_stored": _contamination_stored_sql(),
    "source_overlap": _source_overlap_sql(),
    "stratified_sample": _stratified_sql(),
    "chunk_docs": CHUNK_SQL,
    "pack_sequences": _pack_sql(),
    "curation_pipeline": _curation_sql(),
    "doc_fingerprints": _fingerprint_sql(),
    "multimodal_meta": MULTIMODAL_META_SQL,
    "multimodal_headers": MULTIMODAL_HEADERS_SQL,
    "multimodal_decode": MULTIMODAL_DECODE_SQL,
    "image_phash_dedup": IMAGE_PHASH_DEDUP_SQL,
    "image_phash_neardup": _image_phash_neardup_sql(),
    "media_resize": MEDIA_RESIZE_SQL,
    "frame_sample": FRAME_SAMPLE_SQL,
    "bm25_topk": _bm25_sql(),
    "source_stats": _source_stats_sql(),
    "chunk_containment": _chunk_containment_sql(),
    "duplicated_spans": _duplicated_spans_sql(),
    "remove_dup_spans": _remove_dup_spans_sql(),
    "duplicated_spans_inc": _duplicated_spans_inc_sql(),
    "duplicated_spans_inc_stored": _duplicated_spans_inc_sql(),
    "gopher_quality": _gopher_sql(),
    "hybrid_retrieval": _hybrid_sql(),
    "hybrid_retrieval_stored": _hybrid_sql(),
    "source_quantiles": _source_quantiles_sql(),
    "ann_topk_ivfpq": ANN_CERTIFICATE_SQL,
    "ann_topk_ivfpq_stored": ANN_CERTIFICATE_SQL,
    "ann_topk_pq_stored": ANN_TOPK_PQ_STORED_SQL,
    # same recursive-CTE oracle as dedup_clusters: the star algorithm
    # must reproduce min-label's labeling exactly
    "dedup_clusters_star": _clusters_sql(),
    "mixture_sample": _mixture_sql(),
    "mixture_temperature": _mixture_temperature_sql(),
    "lm_score": _lm_score_sql(),
    "dsir_select": _dsir_select_sql(),
    # probe ≡ inline IS the stored twins' claim — same oracles
    "dsir_select_stored": _dsir_select_sql(),
    "dsir_resample_stored": _dsir_resample_sql(),
    "dsir_resample": _dsir_resample_sql(),
    "winnow_fingerprints": _winnow_sql(),
    "winnow_overlap": _winnow_overlap_sql(),
    # self-certifying forms (r5): the oracle pins the SQL-computable
    # facts (query/corpus counts) and demands every certificate be 1
    "ann_topk_ivf_trained": ANN_CERTIFICATE_SQL,
    "ann_topk_pq": ANN_CERTIFICATE_SQL,
    "pca_embed": PCA_EMBED_SQL,
    # stored-artifact probe paths (r5): same oracles as the inline
    # builds — probe-only ≡ inline-build is exactly the claim
    "bm25_topk_stored": _bm25_sql(),
    "lm_score_stored": _lm_score_sql(),
    # registered r8 (previously staged behind the r7 window capacity)
    "dedup_semantic_stored": _dedup_semantic_stored_sql(),
    "ann_topk_filtered_stored": ANN_TOPK_FILTERED_STORED_SQL,
    "semdedup_drift": _semdedup_drift_sql(),
    "pii_scrub": _pii_scrub_sql(),
    "snapshot_diff": SNAPSHOT_DIFF_SQL,
    "snapshot_diff_stored": SNAPSHOT_DIFF_SQL,
    "source_frequency_cap": SOURCE_FREQUENCY_CAP_SQL,
    "ann_recall_lsh": _ann_recall_lsh_sql(),
    "ann_recall_lsh_mp": _ann_recall_sql(_ann_lsh_mp_sql()),
    "ann_recall_ivfpq_stored": ANN_RECALL_STORED_CERT_SQL,
    "ann_recall_pq_stored": ANN_RECALL_STORED_CERT_SQL,
}
