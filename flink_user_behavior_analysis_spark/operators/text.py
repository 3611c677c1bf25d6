"""Text analysis for training-data pipelines: token counting, quality
scoring, language ID, document fingerprinting.

Everything is built-in column expressions (regexp_extract_all, split,
array ops) — JVM-side, whole-stage-codegen'd, no Python UDFs. Each
operator has an exact DuckDB-SQL formulation (same regexes, same
arithmetic) so the driver's oracle hash-matches.

Scale: all operators are embarrassingly parallel per-document scans —
no shuffle at all until a downstream aggregation. At 100 TB they run
at parquet scan speed with column pruning (only ``text`` is read).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .arrow_kernel import map_arrow, md5_60, token_starts
from .dedup import lower_text, normalized_text

# BPE-ish word/number/symbol tokenizer (shared with the DuckDB oracle)
TOKEN_RE = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

# tiny per-language stopword lists for the n-gram/stopword heuristic
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "de": ["der", "die", "das", "und", "ist", "ein", "nicht"],
    "es": ["el", "los", "que", "y", "en", "un", "por"],
    "fr": ["le", "les", "et", "des", "un", "une", "est"],
}


def token_counts(text_col: str = "text") -> dict[str, Column]:
    """Whitespace tokens + BPE-ish regex tokens."""
    norm = normalized_text(text_col)
    lower = lower_text(F.col(text_col))
    return {
        "n_tokens_ws": F.size(F.split(norm, " ")).cast("long"),
        "n_tokens_re": F.size(F.regexp_extract_all(lower, F.lit(TOKEN_RE), 0)
                              ).cast("long"),
    }


def quality_score_col(text_col: str = "text") -> Column:
    """The composite quality score as a reusable per-row Column, so a
    pipeline can apply it as a pure scan predicate (no join) — same
    rounded value text_stats reports."""
    norm = normalized_text(text_col)
    toks = F.split(norm, " ")
    n_ws = F.size(toks).cast("long")
    n_chars = F.length(F.col(text_col)).cast("long")
    n_punct = (n_chars - F.length(
        F.regexp_replace(F.col(text_col), "[^a-zA-Z0-9\\s]", ""))).cast("long")
    punct_ratio = n_punct.cast("double") / F.greatest(n_chars, F.lit(1))
    uniq_ratio = (F.size(F.array_distinct(toks)).cast("double")
                  / F.greatest(n_ws, F.lit(1)))
    score = (
        F.lit(0.4) * F.least(n_ws.cast("double") / 100, F.lit(1.0))
        + F.lit(0.3) * (F.lit(1.0) - punct_ratio)
        + F.lit(0.3) * uniq_ratio
    )
    return F.round(score, 4)


def text_stats(docs: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """Per-document quality metrics: lengths, ratios, a composite score.

    quality_score = 0.4 * min(n_ws/100, 1) + 0.3 * (1 - punct_ratio)
                  + 0.3 * uniq_ratio, rounded to 4 decimals. The exact
    formula is arbitrary (the capability is the operator shape); it is
    deterministic and shared with the oracle.
    """
    norm = normalized_text(text_col)
    toks = F.split(norm, " ")
    n_ws = F.size(toks).cast("long")
    n_chars = F.length(F.col(text_col)).cast("long")
    n_punct = (n_chars - F.length(
        F.regexp_replace(F.col(text_col), "[^a-zA-Z0-9\\s]", ""))).cast("long")
    punct_ratio = n_punct.cast("double") / F.greatest(n_chars, F.lit(1))
    uniq_ratio = (F.size(F.array_distinct(toks)).cast("double")
                  / F.greatest(n_ws, F.lit(1)))
    mean_tok_len = (
        F.aggregate(toks, F.lit(0).cast("double"),
                    lambda acc, t: acc + F.length(t))
        / F.greatest(n_ws, F.lit(1))
    )
    cnts = token_counts(text_col)
    return docs.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        cnts["n_tokens_ws"].alias("n_tokens_ws"),
        cnts["n_tokens_re"].alias("n_tokens_re"),
        F.round(punct_ratio, 4).alias("punct_ratio"),
        F.round(uniq_ratio, 4).alias("uniq_ratio"),
        F.round(mean_tok_len, 4).alias("mean_token_len"),
        quality_score_col(text_col).alias("quality_score"),
    )


def language_id(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Stopword-hit language scoring; argmax with lexicographic tiebreak.

    score(lang) = number of tokens that are in lang's stopword list.
    Predicted 'und' when every score is zero. (An n-gram heuristic in
    the same shape — per-language hit count + argmax — would swap the
    membership test for a trigram-profile join.)
    """
    toks = F.split(normalized_text(text_col), " ")
    # count every token occurrence in the list (not just distinct hits)
    scores = {
        lang: F.size(F.filter(
            toks, lambda t: t.isin(words)  # noqa: B023 - bound per loop below
        )).cast("long")
        for lang, words in LANG_STOPWORDS.items()
    }
    langs = sorted(LANG_STOPWORDS)
    best_score = F.greatest(*[scores[lg] for lg in langs])
    pred = F.lit("und")
    for lg in reversed(langs):  # earlier langs win ties -> apply last
        pred = F.when((scores[lg] == best_score) & (best_score > 0),
                      F.lit(lg)).otherwise(pred)
    return docs.select(
        F.col(id_col),
        *[scores[lg].alias(f"score_{lg}") for lg in langs],
        pred.alias("predicted_lang"),
    )


QUANTILE_PROBS = (0.25, 0.5, 0.75, 0.9, 0.99)


def corpus_quantiles(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text",
                     probs: tuple[float, ...] = QUANTILE_PROBS) -> DataFrame:
    """Corpus-level length distribution: exact interpolated quantiles
    of character and whitespace-token counts — the summary a curation
    pipeline thresholds against (truncation lengths, short-doc
    filters).

    Spark's exact ``percentile`` and DuckDB's ``quantile_cont`` use
    the same linear interpolation on sorted values (verified
    bit-identical), so the single-row output is oracle-checkable.
    One pass, partial aggregation; for 100 TB switch to
    ``approx_percentile`` with a documented error bound — same plan
    shape, sketch-mergeable.
    """
    n_chars = F.length(F.col(text_col)).cast("double")
    n_ws = F.size(F.split(normalized_text(text_col), " ")).cast("double")
    measured = docs.select(n_chars.alias("_nc"), n_ws.alias("_nt"))
    aggs = []
    for p in probs:
        tag = str(int(p * 100))
        aggs.append(F.round(F.percentile("_nc", p), 4).alias(f"chars_p{tag}"))
        aggs.append(F.round(F.percentile("_nt", p), 4).alias(f"tokens_p{tag}"))
    return measured.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"), *aggs
    )


def corpus_quantiles_approx(docs: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text",
                            probs: tuple[float, ...] = QUANTILE_PROBS,
                            accuracy: int = 10000) -> DataFrame:
    """The 100 TB form of corpus_quantiles: Greenwald-Khanna
    ``approx_percentile`` sketches (rank error <= 1/accuracy,
    mergeable across partitions — no global sort, same one-pass plan
    shape). No oracle: sketch internals are engine-specific; the
    pytest twin asserts every output lies within the rank-error bound
    of the exact quantiles.
    """
    n_chars = F.length(F.col(text_col)).cast("double")
    n_ws = F.size(F.split(normalized_text(text_col), " ")).cast("double")
    measured = docs.select(n_chars.alias("_nc"), n_ws.alias("_nt"))
    aggs = []
    for p in probs:
        tag = str(int(p * 100))
        aggs.append(F.approx_percentile("_nc", F.lit(p), F.lit(accuracy))
                    .alias(f"chars_p{tag}"))
        aggs.append(F.approx_percentile("_nt", F.lit(p), F.lit(accuracy))
                    .alias(f"tokens_p{tag}"))
    return measured.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"), *aggs
    )


def token_vocab(docs: DataFrame, top_n: int = 100,
                id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Corpus vocabulary: top-N tokens by document frequency
    (tokenizer/vocab building over the whole corpus — the aggregation
    every BPE/WordPiece trainer starts from).

    Output: (token, doc_freq, total_occurrences, rnk), ranked by
    doc_freq desc with (occurrences desc, token asc) tiebreaks.

    Scale shape: explode -> ONE groupBy(token) computing both counts
    (distinct docs via count(distinct) would double-shuffle; instead
    dedupe (doc, token) pairs map-side with a two-level agg), then a
    global top-N, which Spark executes as TakeOrderedAndProject —
    per-partition partial top-N, no full sort.
    """
    toks = docs.select(
        F.col(id_col),
        F.explode_outer(F.split(normalized_text(text_col), " ")).alias("token"),
    ).where(F.col("token") != "")
    # level 1: per (doc, token) occurrence counts — one shuffle;
    # level 2: fold to per-token doc_freq + total — reuses the same
    # hash partitioning on token? No: level 1 keys by (doc, token),
    # level 2 by token; but level 1's output is tiny (distinct pairs),
    # so the second exchange moves orders of magnitude less data than
    # a count(distinct doc) expansion would.
    per_doc = toks.groupBy(id_col, "token").agg(
        F.count(F.lit(1)).alias("_occ")
    )
    vocab = per_doc.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("doc_freq"),
        F.sum("_occ").cast("long").alias("total_occurrences"),
    )
    from pyspark.sql import Window

    order = [F.col("doc_freq").desc(), F.col("total_occurrences").desc(),
             F.col("token").asc()]
    # orderBy().limit() compiles to TakeOrderedAndProject (partial
    # top-N per partition); the rank window then runs over only the
    # top_n survivors — never a full-vocab single-partition sort
    top = vocab.orderBy(*order).limit(top_n)
    return top.withColumn(
        "rnk", F.row_number().over(Window.orderBy(*order)).cast("long")
    )


def _all_grams(tokens_col: str, n: int) -> Column:
    """ALL word n-grams (with duplicates — unlike shingle_array's
    distinct set, repetition measurement needs multiplicity); empty
    array when the document has fewer than n tokens."""
    t = tokens_col
    return F.expr(
        f"CASE WHEN size({t}) < {n} THEN cast(array() AS array<string>) "
        f"ELSE transform(sequence(1, size({t}) - {n - 1}), "
        f"i -> concat_ws(' ', slice({t}, i, {n}))) END"
    )


def repetition_stats(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signals per document: the fraction of
    bigrams covered by the single most frequent bigram, and the
    fraction of trigrams that occur more than once. High values mark
    boilerplate/spam that length- and punctuation-based quality
    scores miss (cf. Rae et al. 2021, "Scaling Language Models",
    repetition filters C.2).

    Output per doc: n_bigrams, top_bigram_n, top_bigram_frac,
    n_trigrams, dup_trigram_n, dup_trigram_frac (fracs rounded 4dp;
    0.0 when the doc is too short to have that gram order).

    Scale shape: both gram orders ride ONE exploded stream tagged by
    n -> one shuffle on (doc, n, gram) for the occurrence counts, a
    second tiny shuffle on (doc, n) for the per-doc fold, then a
    pivot (conditional agg, no extra exchange). Never a per-doc
    quadratic: multiplicity is counted by groupBy, not by an
    array-lambda scan over distinct grams.
    """
    from .dedup import with_tokens

    toks = with_tokens(docs, id_col, text_col)
    streams = [
        toks.select(
            F.col(id_col), F.lit(n).alias("_n"),
            F.explode_outer(_all_grams("tokens", n)).alias("_gram"),
        )
        for n in (2, 3)
    ]
    grams = streams[0].unionByName(streams[1]).where(F.col("_gram").isNotNull())
    occ = grams.groupBy(id_col, "_n", "_gram").agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    per = occ.groupBy(id_col, "_n").agg(
        F.sum("_cnt").alias("total"),
        F.max("_cnt").alias("topn"),
        F.sum(F.when(F.col("_cnt") > 1, F.col("_cnt")).otherwise(0)).alias("dupn"),
    )
    wide = per.groupBy(id_col).pivot("_n", [2, 3]).agg(
        F.first("total").alias("total"),
        F.first("topn").alias("topn"),
        F.first("dupn").alias("dupn"),
    )
    z = F.lit(0).cast("long")
    n2 = F.coalesce(F.col("2_total"), z)
    n3 = F.coalesce(F.col("3_total"), z)
    top2 = F.coalesce(F.col("2_topn"), z)
    dup3 = F.coalesce(F.col("3_dupn"), z)
    return wide.select(
        F.col(id_col),
        n2.alias("n_bigrams"),
        top2.alias("top_bigram_n"),
        F.round(top2.cast("double") / F.greatest(n2, F.lit(1)), 4
                ).alias("top_bigram_frac"),
        n3.alias("n_trigrams"),
        dup3.alias("dup_trigram_n"),
        F.round(dup3.cast("double") / F.greatest(n3, F.lit(1)), 4
                ).alias("dup_trigram_frac"),
    )


def tf_idf_top_terms(docs: DataFrame, k: int = 5,
                     id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Top-k most distinctive terms per document by tf-idf.

    score = tf * (N / df) with plain IEEE division instead of the
    usual log idf: both engines' `ln` are libm calls with no
    correctness-of-rounding guarantee, while mul/div are exactly
    rounded — so the rounded score is bit-identical in DuckDB and the
    ranking (score desc, token asc on the ROUNDED value) is
    deterministic across engines.

    Scale shape: ONE scan and one shuffle on (doc, token) for tf;
    since tf has exactly one row per (doc, token), document frequency
    is a count() window over token on the SAME frame — no second
    tokenization pass, no self-join (a groupBy+join formulation was
    measured to re-scan and re-tokenize the corpus in a second plan
    branch). The corpus size N rides in as a broadcast 1-row
    aggregate (no driver-side count()), then a per-doc top-k window,
    which Spark executes with WindowGroupLimit (partial top-k before
    the final per-doc sort). No collect anywhere.
    """
    from pyspark.sql import Window

    from .dedup import with_tokens

    toks = with_tokens(docs, id_col, text_col).select(
        F.col(id_col), F.explode_outer("tokens").alias("token")
    ).where(F.col("token").isNotNull() & (F.col("token") != ""))
    tf = toks.groupBy(id_col, "token").agg(
        F.count(F.lit(1)).cast("long").alias("tf"))
    dfw = Window.partitionBy("token")
    n_docs = docs.agg(F.count(F.lit(1)).cast("long").alias("_n_docs"))
    scored = tf.withColumn(
        "df", F.count(F.lit(1)).over(dfw).cast("long")
    ).join(F.broadcast(n_docs)).select(
        F.col(id_col), "token", "tf", "df",
        F.round(F.col("tf").cast("double") * F.col("_n_docs") / F.col("df"), 4
                ).alias("tfidf"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("token").asc())
    return scored.withColumn(
        "rnk", F.row_number().over(w).cast("long")
    ).where(F.col("rnk") <= k)


def doc_fingerprints(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", n: int = 3,
                     minhash_k: int = 4) -> DataFrame:
    """Content fingerprints: canonical md5 + min-k shingle hashes.

    fp_md5: md5 of the normalized text (exact-dup key).
    fp_min{i}: i-th independent min shingle hash (rolling-hash-style
    winnowing fingerprint; equal fp_min columns => likely near-dup).

    The projection is md5-bound, so it runs as an Arrow kernel:
    shingles are byte slices of the normalized text (``token_starts``),
    each hashed with C hashlib; ``md5_60`` replicates md5_long and min()
    over all instances equals array_min over the distinct set. NULL
    text gives NULL fingerprints, as md5(NULL) does. with_shingles, by
    contrast, keeps the JVM form: its output is the array<string>
    itself, and list<string> emission cost more than the interpreted
    build (1.0-1.4 s JVM vs 2.4-2.7 s Arrow).
    """
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    k = int(minhash_k)
    nn = int(n)
    out_schema = StructType(
        [StructField(id_col, docs.schema[id_col].dataType),
         StructField("fp_md5", StringType())]
        + [StructField(f"fp_min{i}", LongType()) for i in range(k)])

    def _fp(batch):
        from hashlib import md5

        prefixes = [(str(i) + "|").encode() for i in range(k)]
        fpmd = []
        mins: list[list[int]] = [[] for _ in range(k)]
        for s in batch.column(1).to_pylist():
            if s is None:
                fpmd.append(None)
                for m in mins:
                    m.append(None)
                continue
            b = s.encode()
            fpmd.append(md5(b).hexdigest())
            starts = token_starts(s, b)
            if len(starts) - 1 < nn:
                sh = [b]
            else:
                sh = [b[starts[i]:starts[i + nn] - 1]
                      for i in range(len(starts) - nn)]
            for i, p in enumerate(prefixes):
                mins[i].append(min(md5_60(p + g) for g in sh))
        return [batch.column(0), fpmd, *mins]

    return map_arrow(docs, [F.col(id_col),
                            normalized_text(text_col).alias("_nt")],
                     out_schema, _fp, partition_by=id_col)


def bm25_topk(docs: DataFrame, queries: DataFrame, k: int = 5,
              k1: float = 1.2, b: float = 0.75,
              id_col: str = "doc_id", text_col: str = "text",
              qid_col: str = "query_id",
              qtext_col: str = "query_text") -> DataFrame:
    """BM25 lexical retrieval: top-``k`` documents per query — the
    text-side counterpart of ANN search for retrieval-style corpus
    queries (eval-set mining, SEO-spam probes, targeted curation).

    Scoring is the Lucene BM25 form: idf(t) = ln((N - df + 0.5) /
    (df + 0.5) + 1), tf saturation k1, length normalization b against
    the mean token count. Per-term scores are folded to FIXED-POINT
    (1e-6) longs before the per-(query, doc) sum so the total is
    independent of addition order (same rationale as group_centroids)
    and bit-reproducible in the DuckDB oracle.

    Scale shape (100 TB): tf and df are the inverted-index artifacts
    — one token-keyed shuffle each over the corpus, computed once and
    stored in production; the query side is tiny and broadcasts into
    the postings join, so a query batch never reshuffles the corpus.
    Final ranking windows over query_id — as many keys as queries,
    each with candidate lists bounded by postings intersection.
    This inline form builds the index per call; the PRODUCTION shape
    is bm25_store_index once + bm25_topk_from_index per query batch
    (probe-only ≡ inline, test-asserted).
    """
    return bm25_topk_from_index(
        bm25_index(docs, id_col=id_col, text_col=text_col),
        queries, k=k, k1=k1, b=b,
        id_col=id_col, qid_col=qid_col, qtext_col=qtext_col)


def bm25_index(docs: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> dict[str, DataFrame]:
    """The BM25 inverted-index ARTIFACTS as four frames — pure counts,
    independent of the scoring constants (k1/b bind at probe time):
      tf:     (id, token, tf)   term frequency postings
      dl:     (id, dl)          document lengths
      df:     (token, df)       document frequencies
      consts: (n_docs, avgdl)   corpus constants (1 row)
    In production these are computed once per corpus version and
    stored (bm25_store_index); every query batch is then probe-only.
    """
    toks = docs.select(
        F.col(id_col),
        F.explode(F.split(normalized_text(text_col), " ")).alias("token"),
    ).where(F.col("token") != "")
    # tf feeds both the df aggregation and the postings join; measured
    # persisting it here LOSES ~10% at sf0.1 (the 800k-row materialize
    # outweighs recomputing the cheap tokenize+count) — in the stored
    # path tf/df are parquet artifacts and this tradeoff disappears
    tf = toks.groupBy(id_col, "token").agg(
        F.count(F.lit(1)).cast("long").alias("tf"))
    # dl/df/consts all DERIVE from tf (r14): a doc's length is the sum
    # of its term frequencies and avgdl is sum(dl)/count(dl); long
    # sums of integral counts are exact, so dl/df/avgdl are
    # bit-identical to the former direct toks aggregations. Measured
    # wall-NEUTRAL at sf0.1 (2.98 vs 3.01 same-window min-of-3 —
    # exchange reuse does NOT fire on the duplicated tf subtrees:
    # runtime filters differentiate them), kept because it matches
    # bm25_append_to_index, which already derives dl from tf and
    # asserts append ≡ rebuild bit-equality, and in the stored path
    # tf is the one artifact the rest derive from. Persisting tf was
    # RE-A/B'd with all four consumers on it and still loses (bm25
    # 3.01 -> 3.09 s, hybrid 3.30 -> 3.79 s at sf0.1): materialization
    # + lost pipelining beat the saved recomputes.
    dl = tf.groupBy(id_col).agg(F.sum("tf").cast("long").alias("dl"))
    dfreq = tf.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("df"))
    consts = docs.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    ).crossJoin(
        dl.agg(F.sum("dl").cast("double").alias("_tot"),
               F.count(F.lit(1)).cast("double").alias("_nd"))
        .select((F.col("_tot") / F.col("_nd")).alias("avgdl"))
    )
    return {"tf": tf, "dl": dl, "df": dfreq, "consts": consts}


def bm25_store_index(docs: DataFrame, prefix: str, n_buckets: int = 8,
                     id_col: str = "doc_id",
                     text_col: str = "text",
                     rebuild_includes_appends: bool = False) -> list[str]:
    """Materialize the BM25 index as catalog tables (VERDICT r4
    next-round #5): tf and dl land BUCKETED on the doc id with the
    same bucket count (sources/readers.py:write_bucketed), so the
    probe's tf-to-dl join needs no exchange on either stored side;
    df/consts are small dimension tables the probe broadcasts anyway.
    Returns the table names written."""
    from ..sources.readers import (index_commit, rebuild_ledger,
                                   save_as_table, write_bucketed)

    names = [f"{prefix}_{s}" for s in ("tf", "dl", "df", "consts")]
    with index_commit(docs.sparkSession, prefix, names,
                      rebuild_ledger(rebuild_includes_appends)):
        idx = bm25_index(docs, id_col=id_col, text_col=text_col)
        write_bucketed(idx["tf"], f"{prefix}_tf", id_col, n_buckets)
        write_bucketed(idx["dl"], f"{prefix}_dl", id_col, n_buckets)
        save_as_table(idx["df"].write.mode("overwrite").format("parquet"),
                      f"{prefix}_df")
        save_as_table(
            idx["consts"].write.mode("overwrite").format("parquet"),
            f"{prefix}_consts")
    return names


def bm25_read_index(spark: SparkSession, prefix: str) -> dict[str, DataFrame]:
    return {s: spark.table(f"{prefix}_{s}")
            for s in ("tf", "dl", "df", "consts")}


def bm25_append_to_index(spark: SparkSession, prefix: str,
                         new_docs: DataFrame,
                         batch_id: str | None = None,
                         id_col: str = "doc_id",
                         text_col: str = "text") -> int:
    """Append a document batch to a stored BM25 index WITHOUT a full
    rebuild — text-index ingestion, the counts-are-additive sibling
    of ivfpq_append_to_index:

      tf/dl  batch-local rows, APPENDED under the table's own bucket
             spec (read back from the catalog, so the zero-exchange
             probe join survives appends);
      df     additive merge: stored counts + the batch's distinct-doc
             counts, rewritten (vocabulary-sized — the micro-batch
             price; localCheckpoint breaks the read-then-overwrite
             cycle);
      consts n_docs grows by the batch count; avgdl is recomputed
             FROM the merged dl table — the same integer token sum /
             doc count a one-shot rebuild computes, so post-append
             scores are BIT-IDENTICAL to rebuilding on the union
             (test-asserted).

    Transactional shape (begin_append, then commit_append): the whole
    append runs inside the manifest bracket (invalidated first,
    recommitted last) — a crash at ANY
    point leaves the index not-ready and the gated reader rebuilds
    from source (which also clears the ledger). The ledger is
    recorded just before the recommit, so with a ``batch_id``
    delivery is exactly-once: re-delivery after commit is a no-op;
    retry after a torn append lands on the rebuilt index. Unlike the
    partitioned vector indexes there is no per-batch overwrite here
    — the bracket IS the idempotence mechanism, bought at
    rebuild-on-crash recovery cost."""
    from ..sources.readers import (append_bucketed, begin_append,
                                   commit_append, require_bucket_count,
                                   save_as_table)

    if not begin_append(spark, prefix, batch_id, "bm25_append_to_index"):
        return 0  # committed re-delivery: skip BEFORE any batch compute
    n_batch = new_docs.count()
    nb = require_bucket_count(spark, f"{prefix}_tf")
    old_n_docs = spark.table(f"{prefix}_consts").collect()[0].n_docs
    # checkpoint the batch postings: they feed both the tf append and
    # the df merge (via re-aggregation off the blocks) — one tokenize
    # scan instead of re-deriving the subtree per consumer
    idx = bm25_index(new_docs, id_col=id_col, text_col=text_col)
    tf_b = idx["tf"].localCheckpoint(eager=True)
    df_b = tf_b.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("df"))

    # dl derives from the checkpointed postings (dl == sum of tf per
    # doc), so the batch tokenize scan truly runs once per append
    dl_b = tf_b.groupBy(id_col).agg(
        F.sum("tf").cast("long").alias("dl"))

    names = [f"{prefix}_{s}" for s in ("tf", "dl", "df", "consts")]
    with commit_append(spark, prefix, names, batch_id):
        append_bucketed(tf_b, f"{prefix}_tf", id_col, nb)
        append_bucketed(dl_b, f"{prefix}_dl", id_col, nb)
        merged = (spark.table(f"{prefix}_df").unionByName(df_b)
                  .groupBy("token")
                  .agg(F.sum("df").cast("long").alias("df"))
                  .localCheckpoint(eager=True))
        save_as_table(merged.write.mode("overwrite").format("parquet"),
                      f"{prefix}_df")
        stats = spark.table(f"{prefix}_dl").agg(
            F.sum("dl").cast("double").alias("_tot"),
            F.count(F.lit(1)).cast("double").alias("_nd")).collect()[0]
        consts = spark.createDataFrame(
            [(int(old_n_docs) + int(n_batch),
              float(stats._tot) / float(stats._nd))],
            "n_docs BIGINT, avgdl DOUBLE")
        save_as_table(consts.write.mode("overwrite").format("parquet"),
                      f"{prefix}_consts")
    return int(n_batch)


def bm25_topk_from_index(index: dict[str, DataFrame], queries: DataFrame,
                         k: int = 5, k1: float = 1.2, b: float = 0.75,
                         id_col: str = "doc_id",
                         qid_col: str = "query_id",
                         qtext_col: str = "query_text") -> DataFrame:
    """Probe-only BM25 scoring against a (built or stored) index —
    the per-query-batch work at 100 TB: broadcast the tokenized
    queries into the postings, join dl (exchange-free when tf/dl are
    bucket-stored), rank. Identical output to bm25_topk on the same
    corpus (test-asserted)."""
    from pyspark.sql import Window

    tf, dl, dfreq, consts = (index["tf"], index["dl"],
                             index["df"], index["consts"])
    qt = queries.select(
        F.col(qid_col),
        F.explode(F.array_distinct(
            F.split(normalized_text(qtext_col), " "))).alias("token"),
    ).where(F.col("token") != "")
    n = F.col("n_docs").cast("double")
    idf = F.log((n - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    tfd = F.col("tf").cast("double")
    denom = tfd + k1 * (1.0 - b + b * F.col("dl").cast("double")
                        / F.col("avgdl"))
    term_score = idf * tfd * (k1 + 1.0) / denom
    scored = (
        F.broadcast(qt).join(tf, "token")
        .join(F.broadcast(dfreq.join(F.broadcast(qt.select("token")
                                                 .distinct()), "token")),
              "token")
        .join(dl, id_col)
        .crossJoin(F.broadcast(consts))
        .select(F.col(qid_col), F.col(id_col),
                F.round(term_score * 1_000_000, 0).cast("long").alias("_f"))
    )
    summed = scored.groupBy(qid_col, id_col).agg(
        F.sum("_f").alias("_s"), F.count(F.lit(1)).cast("long")
        .alias("n_terms_hit"))
    w = Window.partitionBy(qid_col).orderBy(
        F.col("_s").desc(), F.col(id_col).asc())
    return (
        summed.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(F.col(qid_col), F.col(id_col),
                F.round(F.col("_s").cast("double") / 1_000_000.0, 4)
                .alias("bm25"),
                "n_terms_hit", F.col("rnk").cast("long").alias("rnk"))
    )


def source_stats(docs: DataFrame, quality_threshold: float = 0.6,
                 id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Per-(source, lang) curation telemetry: document counts, token
    volume, mean quality, and the keep-rate at the curation threshold
    — the dashboard aggregation a 100 TB ingest monitors per shard.

    Mean quality uses fixed-point (1e-4, matching quality_score's
    rounding) integer sums so the cross-row average is
    addition-order-independent and oracle-exact. One groupBy on the
    uniform (source, lang) composite key; everything else is per-row
    projection folded map-side.
    """
    q = quality_score_col(text_col)
    cnts = token_counts(text_col)
    per = docs.select(
        "source", "lang",
        cnts["n_tokens_ws"].alias("_nt"),
        F.round(q * 10_000, 0).cast("long").alias("_qf"),
        (q >= quality_threshold).cast("long").alias("_keep"),
    )
    # mean rounds in the INTEGER 1e-4 domain (round(sum/n) / 1e4, not
    # round(sum/1e4/n, 4)): a decimal half like 0.62645 is not binary-
    # representable, and Spark (shortest-decimal HALF_UP) vs DuckDB
    # (raw binary) round it in opposite directions — whereas integer
    # halves like 6264.5 are exact in both engines and round away from
    # zero identically
    return per.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("_nt").cast("long").alias("total_tokens"),
        (F.round(F.sum("_qf").cast("double") / F.count(F.lit(1)), 0)
         / 10_000.0).alias("mean_quality"),
        F.round(F.sum("_keep").cast("double") / F.count(F.lit(1)), 4)
        .alias("keep_rate"),
    )


def lm_score(docs: DataFrame, id_col: str = "doc_id",
             text_col: str = "text") -> DataFrame:
    """Perplexity-proxy quality scoring: a bigram language model with
    add-one smoothing, trained on the corpus itself, scores each
    document by its mean bigram log-probability — the classic cheap
    stand-in for a trained-LM perplexity filter (noise, boilerplate
    and glitch text score far below fluent text; KenLM-style filters
    are this shape with a bigger n and better smoothing).

    score(d) = avg over bigrams (w1,w2) of ln((C(w1,w2) + 1) /
    (C(w1) + V)), C counted over the whole corpus, V = vocab size.
    Per-bigram log-probs fold to FIXED-POINT (1e-6) longs before the
    per-doc mean so the sum is addition-order-independent and the
    DuckDB oracle reproduces it bit-for-bit.

    Scale shape (100 TB): bigram and unigram counts are corpus
    artifacts — one shuffle each on uniform token keys, computed once
    and stored in production (they ARE the LM); scoring is one join
    of doc bigrams against those counts (bigram-keyed) and one
    doc-keyed mean. No driver state, no Python.
    """
    toks = docs.select(
        F.col(id_col),
        F.split(normalized_text(text_col), " ").alias("_t"),
    )
    bi = toks.select(
        F.col(id_col),
        F.explode(F.expr(
            "zip_with(slice(_t, 1, size(_t) - 1), "
            "slice(_t, 2, size(_t) - 1), "
            "(a, b) -> struct(a AS w1, b AS w2))")).alias("bg"),
    ).select(F.col(id_col), F.col("bg.w1").alias("w1"),
             F.col("bg.w2").alias("w2"))
    # bi feeds BOTH the bigram counts and the scoring join — persist so
    # the tokenize+explode subtree runs once, not twice (PERF story 6;
    # measured 1.93 s -> 1.46 s at sf0.1). Registered in the dedup
    # cache so release_signature_cache() reclaims the blocks.
    from .dedup import _tracked_persist

    bi = _tracked_persist(bi)
    uni = (
        toks.select(F.explode("_t").alias("w"))
        .groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("cw"))
    )
    big = bi.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("cb"))
    vocab = uni.agg(F.count(F.lit(1)).cast("long").alias("v"))
    logp = F.log(
        (F.col("cb").cast("double") + 1.0)
        / (F.col("cw").cast("double") + F.col("v").cast("double")))
    scored = (
        bi.join(big, ["w1", "w2"])
        .join(uni.withColumnRenamed("w", "w1"), "w1")
        .crossJoin(F.broadcast(vocab))
        .select(F.col(id_col),
                F.round(logp * 1_000_000, 0).cast("long").alias("_f"))
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.round(F.sum("_f").cast("double") / 1_000_000.0
                / F.count(F.lit(1)), 4).alias("avg_logp"),
    )


def lm_model(docs: DataFrame, id_col: str = "doc_id",
             text_col: str = "text") -> dict[str, DataFrame]:
    """The bigram-LM ARTIFACTS as three frames — these counts ARE the
    stored LM at scale (lm_score's docstring promise):
      uni:   (w, cw)        unigram counts
      big:   (w1, w2, cb)   bigram counts
      vocab: (v,)           vocabulary size (1 row)
    """
    toks = docs.select(
        F.col(id_col),
        F.split(normalized_text(text_col), " ").alias("_t"),
    )
    bi = toks.select(
        F.explode(F.expr(
            "zip_with(slice(_t, 1, size(_t) - 1), "
            "slice(_t, 2, size(_t) - 1), "
            "(a, b) -> struct(a AS w1, b AS w2))")).alias("bg"),
    ).select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    uni = (
        toks.select(F.explode("_t").alias("w"))
        .groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("cw"))
    )
    big = bi.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("cb"))
    vocab = uni.agg(F.count(F.lit(1)).cast("long").alias("v"))
    return {"uni": uni, "big": big, "vocab": vocab}


def lm_store_model(docs: DataFrame, prefix: str, n_buckets: int = 8,
                   id_col: str = "doc_id",
                   text_col: str = "text",
                   rebuild_includes_appends: bool = False) -> list[str]:
    """Materialize the bigram LM as catalog tables (VERDICT r4
    next-round #5): big bucketed+sorted on w1 (the probe join's
    leading key), uni bucketed on w; vocab is one row. Returns the
    table names written."""
    from ..sources.readers import (index_commit, rebuild_ledger,
                                   save_as_table, write_bucketed)

    names = [f"{prefix}_{s}" for s in ("big", "uni", "vocab")]
    with index_commit(docs.sparkSession, prefix, names,
                      rebuild_ledger(rebuild_includes_appends)):
        m = lm_model(docs, id_col=id_col, text_col=text_col)
        write_bucketed(m["big"], f"{prefix}_big", "w1", n_buckets,
                       sort_col="w1")
        write_bucketed(m["uni"], f"{prefix}_uni", "w", n_buckets)
        save_as_table(m["vocab"].write.mode("overwrite").format("parquet"),
                      f"{prefix}_vocab")
    return names


def lm_append_to_model(spark: SparkSession, prefix: str,
                       new_docs: DataFrame,
                       batch_id: str | None = None,
                       id_col: str = "doc_id",
                       text_col: str = "text") -> int:
    """Fold a document batch into a stored bigram LM — counts are
    additive over disjoint doc sets, so the merge rewrites the
    count tables from (stored counts + batch counts) WITHOUT ever
    re-tokenizing the existing corpus: append cost is
    O(|count tables| + |batch text|), a rebuild is O(|corpus
    text|). vocab is recomputed as the merged unigram count, so
    post-append scores are BIT-IDENTICAL to rebuilding on the union
    (test-asserted). Unlike BM25's tf/dl there is no per-doc table
    to append to — uni/big are keyed aggregates, so a blind append
    would create duplicate keys the probe join does not sum over;
    the rewrite keeps each table one-row-per-key and preserves the
    bucket spec (read back from the catalog) for the probe's
    exchange-free w1 join.

    Same transactional shape as bm25_append_to_index: everything
    inside the manifest bracket, ledger recorded just before the
    recommit — crash anywhere -> not-ready -> gated rebuild (which
    clears the ledger); committed re-delivery -> no-op."""
    from ..sources.readers import (begin_append, commit_append,
                                   require_bucket_count, save_as_table,
                                   write_bucketed)

    if not begin_append(spark, prefix, batch_id, "lm_append_to_model"):
        return 0  # committed re-delivery: skip BEFORE any batch compute
    m = lm_model(new_docs, id_col=id_col, text_col=text_col)
    n_batch = new_docs.count()
    nb = require_bucket_count(spark, f"{prefix}_big")

    merged_uni = (spark.table(f"{prefix}_uni").unionByName(m["uni"])
                  .groupBy("w").agg(F.sum("cw").cast("long").alias("cw"))
                  .localCheckpoint(eager=True))
    merged_big = (spark.table(f"{prefix}_big").unionByName(m["big"])
                  .groupBy("w1", "w2")
                  .agg(F.sum("cb").cast("long").alias("cb"))
                  .localCheckpoint(eager=True))
    vocab = merged_uni.agg(F.count(F.lit(1)).cast("long").alias("v"))

    names = [f"{prefix}_{s}" for s in ("big", "uni", "vocab")]
    with commit_append(spark, prefix, names, batch_id):
        write_bucketed(merged_big, f"{prefix}_big", "w1", nb,
                       sort_col="w1")
        write_bucketed(merged_uni, f"{prefix}_uni", "w", nb)
        save_as_table(vocab.write.mode("overwrite").format("parquet"),
                      f"{prefix}_vocab")
    return int(n_batch)


def lm_read_model(spark: SparkSession, prefix: str) -> dict[str, DataFrame]:
    return {s: spark.table(f"{prefix}_{s}")
            for s in ("big", "uni", "vocab")}


def lm_score_from_model(model: dict[str, DataFrame], docs: DataFrame,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Probe-only scoring against a (built or stored) LM — the
    per-batch production shape: tokenize only the docs being scored,
    join their bigrams against the stored counts. Identical output to
    lm_score when scoring the training corpus (test-asserted; both
    use inner joins, so the corpus-trained property that every scored
    bigram exists in the model holds by construction there — scoring
    OUT-of-corpus docs drops unseen bigrams from the mean, matching
    the inline form's semantics)."""
    uni, big, vocab = model["uni"], model["big"], model["vocab"]
    toks = docs.select(
        F.col(id_col),
        F.split(normalized_text(text_col), " ").alias("_t"),
    )
    bi = toks.select(
        F.col(id_col),
        F.explode(F.expr(
            "zip_with(slice(_t, 1, size(_t) - 1), "
            "slice(_t, 2, size(_t) - 1), "
            "(a, b) -> struct(a AS w1, b AS w2))")).alias("bg"),
    ).select(F.col(id_col), F.col("bg.w1").alias("w1"),
             F.col("bg.w2").alias("w2"))
    logp = F.log(
        (F.col("cb").cast("double") + 1.0)
        / (F.col("cw").cast("double") + F.col("v").cast("double")))
    scored = (
        bi.join(big, ["w1", "w2"])
        .join(uni.withColumnRenamed("w", "w1"), "w1")
        .crossJoin(F.broadcast(vocab))
        .select(F.col(id_col),
                F.round(logp * 1_000_000, 0).cast("long").alias("_f"))
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.round(F.sum("_f").cast("double") / 1_000_000.0
                / F.count(F.lit(1)), 4).alias("avg_logp"),
    )


def lm_score_smoothed(model: dict[str, DataFrame], docs: DataFrame,
                      id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Add-one-smoothed probe scoring that assigns a probability to
    EVERY bigram of the scored docs, including ones the model never
    saw: p(w2|w1) = (C(w1,w2) + 1) / (C(w1) + V) with C(.) = 0 when
    unseen. lm_score_from_model's inner joins silently DROP unseen
    bigrams from the mean — correct for scoring the training corpus
    (where none are unseen), wrong for cross-model comparison, where
    the entire signal is that off-target text is full of bigrams the
    target model never saw. Same fixed-point 1e-6 fold, so the mean
    is addition-order-independent and oracle-exact. Docs with fewer
    than 2 tokens have no bigrams and are absent from the output
    (lm_score's own contract)."""
    uni, big, vocab = model["uni"], model["big"], model["vocab"]
    toks = docs.select(
        F.col(id_col),
        F.split(normalized_text(text_col), " ").alias("_t"),
    )
    bi = toks.select(
        F.col(id_col),
        F.explode(F.expr(
            "zip_with(slice(_t, 1, size(_t) - 1), "
            "slice(_t, 2, size(_t) - 1), "
            "(a, b) -> struct(a AS w1, b AS w2))")).alias("bg"),
    ).select(F.col(id_col), F.col("bg.w1").alias("w1"),
             F.col("bg.w2").alias("w2"))
    logp = F.log(
        (F.coalesce(F.col("cb"), F.lit(0)).cast("double") + 1.0)
        / (F.coalesce(F.col("cw"), F.lit(0)).cast("double")
           + F.col("v").cast("double")))
    scored = (
        bi.join(big, ["w1", "w2"], "left")
        .join(uni.withColumnRenamed("w", "w1"), ["w1"], "left")
        .crossJoin(F.broadcast(vocab))
        .select(F.col(id_col),
                F.round(logp * 1_000_000, 0).cast("long").alias("_f"))
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.round(F.sum("_f").cast("double") / 1_000_000.0
                / F.count(F.lit(1)), 4).alias("avg_logp"),
    )


def dsir_weights(corpus: DataFrame, target_cond: Column,
                 id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """DSIR importance weights [Xie et al. 2023, arXiv:2302.03169 —
    Data Selection for Language Models via Importance Resampling]:
    rank raw-corpus documents by how target-like they are,
    log w(x) = log p_target(x) - log p_raw(x), with add-one bigram
    LMs standing in for DSIR's hashed-ngram bag models (same
    feature-likelihood-ratio estimator, a denser feature space).
    Both likelihoods are length-normalized means over the SAME
    bigram multiset of x — the smoothed scorer guarantees every
    bigram contributes to both sides, so the ratio is well-defined
    for fully out-of-target documents.

    The target is a PREDICATE over the corpus (``target_cond``): both
    LMs come from ONE tokenization and ONE aggregation pass. The
    bigram/unigram frames carry a target flag and count (count(*),
    count-if(target)) per key, so the raw and target counts share
    their shuffle, and the corpus's bigram frame is persisted once and
    reused for the counts and the scoring scan. A count over a
    filtered subset == a conditional count over the whole corpus, so
    every cb/cw/v the smoothed scorer sees equals that of two
    separately fitted LMs — which is what dsir_weights_from_models
    scores against stored ones (probe == inline, test-asserted; the
    same DuckDB oracle certifies both). No pairwise anything, no
    Python. Returns (id, n_bigrams, logw) — resample or top-k on logw
    downstream (queries_pipeline: dsir_select).
    """
    from .dedup import _tracked_persist

    def _logp(cb: str, cw: str, v: str):
        return F.log(
            (F.coalesce(F.col(cb), F.lit(0)).cast("double") + 1.0)
            / (F.coalesce(F.col(cw), F.lit(0)).cast("double")
               + F.col(v).cast("double")))

    toks = corpus.select(
        F.col(id_col),
        F.split(normalized_text(text_col), " ").alias("_t"),
        target_cond.alias("_tgt"),
    )
    bi = toks.select(
        F.col(id_col), F.col("_tgt"),
        F.explode(F.expr(
            "zip_with(slice(_t, 1, size(_t) - 1), "
            "slice(_t, 2, size(_t) - 1), "
            "(a, b) -> struct(a AS w1, b AS w2))")).alias("bg"),
    ).select(F.col(id_col), F.col("_tgt"),
             F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    bi = _tracked_persist(bi)  # feeds both counts AND the scoring scan
    tgt_hit = F.when(F.col("_tgt"), F.lit(1))
    uni_rt = (
        toks.select(F.explode("_t").alias("w"), "_tgt")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("cw_r"),
             F.count(tgt_hit).cast("long").alias("cw_t_nz"))
    )
    big_rt = bi.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("cb_r"),
        F.count(tgt_hit).cast("long").alias("cb_t_nz"))
    # a stored target LM (dsir_weights_from_models) is LEFT-joined,
    # so an absent key contributes NULL (-> coalesce 0); the fused
    # count-if yields 0 directly — same value through coalesce
    vv = uni_rt.agg(
        F.count(F.lit(1)).cast("long").alias("v_r"),
        F.count(F.when(F.col("cw_t_nz") > 0, F.lit(1)))
        .cast("long").alias("v_t"))
    scored = (
        bi.join(big_rt, ["w1", "w2"], "left")
        .join(uni_rt.withColumnRenamed("w", "w1"), ["w1"], "left")
        .crossJoin(F.broadcast(vv))
        .select(
            F.col(id_col),
            F.round(_logp("cb_t_nz", "cw_t_nz", "v_t") * 1_000_000, 0)
            .cast("long").alias("_ft"),
            F.round(_logp("cb_r", "cw_r", "v_r") * 1_000_000, 0)
            .cast("long").alias("_fr"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.round(
            F.round(F.sum("_ft").cast("double") / 1_000_000.0
                    / F.count(F.lit(1)), 4)
            - F.round(F.sum("_fr").cast("double") / 1_000_000.0
                      / F.count(F.lit(1)), 4), 4).alias("logw"),
    )


def dsir_weights_from_models(model_raw: dict[str, DataFrame],
                             model_tgt: dict[str, DataFrame],
                             docs: DataFrame,
                             id_col: str = "doc_id",
                             text_col: str = "text") -> DataFrame:
    """Probe-only DSIR weighting against STORED raw/target LMs — the
    production shape VERDICT r9 #4 asked for: dsir_weights refits
    BOTH bigram LMs inline per call (the fit-inclusive family scales
    ~linearly with the corpus), whereas at 100 TB the LMs are
    artifacts refreshed per corpus/target VERSION (lm_store_model
    twice) and each scored batch only tokenizes ITSELF and joins the
    stored counts. Expression-for-expression the same smoothed
    likelihood-ratio as dsir_weights (left joins + coalesce on both
    sides, same 1e-6 fixed-point fold), so probe ≡ inline whenever
    model_raw was built over the same corpus the inline form scores
    — certified by the SAME DuckDB oracle (dsir_select_stored) and a
    direct probe≡inline pytest.

    Scale shape: one tokenization of the scored batch, two
    broadcast-able 1-row vocab scalars, two (w1,w2)-keyed joins
    against w1-bucketed stored counts, one doc-keyed mean. No refit,
    no corpus scan."""
    toks = docs.select(
        F.col(id_col),
        F.split(normalized_text(text_col), " ").alias("_t"),
    )
    bi = toks.select(
        F.col(id_col),
        F.explode(F.expr(
            "zip_with(slice(_t, 1, size(_t) - 1), "
            "slice(_t, 2, size(_t) - 1), "
            "(a, b) -> struct(a AS w1, b AS w2))")).alias("bg"),
    ).select(F.col(id_col), F.col("bg.w1").alias("w1"),
             F.col("bg.w2").alias("w2"))
    big_t = model_tgt["big"].select("w1", "w2",
                                    F.col("cb").alias("cb_t"))
    uni_t = model_tgt["uni"].select(F.col("w").alias("w1"),
                                    F.col("cw").alias("cw_t"))
    v_t = model_tgt["vocab"].select(F.col("v").alias("v_t"))
    big_r = model_raw["big"].select("w1", "w2",
                                    F.col("cb").alias("cb_r"))
    uni_r = model_raw["uni"].select(F.col("w").alias("w1"),
                                    F.col("cw").alias("cw_r"))
    v_r = model_raw["vocab"].select(F.col("v").alias("v_r"))

    def _logp(cb: str, cw: str, v: str):
        return F.log(
            (F.coalesce(F.col(cb), F.lit(0)).cast("double") + 1.0)
            / (F.coalesce(F.col(cw), F.lit(0)).cast("double")
               + F.col(v).cast("double")))

    scored = (
        bi.join(big_t, ["w1", "w2"], "left")
        .join(uni_t, ["w1"], "left")
        .crossJoin(F.broadcast(v_t))
        .join(big_r, ["w1", "w2"], "left")
        .join(uni_r, ["w1"], "left")
        .crossJoin(F.broadcast(v_r))
        .select(
            F.col(id_col),
            F.round(_logp("cb_t", "cw_t", "v_t") * 1_000_000, 0)
            .cast("long").alias("_ft"),
            F.round(_logp("cb_r", "cw_r", "v_r") * 1_000_000, 0)
            .cast("long").alias("_fr"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.round(
            F.round(F.sum("_ft").cast("double") / 1_000_000.0
                    / F.count(F.lit(1)), 4)
            - F.round(F.sum("_fr").cast("double") / 1_000_000.0
                      / F.count(F.lit(1)), 4), 4).alias("logw"),
    )


def winnow_fingerprints(docs: DataFrame, k: int = 4, w: int = 5,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Winnowing document fingerprints [Schleimer, Wilkerson, Aiken,
    SIGMOD 2003 -- the MOSS algorithm]: hash every k-gram (ROLLING
    window over the token stream), then keep one hash per window of
    ``w`` consecutive k-grams -- the window MINIMUM, rightmost
    position on ties. Guarantees every match of length >= w + k - 1
    tokens shares at least one selected fingerprint between two
    documents, with density ~2/(w+1) -- the local-substring-match
    detector that whole-doc hashing and bag-of-shingles both miss.

    Output: one row per selected fingerprint (doc_id, pos, fp) with
    pos = 0-based k-gram position -- join on fp to find local
    overlaps.

    Implementation: the computation is md5-bound and strictly
    per-document, so it runs as ONE Arrow kernel over (id,
    normalized_text): each k-gram is a byte slice of the token stream
    (``token_starts``) hashed with C hashlib (``md5_60`` == md5_long),
    and the per-window rightmost-argmin selection is a vectorized numpy
    sliding-window pass over the int64 hash sequence. NULL documents
    are dropped, as the posexplode form this replaced dropped them.
    Earlier forms, all hash-equal against the same DuckDB oracle: direct
    array expressions ~12 s at sf0.1 (transform()/filter() are
    CodegenFallback); a run-length lag/lead form ~1.5 s; this kernel
    ~0.5 s.

    Scale: ONE cheap shuffle of the compact (id, text) rows (small
    corpora arrive as one parquet split and would serialize the
    hashing), then a single scan-shaped kernel pass; the exploded token
    rows never exist Spark-side. Fp keys are uniform 60-bit hashes for
    the downstream overlap join.
    """
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType([
        StructField(id_col, docs.schema[id_col].dataType),
        StructField("pos", LongType()),
        StructField("fp", LongType()),
    ])
    k_, w_ = int(k), int(w)

    def _winnow(batch):
        import numpy as np

        out_ids, out_pos, out_fp = [], [], []
        for rid, s in zip(batch.column(0).to_pylist(),
                          batch.column(1).to_pylist()):
            if s is None:
                continue
            b = s.encode()
            starts = token_starts(s, b)
            n_g = len(starts) - k_  # == n_tokens - k + 1
            if n_g < 1:
                continue
            fps = np.fromiter((md5_60(b[starts[i]:starts[i + k_] - 1])
                               for i in range(n_g)), dtype=np.int64,
                              count=n_g)
            ww = w_ if w_ < n_g else n_g
            win = np.lib.stride_tricks.sliding_window_view(fps, ww)
            # rightmost argmin per window: argmin over the reversed
            # window gives the offset from the right
            m = (ww - 1) - np.argmin(win[:, ::-1], axis=1)
            sel = np.unique(m + np.arange(win.shape[0]))
            out_ids.extend([rid] * len(sel))
            out_pos.extend(sel.tolist())
            out_fp.extend(fps[sel].tolist())
        return out_ids, out_pos, out_fp

    return map_arrow(docs, [F.col(id_col),
                            normalized_text(text_col).alias("_nt")],
                     out_schema, _winnow, partition_by=id_col)


def winnow_overlap_pairs(docs: DataFrame, k: int = 4, w: int = 5,
                         min_shared: int = 2, max_bucket: int = 50,
                         id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """Local-overlap candidate pairs from winnowing fingerprints: all
    doc pairs sharing >= ``min_shared`` selected fingerprints, with
    the shared count — the plagiarism/partial-copy detector layer on
    top of winnow_fingerprints (pairs surface even when only a
    paragraph is copied; whole-doc near-dup metrics dilute that).

    Scale shape: the SAME bucketed-pair discipline as MinHash-LSH —
    one (doc, fp) dedupe, fingerprints occurring in > ``max_bucket``
    docs are dropped as boilerplate BEFORE the self-join (the
    degenerate-bucket cap; a fp shared by 10^5 docs is a template,
    not a copy, and would cost 10^10 pairs), then the pair join runs
    bucket-keyed on the uniform 60-bit fp with one (id_a, id_b)
    count aggregation. No all-pairs join anywhere.
    """
    from .dedup import _tracked_persist

    # persist: the (id, fp) frame feeds the bucket-size aggregation
    # AND both sides of the pair self-join — unpersisted, the
    # broadcast joins leave no common exchange to reuse and the
    # window-heavy winnowing subtree runs FOUR times (plan-audited:
    # 4 scans / 12 Window nodes -> 1 scan; the same discipline as
    # minhash_lsh_pairs' signature frame). At 100 TB the selected
    # fingerprints are the stored artifact this persist stands in for.
    fps = _tracked_persist(
        winnow_fingerprints(docs, k, w, id_col, text_col)
        .select(F.col(id_col), "fp")
        .distinct()
    )
    sizes = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("_nd"))
    usable = sizes.where((F.col("_nd") >= 2) & (F.col("_nd") <= max_bucket))
    fk = fps.join(usable.select("fp"), "fp")
    a, b = fk.alias("a"), fk.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(docs: DataFrame, min_words: int = 50,
                 max_words: int = 100_000,
                 min_mean_word_len: float = 3.0,
                 max_mean_word_len: float = 10.0,
                 max_symbol_ratio: float = 0.1,
                 min_alpha_frac: float = 0.8,
                 min_stop_hits: int = 2,
                 id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Gopher-style rule-based quality gate (Rae et al. 2021, "Scaling
    Language Models: ... Gopher", table A1): per document, the five
    core repetition-free document rules as explicit boolean columns
    plus the conjunction ``keep`` —
      r_word_count:    min_words <= #words <= max_words
      r_mean_word_len: mean word length in [min, max]
      r_symbol_ratio:  ('#' chars + '...' occurrences) / #words <= max
      r_alpha_words:   fraction of words containing an alphabetic
                       char >= min_alpha_frac
      r_stop_words:    >= min_stop_hits DISTINCT stop words present
    (Gopher's line-shape rules — bullet/ellipsis line fractions — are
    newline-dependent; the repetition rules live in repetition_stats.)

    Words are the RAW text split on collapsed whitespace (quality
    rules must see punctuation/casing, unlike the dedup tokenizer).
    Pure per-row projection: shuffle-free, runs at parquet scan speed
    with only the text column read; filters composed on ``keep``
    push down to the scan.
    """
    raw_words = F.split(F.trim(F.regexp_replace(F.col(text_col),
                                                "\\s+", " ")), " ")
    n_words = F.size(raw_words).cast("long")
    n_den = F.greatest(n_words, F.lit(1))
    mean_wl = (
        F.aggregate(raw_words, F.lit(0).cast("double"),
                    lambda acc, w: acc + F.length(w))
        / n_den
    )
    n_hash = (F.length(F.col(text_col))
              - F.length(F.regexp_replace(F.col(text_col), "#", "")))
    n_ellipsis = (
        (F.length(F.col(text_col))
         - F.length(F.replace(F.col(text_col), F.lit("..."), F.lit(""))))
        / F.lit(3)
    ).cast("long")
    symbol_ratio = (n_hash + n_ellipsis).cast("double") / n_den
    alpha_frac = (
        F.size(F.filter(raw_words, lambda w: w.rlike("[a-zA-Z]")))
        .cast("double") / n_den
    )
    lower_words = F.transform(raw_words, lower_text)
    stop_hits = sum(
        (F.array_contains(lower_words, s).cast("long")
         for s in GOPHER_STOPWORDS),
        F.lit(0).cast("long"),
    )
    r_wc = (n_words >= min_words) & (n_words <= max_words)
    r_mwl = ((mean_wl >= min_mean_word_len)
             & (mean_wl <= max_mean_word_len))
    r_sym = symbol_ratio <= max_symbol_ratio
    r_alpha = alpha_frac >= min_alpha_frac
    r_stop = stop_hits >= min_stop_hits
    return docs.select(
        F.col(id_col),
        n_words.alias("n_words"),
        F.round(mean_wl, 4).alias("mean_word_len"),
        F.round(symbol_ratio, 4).alias("symbol_ratio"),
        F.round(alpha_frac, 4).alias("alpha_word_frac"),
        stop_hits.alias("n_stop_hits"),
        r_wc.cast("long").alias("r_word_count"),
        r_mwl.cast("long").alias("r_mean_word_len"),
        r_sym.cast("long").alias("r_symbol_ratio"),
        r_alpha.cast("long").alias("r_alpha_words"),
        r_stop.cast("long").alias("r_stop_words"),
        (r_wc & r_mwl & r_sym & r_alpha & r_stop).cast("long")
        .alias("keep"),
    )


def overlap_topk(docs: DataFrame, queries: DataFrame, k: int = 5,
                 id_col: str = "doc_id",
                 text_col: str = "text",
                 qid_col: str = "query_id",
                 qtext_col: str = "query_text") -> DataFrame:
    """Boolean-overlap retrieval: rank documents by how many DISTINCT
    query tokens they contain (the unweighted baseline BM25 improves
    on — and the cheap second signal hybrid fusion wants). Output
    (query_id, doc_id, n_overlap, rnk), ties by doc_id asc.

    Scale shape: distinct (doc, token) posting list (one shuffle,
    shared with the BM25 index at scale), broadcast query tokens,
    per-query top-k via WindowGroupLimit."""
    from pyspark.sql import Window

    toks = docs.select(
        F.col(id_col),
        F.explode(F.array_distinct(
            F.split(normalized_text(text_col), " "))).alias("token"),
    ).where(F.col("token") != "")
    qt = queries.select(
        F.col(qid_col),
        F.explode(F.array_distinct(
            F.split(normalized_text(qtext_col), " "))).alias("token"),
    ).where(F.col("token") != "")
    scored = (
        F.broadcast(qt).join(toks, "token")
        .groupBy(qid_col, id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_overlap"))
    )
    w = Window.partitionBy(qid_col).orderBy(
        F.col("n_overlap").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(F.col(qid_col), F.col(id_col), "n_overlap",
                F.col("rnk").cast("long").alias("rnk"))
    )


def overlap_topk_from_postings(postings: DataFrame, queries: DataFrame,
                               k: int = 5, id_col: str = "doc_id",
                               qid_col: str = "query_id",
                               qtext_col: str = "query_text") -> DataFrame:
    """Probe-only boolean-overlap retrieval against an already-built
    (id, token) posting table — in production the BM25 index's tf
    table serves double duty (its (doc, token) key IS the distinct
    posting list), so the hybrid-retrieval overlap leg reads a stored
    artifact instead of re-tokenizing the corpus (VERDICT r5 #3).
    Identical output to overlap_topk on the corpus the postings were
    built from (test-asserted). ``postings`` must be unique on
    (id, token) — tf's grain guarantees it, so no dedup shuffle is
    spent here."""
    from pyspark.sql import Window

    toks = postings.select(F.col(id_col), F.col("token"))
    qt = queries.select(
        F.col(qid_col),
        F.explode(F.array_distinct(
            F.split(normalized_text(qtext_col), " "))).alias("token"),
    ).where(F.col("token") != "")
    scored = (
        F.broadcast(qt).join(toks, "token")
        .groupBy(qid_col, id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_overlap"))
    )
    w = Window.partitionBy(qid_col).orderBy(
        F.col("n_overlap").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(F.col(qid_col), F.col(id_col), "n_overlap",
                F.col("rnk").cast("long").alias("rnk"))
    )


def rrf_fuse(ranked: list[DataFrame], k_rrf: int = 60, topk: int = 5,
             qid_col: str = "query_id",
             id_col: str = "doc_id") -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009): fuse any number
    of per-query rankings — each input needs (query_id, doc_id, rnk)
    — by score(d) = sum over lists of 1/(k_rrf + rank_list(d)).
    The standard way to combine lexical and dense retrieval without
    score calibration, since only RANKS enter the sum.

    Each reciprocal is floored to a 1e-9 fixed-point long before
    summing (floor(1e9/(k+rnk))), so the fused score is an integer
    both engines compute bit-identically, in any input order. Output:
    (query_id, doc_id, rrf_score, n_lists, rnk), ties by doc_id.

    Scale shape: inputs are already tiny (n_queries x k rows each);
    one union + one groupBy + one WindowGroupLimit rank."""
    from functools import reduce

    from pyspark.sql import Window

    if not ranked:
        raise ValueError("rrf_fuse needs at least one ranking")
    parts = [
        df.select(F.col(qid_col), F.col(id_col), F.col("rnk"))
        for df in ranked
    ]
    u = reduce(lambda a, b: a.unionByName(b), parts)
    term = F.floor(F.lit(1_000_000_000).cast("double")
                   / (F.lit(int(k_rrf)) + F.col("rnk"))).cast("long")
    fused = (
        u.select(qid_col, id_col, term.alias("_t"))
        .groupBy(qid_col, id_col)
        .agg(F.sum("_t").cast("long").alias("_s"),
             F.count(F.lit(1)).cast("long").alias("n_lists"))
    )
    w = Window.partitionBy(qid_col).orderBy(
        F.col("_s").desc(), F.col(id_col).asc())
    return (
        fused.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= topk)
        .select(
            F.col(qid_col), F.col(id_col),
            F.round(F.col("_s").cast("double") / 1_000_000_000.0, 6)
            .alias("rrf_score"),
            "n_lists", F.col("rnk").cast("long").alias("rnk"),
        )
    )


def group_quantiles(docs: DataFrame, group_col: str = "source",
                    text_col: str = "text",
                    probs: tuple[float, ...] = QUANTILE_PROBS) -> DataFrame:
    """corpus_quantiles PER GROUP: exact interpolated length quantiles
    keyed by a grouping column (source, lang, split...) — the
    per-bucket telemetry a mixture pipeline thresholds against
    (per-source truncation lengths, per-source short-doc floors).

    Same engine-parity contract as corpus_quantiles (Spark
    ``percentile`` == DuckDB ``quantile_cont``), now with one
    shuffle on the group key and map-side partial aggregation; output
    is one row per group. At 100 TB: groups are few (sources), so the
    reduce side is tiny; swap in approx_percentile for the mergeable
    sketch form exactly as corpus_quantiles documents.
    """
    n_chars = F.length(F.col(text_col)).cast("double")
    n_ws = F.size(F.split(normalized_text(text_col), " ")).cast("double")
    measured = docs.select(
        F.col(group_col), n_chars.alias("_nc"), n_ws.alias("_nt"))
    aggs = [F.count(F.lit(1)).cast("long").alias("n_docs")]
    for p in probs:
        tag = str(int(p * 100))
        aggs.append(F.round(F.percentile("_nc", p), 4).alias(f"chars_p{tag}"))
        aggs.append(F.round(F.percentile("_nt", p), 4).alias(f"tokens_p{tag}"))
    return measured.groupBy(group_col).agg(*aggs)


# ------------------------------------------------------------------ PII

# Engine-portable PII patterns: no backreferences or lookaround, so
# the same pattern compiles identically under Java regex (Spark) and
# RE2 (DuckDB) — the cross-engine contract every oracle-gated regex
# in this repo follows (TOKEN_RE precedent).
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\b\d{2}-\d{3}-\d{3}-\d{4}\b",   # TPC-H c_phone shape
    "ip": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}


def pii_scrub(docs: DataFrame, id_col: str = "doc_id",
              text_col: str = "text",
              patterns: dict[str, str] | None = None) -> DataFrame:
    """Rule-based PII redaction — the scrubbing pass every public
    pre-training corpus runs before tokenization (C4 removed
    offensive lines; Dolma/FineWeb redact emails, phone numbers and
    IPs with exactly this regex-rules shape). Per document: count
    each PII class in the raw text, then replace every occurrence
    with its ``<CLASS>`` placeholder, applying the classes in
    deterministic dict order (email before phone before ip by
    default — the patterns are disjoint on real text, but the order
    is still fixed so engines can't disagree on overlaps).

    Pure per-row projection (regexp_count + chained regexp_replace,
    all JVM codegen): shuffle-free, no UDF, runs at parquet scan
    speed with only the text column read — at 100 TB this is a
    map-only pass that fuses into whatever scan feeds it. Returns
    (id, n_<class>... , scrubbed) — counts long, scrubbed the
    redacted text."""
    pats = PII_PATTERNS if patterns is None else patterns
    cols = [F.col(id_col)]
    for name, pat in pats.items():
        cols.append(F.regexp_count(F.col(text_col), F.lit(pat))
                    .cast("long").alias(f"n_{name}"))
    scrubbed = F.col(text_col)
    for name, pat in pats.items():
        scrubbed = F.regexp_replace(scrubbed, pat, f"<{name.upper()}>")
    cols.append(scrubbed.alias("scrubbed"))
    return docs.select(*cols)
