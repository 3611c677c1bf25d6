"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

The LAST stdout line is ONE compact JSON summary that always fits the
driver's ~2 KB tail-capture window (VERDICT r11 #1):
{"metric": ..., "value": total_sec, "unit": "sec", "sf": ...,
 "degraded": ..., "n_rows": ..., "queries_file": "bench_out.json"}
The full payload (per-query walls, plan fingerprints, adjudication
evidence) is written to bench_out.json at the repo root — it outgrew
the tail window twice (BENCH_r06, BENCH_r11), so it is file-only now.
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from flink_user_behavior_analysis_spark import queries as Q
from flink_user_behavior_analysis_spark.session import get_spark

HEADLINE = [
    "hot_items",
    "hot_pages",
    "page_views",
    "unique_visitors",
    "unique_visitors_approx",
    "marketing_by_channel",
    "ad_stats_by_province",
    "login_fail",
    "order_timeout",
    "tx_match",
    "blacklist_warnings",
    "sessionize_users",
    "purchase_attribution",
    "pricing_summary",
    "revenue_by_nation",
    "top_customers_per_segment",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_clusters",
    "dedup_simhash",
    "dedup_embedding_cosine",
    "dedup_embedding_cosine_lsh",
    "ann_topk",
    "ann_topk_lsh",
    "ann_topk_lsh_mp",
    "ann_topk_ivf",
    "quantize_embeddings",
    "lang_centroids",
    "text_stats",
    "token_vocab",
    "repetition_stats",
    "tfidf_top_terms",
    "contamination",
    "chunk_docs",
    "pack_sequences",
    "dedup_keeper_quality",
    "dedup_incremental",
    "curation_pipeline",
    "doc_fingerprints",
    "doc_split",
    "multimodal_decode",
    # round-4 additions (PERF.md: r3-comparable subtotal excludes these)
    "bm25_topk",
    "source_stats",
    "chunk_containment",
    "dedup_clusters_star",
    "lm_score",
    "mixture_sample",
    "winnow_fingerprints",
    "winnow_overlap",
    "pca_embed",
    "heavy_hitters",
    # round-5 additions: stored-artifact probe paths. The first call
    # builds+writes the index/LM tables; min-of-2 timing therefore
    # reports the steady-state PROBE wall — the flat production shape
    # (compare with the inline bm25_topk / lm_score entries above)
    "bm25_topk_stored",
    "lm_score_stored",
    "duplicated_spans",
    "gopher_quality",
    "ann_topk_pq",
    "hybrid_retrieval",
    "source_quantiles",
    "ann_topk_ivfpq",
    "funnel_conversion",
    "retention_weekly",
    "ann_topk_pq_stored",
    "duplicated_spans_inc",
    "error_spikes",
    "shipping_priority",
    "returned_customers",
    # round-6 additions: the two stored-serving twins that close r5's
    # perf-weak findings (compare ann_topk_ivfpq / hybrid_retrieval
    # inline entries above — the stored probes should be near-flat),
    # plus the substring-cut transform
    "ann_topk_ivfpq_stored",
    "hybrid_retrieval_stored",
    "remove_dup_spans",
    "large_volume_orders",
    "priority_late_orders",
    # round-6 product-analytics rollups (trailing-window distinct,
    # session telemetry, ntile LTV deciles, JSON-props parse)
    "dau_stickiness",
    "session_stats",
    "revenue_deciles",
    "props_topk",
    # round-6 stored-corpus incremental probes (compare the inline
    # dedup_incremental / duplicated_spans_inc entries — the probe
    # pays only batch-side work)
    "dedup_incremental_stored",
    "duplicated_spans_inc_stored",
    "source_overlap",
    # round-7 additions: SemDeDup (literal-centroid projection +
    # cluster-local pair join) and the Q7-shape broadcast-dim rollup
    "dedup_semantic",
    # r13: the stored-probe twin joined the headline when its pair
    # legs moved to the GEMM kernels — the serving path the sf1
    # study certified (SQL fold 80.6 s vs GEMM 4.68 s at a 6k-row
    # batch, PERF.md r13) is now tracked per-round like the other
    # stored probes
    "dedup_semantic_stored",
    "nation_trade_flows",
    # round-8 additions: regex PII redaction (shuffle-free scan
    # projection — the map-only floor for a text pass) and the
    # second-batch relational shapes (Q15 scalar-max reuse, Q19
    # disjunctive pushdown, Q2 per-group-min decorrelation)
    "pii_scrub",
    "top_revenue_supplier",
    "discounted_band_revenue",
    "cheapest_supplier_per_part",
    "promo_revenue_share",
    "nation_market_share",
    "forecast_revenue_change",
    "customer_order_distribution",
    # round-9 additions: the Q9 compound-key fact-to-fact join in both
    # forms (the bucketed twin's min-of-N is the steady-state
    # exchange-free probe; its first run pays the bucketed build) and
    # the real-format header parse (Arrow map over binary payloads)
    "profit_by_nation_year",
    "profit_by_nation_year_bucketed",
    "multimodal_headers",
    # DSIR-style importance-weighted selection (two bigram LMs +
    # smoothed likelihood-ratio scoring + global top-k) and its
    # Gumbel-top-k resampling twin
    "dsir_select",
    "dsir_resample",
    # round-10: DSIR stored twins (VERDICT r9 #4) — both LMs stored,
    # scoring probe-only; min-of-N is the steady-state probe wall
    # (resample shares select's LM artifacts -> shared_artifact row)
    "dsir_select_stored",
    "dsir_resample_stored",
    # temperature-scaled source mixing (mT5 alpha-sampling): in-plan
    # rates from a broadcast count dim, shuffle-free fact scan
    "mixture_temperature",
    # stored decontamination: eval set probes the bucketed corpus
    # gram_fp inverted index — corpus text never rescanned
    "contamination_stored",
    # round-11: image perceptual-hash dedup over the real PPM codec —
    # one Arrow hash pass, then hash-space groupBy / pigeonhole-banded
    # hamming join (never all-pairs). neardup bands the 60-bit
    # aHash||dHash into 15-bit chunks (the 32-bit/8-bit-chunk config
    # measured 107x at sf1 — bucket saturation; see PERF.md r11)
    "image_phash_dedup",
    "image_phash_neardup",
    # round-11b: as-of join with the engine-native DuckDB ASOF oracle
    # (union-tag + running window, one shuffle on user_id)
    "purchase_asof_view",
    # forward as-of (time-to-next-error), same operator scanned in
    # reverse, native-ASOF-oracled
    "click_asof_next_error",
    # corpus snapshot diff (data versioning): hash-width full-outer
    # join, document text never shuffles
    "snapshot_diff",
    # C4/RefinedWeb-style per-domain cap audit: one keyed window +
    # map-side-combinable groupBy
    "source_frequency_cap",
    # stored-fingerprint snapshot diff: old corpus text never reread,
    # hash-width co-partitioned probe
    "snapshot_diff_stored",
    # ANN recall@k eval harness: both legs reuse registered operators,
    # |Q| x k join rows regardless of corpus size
    "ann_recall_lsh",
    "ann_recall_lsh_mp",
    "ann_recall_ivfpq_stored",
    "ann_recall_pq_stored",
    # round-14 (VERDICT r13 #3): EVERY registered query gets a wall —
    # 25 rows had correctness gates but no per-round timing, so a
    # perf regression in any of them was invisible to the cross-round
    # adjudicator. Policy (test-gated by
    # test_headline_covers_every_registered_query): HEADLINE must
    # equal the registry; a new queries() entry without a bench row
    # fails the suite. Stored/serving rows are ordered after the rows
    # that build their artifacts (shared_artifact attribution).
    "semdedup_drift",
    "ann_topk_filtered_stored",
    "ann_topk_ivf_trained",
    "sessionize_users_native",
    "marketing_total",
    "blacklist_filtered",
    "login_fail_cep",
    "login_fail_fb",
    "tx_interval_join",
    "view_then_purchase",
    "language_id",
    "dedup_ngram_jaccard",
    "dedup_embedding_cosine_lsh_mt",
    "corpus_quantiles",
    "corpus_quantiles_approx",
    "sample_docs",
    "stratified_sample",
    "revenue_rollup",
    "idle_rich_customers",
    "small_qty_revenue",
    "sole_late_suppliers",
    "supplier_part_variety",
    "multimodal_meta",
    "media_resize",
    "frame_sample",
]

# Train-vs-serve split (VERDICT r7 #3): these inline entries refit
# their model — and rescan brute-force truth — on EVERY call; they are
# self-certifying correctness forms, not the serving path. Their
# stored twins are the serving path: the twin's FIRST timed run at the
# bench SF is build-inclusive when the artifact did not pre-exist, the
# min over later runs is the steady-state probe. The JSON's
# "train_vs_serve" block reports all three walls so the 2x perf gate
# can track the probe (what a cluster serves) while the fit cost stays
# visible instead of polluting the headline row. The third field is
# the stored artifact's CATALOG PREFIX (sans sf tag): the build wall
# is attributed explicitly by checking index_ready before the first
# timed run (ADVICE r8) — if the artifact already existed (e.g.
# hybrid reuses bm25's index, or the warmup fell back to the bench
# SF), the JSON says shared_artifact instead of a misleading ~0.
TRAIN_INCLUSIVE = {
    "ann_topk_pq": ("ann_topk_pq_stored", "pq"),
    "ann_topk_ivfpq": ("ann_topk_ivfpq_stored", "ivfpq"),
    "hybrid_retrieval": ("hybrid_retrieval_stored", "bm25"),
    "bm25_topk": ("bm25_topk_stored", "bm25"),
    "lm_score": ("lm_score_stored", "lm"),
    # not a model fit, but the same inline-vs-stored economics: the
    # inline Q9 recomputes the compound-key cost aggregate per call,
    # the bucketed twin's first run writes both bucketed tables
    "profit_by_nation_year": ("profit_by_nation_year_bucketed", "q9b"),
    # dsir_select refits BOTH LMs per call; the stored twin probes
    # two lm_store_model artifacts (raw + target — index_ready on the
    # raw prefix is the build-attribution proxy; both build in the
    # twin's first run)
    "dsir_select": ("dsir_select_stored", "dsirraw"),
    "dsir_resample": ("dsir_resample_stored", "dsirraw"),
    # inline snapshot_diff refingerprints BOTH versions per call; the
    # stored twin probes the previous version's fps artifact
    "snapshot_diff": ("snapshot_diff_stored", "snapfp"),
    # inline contamination re-shingles the whole corpus per eval
    # release; the stored twin probes the gram_fp inverted index
    "contamination": ("contamination_stored", "contam"),
    # inline semantic_dedup re-assigns and pair-decides the WHOLE
    # corpus per call; the stored twin probes the cell-partitioned
    # corpus artifact with batch-side-only assignment (r13)
    "dedup_semantic": ("dedup_semantic_stored", "semdd"),
}

# Self-adjudication (VERDICT r8 #2): this VM's load swings single-shot
# walls up to ~5x (r9 A/B: dedup_clusters 12.7s vs 2.6s back-to-back,
# same code). When a row's two timings disagree by more than
# DISAGREE_RATIO, the row reruns (up to MAX_EXTRA_RUNS more) so its
# min is taken from a window long enough to dodge the load spike —
# and the JSON records the full timing vector for any row that needed
# it, plus os.getloadavg() at start/end, so a cross-round delta can
# be read against the machine state without manual forensics.
DISAGREE_RATIO = 1.5
MAX_EXTRA_RUNS = 2

# Cross-round self-adjudication (VERDICT r9 #2): intra-run reruns
# catch load SPIKES, but a sustained episode spanning every run of a
# row sails through them — exactly how the committed r9 artifact
# shipped five rows at ~2x their r8 walls with zero code change
# (load.start ~ 6 for the whole pass). So each row's min is ALSO
# compared against the previously committed bench_out.json (the git
# HEAD copy, which is the last shipped artifact): a row slower than
# CROSS_ROUND_RATIO x its committed wall earns up to
# CROSS_EXTRA_RUNS more timings before we accept the regression, and
# any row still over the ratio after that is listed in the JSON's
# "cross_round_regressions" block with both walls so a reader never
# has to diff artifacts by hand.
CROSS_ROUND_RATIO = 1.5
CROSS_EXTRA_RUNS = 2

# Small-row band policy (r13, generalizing VERDICT r10 #3's per-row
# pins): EVERY cross-round flag ever adjudicated on a sub-second row
# turned out to be the VM/JVM-warmth band, not a plan defect —
# contamination (r10/r11: quiet minima 0.75-1.83 s, interpreter CPU
# sensitivity), purchase_asof_view (r12: 0.22 s warmed best vs
# 0.38-0.43 s fresh floor), lang_centroids (r13: 0.503 s warmed best
# vs 0.63-0.80 s fresh floor, driver's 1.048 on the fresh first-run
# band), mixture_sample and multimodal_headers (r13: 0.149->0.230 s
# and 0.522->0.788 s same-day quiet shifts, plans byte-stable). The
# band is multiplicative ~2x and independent of the row, so instead
# of accumulating hand pins one flag per round, rows whose COMMITTED
# wall is under SMALL_ROW_WALL get SMALL_ROW_RATIO: a <1 s row's
# 1.5-2.5x swing carries no scale signal on this machine, while a
# plan-shape change on the same row still reports via the
# fingerprint (cross_round_expected_changes) regardless of ratio.
# Rows >= 1 s keep the tight global ratio — a sustained 1.5x there
# has always been worth a human look. CROSS_ROUND_RATIO_OVERRIDE
# remains as the named-row escape hatch for rows whose DOCUMENTED
# quiet band straddles SMALL_ROW_WALL (ADVICE r13: contamination's
# PERF-studied band is 0.75-1.83 s — a round that commits it just
# above 1 s would revert to the tight ratio and the next fresh
# session's 1.8 s floor would reopen per-round re-litigation; keying
# the band on min(prev, now) instead is a no-op, since a flag
# requires now > prev, making min == prev). These are band pins with
# a cited study, not the per-flag hand pins r13 retired.
SMALL_ROW_WALL = 1.0
SMALL_ROW_RATIO = 2.5
CROSS_ROUND_RATIO_OVERRIDE: dict[str, float] = {
    "contamination": SMALL_ROW_RATIO,         # PERF r10/r11 band study
    "contamination_stored": SMALL_ROW_RATIO,  # same scan, same band
}


def _cross_round_ratio(name: str, prev) -> float:
    """Effective cross-round flag ratio for one row: named override,
    else the small-row band ratio when the committed wall is under
    SMALL_ROW_WALL, else the global ratio."""
    if name in CROSS_ROUND_RATIO_OVERRIDE:
        return CROSS_ROUND_RATIO_OVERRIDE[name]
    if prev is not None and prev < SMALL_ROW_WALL:
        return SMALL_ROW_RATIO
    return CROSS_ROUND_RATIO

# Load guard (VERDICT r9 #1): the r9 artifact was captured under ~6
# cores of background load and its numbers were ~17-26% inflated —
# the instrumentation recorded the episode but nothing acted on it.
# Refuse to start when the 1-min loadavg exceeds the threshold;
# SPARK_GRAFT_BENCH_FORCE=1 overrides but stamps the JSON
# "degraded": true so round-close tooling can reject the artifact.
#
# Wait-for-idle (VERDICT r10 #2): a hard refusal made the driver's
# official BENCH_r10.json an empty rc-2 stamp because the bench ran
# right after the correctness pass (loadavg 5.98, decaying). Instead
# of refusing immediately, poll the 1-min loadavg for up to
# SPARK_GRAFT_BENCH_WAIT_SEC (default 600 s) and start the moment it
# drops under the guard; refuse only on timeout. The wait is recorded
# in the JSON's "load" block so a reader can see the episode.
LOAD_GUARD = 2.0
WAIT_FOR_IDLE_SEC = float(os.environ.get("SPARK_GRAFT_BENCH_WAIT_SEC",
                                         "600"))
WAIT_POLL_SEC = 15.0

# Per-ROW load threshold for cross-round auto-adjudication (VERDICT
# r12 #4) — deliberately NOT the idle-start guard above: once the
# bench is running, its OWN 32-thread stages drive the 1-min loadavg
# to 2.4-8.7 on a fully quiet machine (measured over all 108 rows of
# the r13 calibration run, p50 5.2 / p90 7.0 / max 8.7 — artifact
# row_load block). A per-row threshold at the idle guard would
# classify every over-ratio row as load-suspect and blind the
# adjudicator. Set above the quiet self-envelope: a row whose window
# reads over this is carrying the bench's own load PLUS multiple
# cores of ambient interference — the r12 driver-run storm class
# (props_topk 20.6/26.7 s outliers), not the quiet band.
#
# ADVICE r13: a static 11.0 is NOT self-calibrating — the committed
# r13 artifact's own quiet row_load already peaked at 11.08, so a
# quiet heavy row drifting past the constant would auto-downgrade a
# genuine regression to load_suspect. The constant is now a FLOOR;
# the effective per-run guard is max(floor, MARGIN x the committed
# artifact's own quiet row_load maximum) — the baseline artifact is
# flag-adjudicated, so its load envelope IS the machine's measured
# quiet self-load at the current suite width, and the guard tracks
# it as the suite grows instead of being re-litigated per round.
# The run also samples loadavg after EVERY timed run, not just the
# row-window endpoints, so a previous row's trailing load cannot be
# the only evidence classifying this one.
ROW_LOAD_GUARD = 11.0
ROW_LOAD_GUARD_MARGIN = 1.25

# Plan fingerprints (VERDICT r10 #6): the cross-round adjudicator
# compared walls blind — every flag needed a human A/B to separate
# "plan changed" from "VM noise". Each row now records a fingerprint
# of its executed physical plan (exprIds / plan ids / codegen ids
# normalized away, so the hash is stable across sessions but moves
# when the plan SHAPE moves). When a row trips the cross-round ratio
# but its fingerprint differs from the committed artifact's, the
# rerun budget is skipped and the row lands in
# "cross_round_expected_changes" instead of
# "cross_round_regressions" — the wall moved because the plan did.
_PLAN_NOISE = None


def _plan_fingerprint(df) -> str:
    """Stable hash of the executed physical plan's shape.

    Normalizes the session-varying tokens (expression ids ``#123``,
    exchange/plan ids ``[plan_id=42]`` / ``[id=#12]``, codegen stage
    ids, JVM object addresses, and the subquery/CTE numbering) so the
    same logical plan fingerprints identically across JVMs, while any
    operator/strategy change (join type, exchange added, filter
    pushed) changes the hash.
    """
    global _PLAN_NOISE
    import hashlib
    import re as _re

    if _PLAN_NOISE is None:
        _PLAN_NOISE = [
            # DataFilters is TRUNCATED at maxMetadataStringLength and
            # contains exprIds whose LENGTH varies per session (#7 vs
            # #103), shifting the truncation point — different text
            # survives, so the field must go entirely. No shape info
            # is lost: the Filter node and PushedFilters print in full.
            (_re.compile(r"DataFilters: \[.*?(?=, Format: )",
                         _re.DOTALL), "DataFilters: ["),
            # Location holds the warehouse dir (process-random in
            # tests) and the file COUNT (varies with appends) — the
            # catalog table name / ReadSchema identify the scan
            (_re.compile(r"Location: .*?(?=, PartitionFilters: )",
                         _re.DOTALL), "Location: "),
            (_re.compile(r"#\d+"), "#"),
            # higher-order-function lambda vars number off a
            # session-global counter (lambda x_1 vs x_17)
            (_re.compile(r"_\d+#"), "_#"),
            (_re.compile(r"plan_id=\d+"), "plan_id="),
            (_re.compile(r"\[id=#?\d*\]"), "[id=]"),
            (_re.compile(r"\(\d+\)"), "()"),        # codegen stage ids
            (_re.compile(r"@[0-9a-fA-F]{6,}"), "@"),  # object addresses
            (_re.compile(r"cte_\d+|subquery\d+"), "cte"),
        ]
    plan = df._jdf.queryExecution().executedPlan().toString()
    for pat, rep in _PLAN_NOISE:
        plan = pat.sub(rep, plan)
    return hashlib.md5(plan.encode()).hexdigest()[:12]


def _prev_committed_bench(
        here: str | None = None,
        sf=None) -> tuple[dict[str, float], dict[str, str], float]:
    """Per-query (walls, plan fingerprints, quiet self-load max) from
    the last COMMITTED bench_out.json. The third element is the
    maximum 1-min loadavg the committed (flag-adjudicated, quiet)
    run recorded across its row windows — the measured self-envelope
    that calibrates this run's ROW_LOAD_GUARD (ADVICE r13); 0.0 when
    there is no usable baseline.

    Reads the git-HEAD copy (not the working tree, which a prior
    aborted run may have overwritten); falls back to the on-disk file
    when git is unavailable. Empty dicts disable cross-round checks —
    also returned when the committed artifact is degraded, was
    captured at a DIFFERENT scale factor than ``sf`` (an sf1 scaling
    pass compared against sf0.1 walls would flag every row and burn
    the extra-run budget on expected deltas), or was measured under a
    DIFFERENT consumer (count()-pruned walls vs full-column walls are
    not the same quantity — see _consume).
    """
    import subprocess

    if here is None:
        here = os.path.dirname(os.path.abspath(__file__))
    raw = None
    try:
        raw = subprocess.run(
            ["git", "-C", here, "show", "HEAD:bench_out.json"],
            capture_output=True, text=True, timeout=10,
        ).stdout or None
    except Exception:
        raw = None
    if raw is None:
        try:
            with open(os.path.join(here, "bench_out.json")) as fh:
                raw = fh.read()
        except OSError:
            return {}, {}, 0.0
    try:
        prev = json.loads(raw)
    except (ValueError, TypeError):
        return {}, {}, 0.0
    queries = prev.get("queries", {})
    # a degraded artifact's walls are not a baseline worth chasing
    if prev.get("degraded"):
        return {}, {}, 0.0
    if sf is not None and prev.get("sf") != sf:
        return {}, {}, 0.0
    if prev.get("consumer") != CONSUMER_VERSION:
        return {}, {}, 0.0
    fps = prev.get("plan_fp", {})
    rl = prev.get("row_load", {})
    self_load = 0.0
    if isinstance(rl, dict):
        self_load = max((float(x) for v in rl.values()
                         if isinstance(v, list) for x in v), default=0.0)
    return ({k: float(v) for k, v in queries.items()},
            {k: str(v) for k, v in fps.items()} if isinstance(fps, dict)
            else {}, self_load)


#: Stamped into the artifact; a committed baseline from a DIFFERENT
#: consumer is not comparable (see _consume) and is dropped by
#: _prev_committed_bench rather than flagging every row once.
CONSUMER_VERSION = "fullhash1"


def _consume(df) -> int:
    """Materialize EVERY output column, not just the row count.

    Timing `df.count()` measures whatever survives column pruning:
    a query ending in computed projections (the as-of match columns,
    regex scrubs, header parses) gets its window/compute pruned out
    of the counted plan entirely — the r12 as-of skew study first
    "measured" a window-free plan this way (PERF.md r12). A single
    xxhash64 across all columns forces each column's computation for
    ~hash cost, and the count still comes back for the rows= audit.
    The modulo bounds each term to <1e6 so the ANSI long sum cannot
    overflow below ~9e12 rows (ADVICE r12: the old 1e12 modulo left
    a worst-case overflow at ~9.2M rows, and under ANSI mode an
    overflow would abort the timed run); the hash itself — the work
    the consumer exists to force — is unchanged, so walls stay
    comparable under the same consumer version."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*[F.col(c) for c in df.columns])
              % F.lit(10**6)).alias("h"),
    ).collect()[0]
    return int(row["n"])


def _classify_cross_round(prev, now: float, ratio: float,
                          plan_changed: bool,
                          row_load: list[float],
                          guard: float | None = None) -> str | None:
    """Adjudicate one row's cross-round delta (VERDICT r12 #4).

    Returns None (in band), 'expected' (plan fingerprint moved — the
    wall moved because the plan did), 'load_suspect' (plan unchanged
    but the row's run window overlapped 1-min loadavg > LOAD_GUARD —
    the machine-state signature of every hand-adjudicated VM-band
    flag), or 'regression' (over the ratio on an unchanged plan under
    quiet load — the only class that should page a human). The load
    threshold is ROW_LOAD_GUARD, calibrated above the bench's OWN
    quiet-run load envelope (see its comment) — the idle-start guard
    would mark every row suspect."""
    if prev is None or now <= prev * ratio:
        return None
    if plan_changed:
        return "expected"
    if guard is None:
        guard = ROW_LOAD_GUARD
    # the FIRST sample predates this row's runs — a hot neighbor's
    # trailing EWMA must corroborate with at least one sample that
    # overlaps the runs, or a genuine regression behind a hot
    # predecessor would be silently excused (r14 review finding)
    window = row_load[1:] if len(row_load) > 1 else row_load
    if window and max(window) > guard:
        return "load_suspect"
    return "regression"


TAIL_BUDGET_BYTES = 1900  # driver tail-capture is ~2 KB (BENCH_r11)


def _compact_summary(payload: dict) -> dict:
    """The LAST stdout line of a bench run (VERDICT r11 #1).

    The driver keeps only the final ~2 KB of stdout; the full payload
    (106+ per-query walls + plan fingerprints) is ~9 KB and truncated
    mid-blob in BENCH_r06 and BENCH_r11 for two different mechanical
    reasons. This summary is self-contained, carries the headline
    number and the health flags, points at bench_out.json for the
    per-query map, and is guaranteed (test-asserted) to fit the tail
    window regardless of how many queries the registry grows to."""
    summary = {
        "metric": payload["metric"],
        "value": payload["value"],
        "unit": payload["unit"],
        "sf": payload["sf"],
        "degraded": payload["degraded"],
        "n_rows": len(payload.get("queries", {})),
        "n_unstable": len(payload.get("unstable", {})),
        "n_cross_round_regressions":
            len(payload.get("cross_round_regressions", {})),
        "n_load_suspect":
            len(payload.get("cross_round_load_suspect", {})),
        "queries_file": "bench_out.json",
    }
    assert len(json.dumps(summary)) <= TAIL_BUDGET_BYTES
    return summary


def main() -> None:
    # Bounded wait-for-idle (VERDICT r10 #2): don't turn a decaying
    # post-correctness load spike into an empty refusal artifact —
    # poll until the 1-min loadavg drops under the guard, start then,
    # and refuse only if the budget elapses while still hot.
    waited = 0.0
    t_wait0 = time.monotonic()
    while (os.getloadavg()[0] > LOAD_GUARD
           and time.monotonic() - t_wait0 < WAIT_FOR_IDLE_SEC):
        if waited == 0.0:
            print(f"# loadavg {os.getloadavg()[0]:.2f} > {LOAD_GUARD}; "
                  f"waiting for idle (up to {WAIT_FOR_IDLE_SEC:.0f}s, "
                  f"poll every {WAIT_POLL_SEC:.0f}s)", file=sys.stderr)
        time.sleep(WAIT_POLL_SEC)
        waited = round(time.monotonic() - t_wait0, 1)
    load_start = os.getloadavg()
    degraded = load_start[0] > LOAD_GUARD
    if degraded:
        msg = (f"# loadavg {load_start[0]:.2f} > {LOAD_GUARD} after "
               f"waiting {waited:.0f}s — numbers would be "
               f"noise-inflated (r9 shipped ~26% hot)")
        if os.environ.get("SPARK_GRAFT_BENCH_FORCE") != "1":
            print(msg + "; refusing to run. Set SPARK_GRAFT_BENCH_FORCE=1 "
                  "to override (artifact will be stamped degraded).",
                  file=sys.stderr)
            sys.exit(2)
        print(msg + "; SPARK_GRAFT_BENCH_FORCE=1 set, artifact will be "
              "stamped \"degraded\": true.", file=sys.stderr)
    elif waited:
        print(f"# idle after {waited:.0f}s wait "
              f"(loadavg {load_start[0]:.2f})", file=sys.stderr)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    prev_bench, prev_fps, prev_self_load = _prev_committed_bench(sf=sf_val)
    # effective per-row load guard (ADVICE r13): floor, or margin x
    # the committed quiet run's own measured row-load envelope —
    # tracks the suite's self-load as it grows instead of a constant
    # racing it (the r13 artifact's quiet max was already 11.08)
    row_guard = max(ROW_LOAD_GUARD, ROW_LOAD_GUARD_MARGIN * prev_self_load)
    spark = get_spark(app="fuba-bench")
    # Warm every plan shape on the smallest SF first: whole-stage
    # codegen + JIT compilation is per-plan-shape and one-time per JVM
    # (measured: simhash 8.3s cold vs 2.8s warm for identical data).
    # The warmup runs on sf0.001 (~1000 rows) so it compiles the same
    # generated classes without doing the measured work; timings below
    # then reflect steady-state data processing, which is what a
    # long-running cluster actually sees.
    warm_dir = os.environ.get("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    from flink_user_behavior_analysis_spark.operators.dedup import (
        release_signature_cache,
    )

    # Spawn the full Python-worker pool and pay the numpy/pandas import
    # ONCE before any timing: the sf0.001 query warmup below touches
    # only 1-2 partitions, so without this the first sf0.1 Arrow query
    # measured (ann_topk in r3: +155%) absorbs ~30 worker cold-starts.
    def _touch_numpy(batches):
        import numpy as np  # noqa: F401

        for pdf in batches:
            yield pdf

    n_workers = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    (spark.range(0, n_workers * 100, 1, n_workers)
     .mapInPandas(_touch_numpy, "id long").count())

    for name in HEADLINE:
        fn = Q.QUERIES.get(name)
        if fn is not None:
            try:
                _consume(fn(spark, warm_dir))
                release_signature_cache()
            except Exception as exc:  # pragma: no cover
                print(f"# warmup {name} failed: {exc}", file=sys.stderr)

    from flink_user_behavior_analysis_spark.queries_pipeline import (
        _artifact_tag,
    )
    from flink_user_behavior_analysis_spark.sources.readers import (
        index_ready,
    )

    tag = _artifact_tag(sf_dir)
    stored_prefix = {s: f"{p}_{tag}" for s, p in TRAIN_INCLUSIVE.values()}

    per_query: dict[str, float] = {}
    timings: dict[str, list[float]] = {}
    plan_fps: dict[str, str] = {}
    ready_before: dict[str, bool] = {}
    unstable: dict[str, list[float]] = {}
    cross_round: dict[str, dict] = {}
    expected_changes: dict[str, dict] = {}
    load_suspect: dict[str, dict] = {}
    row_load: dict[str, list[float]] = {}
    for name in HEADLINE:
        fn = Q.QUERIES.get(name)
        if fn is None:
            continue
        # ADVICE r8: attribute the stored twins' build wall EXPLICITLY
        # — did the artifact exist before this row's first timed run?
        if name in stored_prefix:
            ready_before[name] = index_ready(spark, stored_prefix[name])
        # a stored twin whose artifact is absent will spend its first
        # run on the build — that disagreement is EXPECTED, so the
        # adjudication window starts at run 2 for those rows (sf1 run:
        # 8 stored rows each burned a pointless extra run without this)
        skip_first = (name in stored_prefix
                      and not ready_before.get(name, False))
        # min of 2 timed runs, rerun on disagreement: this container
        # is a shared VM and single-shot walls vary with neighbor
        # load; the min is the reproducible number (plans are warmed
        # above, so no run pays JIT), and a row whose two timings
        # disagree by >DISAGREE_RATIO gets extra runs so a load spike
        # spanning both initial runs cannot masquerade as a
        # regression (VERDICT r8 #2)
        times: list[float] = []
        n = 0
        base_runs = 3 if skip_first else 2
        prev = prev_bench.get(name)
        ratio = _cross_round_ratio(name, prev)
        plan_changed = False
        # per-ROW machine-state context (VERDICT r12 #4): the 1-min
        # loadavg at both ends of this row's run window, so a
        # cross-round flag can be machine-adjudicated against the
        # load that actually overlapped it instead of the whole-bench
        # endpoints + PERF prose
        row_samples = [os.getloadavg()[0]]
        while True:
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            n = _consume(df)
            times.append(time.perf_counter() - t0)
            # sample loadavg after EVERY run (ADVICE r13): endpoint-
            # only sampling let a neighbor row's trailing load be the
            # sole evidence classifying this one
            row_samples.append(os.getloadavg()[0])
            # fingerprint once per row, outside the timed span, from
            # the post-count df so AQE's final plan is what hashes
            if name not in plan_fps:
                try:
                    plan_fps[name] = _plan_fingerprint(df)
                except Exception:  # pragma: no cover
                    plan_fps[name] = "unavailable"
                plan_changed = (name in prev_fps
                                and plan_fps[name] != "unavailable"
                                and plan_fps[name] != prev_fps[name])
            # drop persisted signature frames between timings — a
            # long-lived session must not accumulate blocks, and a
            # later run must not read an earlier run's cache
            release_signature_cache()
            adj = times[1:] if skip_first else times
            intra_ok = (len(adj) >= 2
                        and max(adj) / min(adj) <= DISAGREE_RATIO)
            # cross-round: a min still >1.5x the committed wall earns
            # extra runs before the regression is accepted (r9 #2) —
            # UNLESS the plan fingerprint moved, in which case the
            # delta is an expected consequence of a plan change and
            # the rerun budget is noise, not adjudication (r10 #6)
            cross_ok = (prev is None or plan_changed or not adj
                        or min(adj) <= prev * ratio)
            budget = base_runs + MAX_EXTRA_RUNS
            if not cross_ok:
                budget += CROSS_EXTRA_RUNS
            if (intra_ok and cross_ok) or len(times) >= budget:
                break
        per_query[name] = round(min(times), 3)
        timings[name] = [round(t, 3) for t in times]
        row_load[name] = [round(x, 2) for x in row_samples]
        if len(times) > base_runs:
            unstable[name] = timings[name]
        verdict = _classify_cross_round(prev, per_query[name], ratio,
                                        plan_changed, row_load[name],
                                        guard=row_guard)
        if verdict is not None:
            row = {"prev": prev, "now": per_query[name],
                   "runs": timings[name], "load": row_load[name]}
            if verdict == "expected":
                row["prev_plan_fp"] = prev_fps.get(name)
                row["plan_fp"] = plan_fps.get(name)
                expected_changes[name] = row
                print(f"# cross-round delta {name}: {prev:.3f}s -> "
                      f"{per_query[name]:.3f}s, plan fingerprint moved "
                      f"({prev_fps.get(name)} -> {plan_fps.get(name)}) — "
                      f"expected change, not adjudicated",
                      file=sys.stderr)
            elif verdict == "load_suspect":
                # auto-adjudication (VERDICT r12 #4): reported in its
                # own block so a reader still sees it, but it no
                # longer lands in cross_round_regressions or grows
                # CROSS_ROUND_RATIO_OVERRIDE by hand
                load_suspect[name] = row
                print(f"# cross-round delta {name}: {prev:.3f}s -> "
                      f"{per_query[name]:.3f}s under load "
                      f"{row_load[name]} (> {row_guard:.1f}), plan "
                      f"fingerprint unchanged — auto-adjudicated as "
                      f"load-suspect", file=sys.stderr)
            else:
                cross_round[name] = row
                print(f"# CROSS-ROUND regression {name}: {prev:.3f}s -> "
                      f"{per_query[name]:.3f}s after {len(times)} runs",
                      file=sys.stderr)
        print(f"# {name}: {per_query[name]:.3f}s rows={n} "
              f"runs={timings[name]}", file=sys.stderr)

    # fit/probe decomposition for the train-per-call entries: when the
    # stored artifact did NOT pre-exist, the twin's first run was
    # build-inclusive and build = first_run - steady probe (min of the
    # later runs); when it DID (hybrid reuses bm25's index, or the
    # warmup fell back to the bench SF), the JSON says shared_artifact
    # — never a silent ~0 a reader could mistake for a free build.
    train_vs_serve: dict[str, dict] = {}
    for inline, (stored, _p) in TRAIN_INCLUSIVE.items():
        if inline not in per_query or stored not in per_query:
            continue
        shared = ready_before.get(stored, False)
        runs = timings[stored]
        build = (None if shared or len(runs) < 2
                 else round(max(0.0, runs[0] - min(runs[1:])), 3))
        train_vs_serve[inline] = {
            "inline_fit_inclusive": per_query[inline],
            "stored_build": build,
            "shared_artifact": shared,
            "serving_probe": per_query[stored],
        }
        print(f"# train_vs_serve {inline}: inline={per_query[inline]:.3f}s "
              f"build={build} shared={shared} "
              f"probe={per_query[stored]:.3f}s", file=sys.stderr)

    total = round(sum(per_query.values()), 3)
    payload = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": per_query,
        "train_vs_serve": train_vs_serve,
        # machine-state + instability evidence (VERDICT r8 #2): rows
        # that needed adjudication reruns, with their full timing
        # vectors, and the 1/5/15-min load at both ends of the bench
        "unstable": unstable,
        # rows still >CROSS_ROUND_RATIO x the committed bench_out.json
        # after the extra-run budget — real regressions OR a sustained
        # load episode; either way they're flagged, not silent (r9 #2)
        "cross_round_regressions": cross_round,
        # rows over the ratio whose executed-plan fingerprint ALSO
        # moved vs the committed artifact: the wall moved because the
        # plan did — reported separately so the adjudicator doesn't
        # re-litigate intentional changes (r10 #6)
        "cross_round_expected_changes": expected_changes,
        # rows over the ratio on an UNCHANGED plan whose run window
        # overlapped loadavg > ROW_LOAD_GUARD: machine-adjudicated as
        # a load episode, not a code regression (VERDICT r12 #4)
        "cross_round_load_suspect": load_suspect,
        # 1-min loadavg at each row's run-window endpoints — the
        # machine-state signal the cross-round comparator reads
        "row_load": row_load,
        # effective load_suspect threshold this run (floor vs margin x
        # committed self-envelope) — documents the calibration used
        "row_load_guard": round(row_guard, 2),
        # normalized executed-plan hash per row (exprIds/stage ids
        # stripped): stable across JVMs, moves with plan shape
        "plan_fp": plan_fps,
        "load": {"start": [round(x, 2) for x in load_start],
                 "end": [round(x, 2) for x in os.getloadavg()],
                 "waited_for_idle_sec": waited},
        "degraded": degraded,
        "sf": sf_val,
        "consumer": CONSUMER_VERSION,
    }
    line = json.dumps(payload)
    # durability (VERDICT r6 #5 / r11 #1): the driver captures only a
    # ~2 KB stdout TAIL, which truncated BENCH_r06 and BENCH_r11 when
    # the full blob (per-query walls + plan_fp map) outgrew the window.
    # The full dict therefore lives ONLY in the committed file; stdout
    # ends with a compact, self-contained summary line that always fits
    # the tail window and parses on its own.
    out_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "bench_out.json")
    with open(out_path, "w") as fh:
        fh.write(line + "\n")
    print(json.dumps(_compact_summary(payload)))
    spark.stop()


if __name__ == "__main__":
    main()
