#!/usr/bin/env python3
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints per-query JSON lines, then ONE compact summary line LAST (sized to
fit the driver's 2000-char tail-capture window — see emit()):
  {"metric": "...", "value": total_sec, "unit": "sec", "sf": 0.1,
   "n_queries": N, "worst_ratio": r, "geomean_ratio": g, "n_over_2x": k,
   "queries": {worst-ratio subset}, "full_map": "BENCH_LOCAL.json"}
The complete per-query map is written to BENCH_LOCAL.json in-repo.

Execution is measured with a noop sink (df.write.format('noop')) so timings
cover the full distributed plan — scan → shuffle → agg — without
driver-collect overhead polluting the number (the reference's own anti-
pattern, /root/reference/src/main.rs:253-277, is exactly that collect).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from opendosm_parquet_to_sqlite_spark.caching import release_cached  # noqa: E402
from opendosm_parquet_to_sqlite_spark.plans.queries import QUERIES  # noqa: E402
from opendosm_parquet_to_sqlite_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "pricing_summary",        # scan+agg throughput yardstick (TPC-H Q1-ish)
    "latest_per_group",       # flagship window dedup
    "latest_per_group_maxby", # flagship as partial-agg (the at-scale shape)
    "join_star_denorm",       # 4-way broadcast star join
    "agg_metrics_by_brand",   # join + group-by
    "window_hourly",          # event-time windowed agg
    "sort_date_desc",         # total sort (range exchange)
    "dedup_exact",            # digest dedup
    "dedup_ngram_jaccard",    # inverted-index near-dup join
    "dedup_minhash_lsh",      # signature/banding near-dup (scale path)
    "dedup_embedding_cosine_lsh",  # bucketed vector near-dup (scale path)
    "ann_bruteforce",         # broadcast top-k similarity
    "text_profile",           # text profiling scan (stats + quality merged)
    "multimodal_metadata",    # binary payload metadata (native exprs)
    # composed paths (round 3): regressions in the composition layers must
    # trip the 2x gate, not just the unit queries they are built from
    "corpus_clean",           # quality gate -> exact dedup -> near-dup sweep
    "corpus_clean_clustered", # same + connected-component dedup semantics
    "dup_clusters",           # distributed union-find over near-dup pairs
    "asof_join",              # union-and-carry-forward temporal join
    "topk_per_group",         # per-group top-k window
    "ann_quantized",          # int8 ADC top-k (4x smaller search memory)
    "text_repetition",        # gram-count aggregation cascade
    "contamination_check",    # broadcast n-gram collision vs eval set
    "prepare_training_data",  # flagship end-to-end corpus->sequences plan
    "corpus_report",          # one-pass dataset card aggregate
    # scale-path flagships (round 4): these had pytest recall pins but NO
    # bench rows — a 10x perf regression shipped invisibly
    "ann_ivf",                # k-means cells + multi-probe (in-memory build)
    "ann_ivf_persisted",      # probe of the PERSISTED IVF+SQ index (steady state)
    "ann_lsh",                # hyperplane-LSH bucketed top-k
    "dedup_semantic",         # SemDeDup cells + per-cell BLAS
    "dedup_simhash",          # 64-bit sketch + pigeonhole banding
    "sketch_profile",         # HLL + quantile mergeable sketches
    "unigram_logprob",        # corpus-self-perplexity scorer
    # round-4 extensions: retrieval, mixing, span dedup, bloom decontam,
    # embedding reduction (quality_classifier is excluded: an 8-iteration
    # training loop measures scheduler latency, not throughput — its cost
    # model is documented in BASELINE.md instead)
    "search_bm25",            # inverted-index BM25 top-k retrieval
    "tfidf_per_doc",          # corpus-wide tf-idf + per-doc rank window
    "domain_mix",             # counts pass + narrow explode/filter resample
    "span_dedup",             # repeated-span stats (hashed-gram pair agg)
    "contamination_bloom",    # packed-bit-table broadcast decontamination
    "embed_pca",              # moments pass + eigh + projection matmul
    "rolling_features",       # per-event trailing RANGE window (keyed sort)
    "running_profile",        # per-key profile agg (stateful op's batch twin)
    # round-5: the classifier's per-iteration plan, benched at 2 fixed
    # iterations (8-iteration training wall-clock measures scheduler
    # latency; the per-iteration join+agg is the regression surface)
    "quality_classifier_2iter",
    # round-5 extensions: narrow chunk fan-out, per-group WindowGroupLimit
    # sample, percentile scaling, bigram-LM self-perplexity
    "chunk_documents",
    "sample_per_group",
    "robust_scale",
    "bigram_logprob",
    # round-6: line-level boilerplate removal (narrow array-filter path)
    "remove_boilerplate",
    # round-6 extensions: URL hygiene (narrow regexp + one host exchange),
    # MAD outlier flags (two broadcast-back stats passes), equi-width
    # histogram (two partial-combined aggs), containment near-dup (same
    # inverted-index plan as jaccard, different score), TPC-H Q3 shape
    # (broadcast dim + fact join + TakeOrdered top-k)
    "url_features",
    "url_host_stats",
    "outlier_mad",
    "value_histogram",
    "dedup_ngram_containment",
    "shipping_priority",
    # per-doc gate audit (narrow signals + repetition gram aggs + one
    # doc-keyed join)
    "quality_audit",
    # grouped top-k vocabulary + vocab-indexed tokenization
    "top_terms_per_group",
    "tokenize_to_ids",
    # product-analytics shapes: one-pass ordered funnel, cohort grid,
    # per-user lead-window transition counts
    "funnel_steps",
    "cohort_retention",
    "transition_matrix",
    # one-pass per-group percentile table (array percentile + posexplode)
    "group_percentiles",
    # round-6 wave 2: blocked edit-distance pairs (prefix-keyed self-join),
    # native EWMA fold (one key exchange), SCD2 interval compaction (one
    # shared key exchange), per-cell MI (one data-scale agg), cube closure,
    # referential-integrity anti-join, iterative weighted PageRank
    "dedup_levenshtein",
    "ewma_smooth",
    "scd2_intervals",
    "mutual_information",
    "cube_metrics",
    "orphan_check",
    "event_pagerank",
    # TPC-H Q5 shape: one fact-fact exchange + broadcast dims with a
    # dim-dim equality bound at the fact row
    "local_supplier_volume",
    # BPE trainer at 8 fixed merge rounds: one corpus pass + per-round
    # vocab-table agg (the per-round plan is the regression surface,
    # like classifier_2iter / event_pagerank)
    "bpe_merges",
    # unigram-LM tokenizer: EM/prune mapInPandas jobs over the word
    # table (the Python-worker-path regression surface for the
    # tokenizer family) + its Viterbi segmenter
    "unigram_lm_vocab",
    "unigram_segment",
    # round-13 wave 3: WordPiece trainer (per-round pair-score aggs with
    # broadcast symbol counts + native fold) + greedy longest-match
    # segmenter — completes the tokenizer trio's bench coverage
    "wordpiece_vocab",
    "wordpiece_segment",
    # round-13 wave 3: CCNet-style head/middle/tail bucketing (vocab
    # broadcast + per-doc agg + quantized-score-table order statistics)
    "commonness_buckets",
    # round-13 wave 2: per-source percentile quality gate (score-table
    # windows + broadcast thresholds), D4 cluster-balanced selection
    # (k-means cells + water-filled md5-rank picks), binned-PAV
    # isotonic calibration (bin agg + driver PAV)
    "quality_percentile_gate",
    "cluster_balanced_sample",
    "calibrate_isotonic",
    # PELT over the bounded hourly rollup (partial-combined hourly agg
    # + one keyed applyInPandas exchange; DP runs on ~720-point series)
    "changepoints_pelt",
    # deterministic md5 training shuffle (arithmetic shards + one
    # per-shard position window)
    "shuffle_for_training",
    # correlation screen + seasonality grid: single partial-combined aggs
    "feature_corr",
    "seasonal_profile",
    # Efraimidis-Spirakis weighted sample (WindowGroupLimit top-k)
    "sample_weighted",
    # CDC snapshot diff (one keyed full-outer join, null-safe compare)
    "snapshot_diff",
    # declarative expectations gate (all rules in ONE agg pass)
    "data_quality_report",
    # rank normalization (keyed window) + range-range overlap equi-join
    "quantile_normalize",
    "interval_overlap",
    # bounded-memory top-k (per-partition Misra-Gries summaries)
    "heavy_hitters",
    # survivorship merge (per-column max_by, one partial-combined agg)
    "golden_record",
    # crawl-frontier URL canonicalization + dedup (one canonical-key agg)
    "dedup_urls",
    # lexical+vector hybrid retrieval (RRF over two hash-checked rankers)
    "hybrid_search",
    # key-distribution pre-flight + carry-forward attribution
    "skew_report",
    "attribution_last_touch",
    # TPC-H Q18 shape (HAVING-agg semi-join back into the fact)
    "large_volume_customers",
    # month-over-month growth (one monthly agg + month-table lag window)
    "period_over_period",
    # deterministic collection aggregation (sorted set -> string)
    "user_event_profile",
    # quality-aware cluster survivorship (components + one max_by agg)
    "dedup_keep_best",
    # first-touch attribution (event-time RANGE-frame min)
    "attribution_first_touch",
    # time-windowed exact dedup (lag window, chain semantics)
    "dedup_time_window",
    # cluster-aware split: near-dup components hash as one unit (pair
    # graph + union-find + one doc-keyed join + narrow band projection)
    "split_leakage_free",
    # PQ ANN with exact rerank: 16-byte ADC code scan -> shortlist ->
    # broadcast semi-join rescore of ~10% of the float corpus
    "ann_pq",
    # MERGE INTO relational core: one keyed full-outer join classifying
    # kept/updated/inserted/deleted (delta-sized alternative to rebuild)
    "merge_upsert",
    # mergeable-partials maintenance: 3 batch aggs + key-sized merge
    # finalizing identically to the one-shot GROUP BY (monoid property)
    "incremental_agg",
    # IVFADC: cells prune rows touched, PQ codes prune per-row cost,
    # exact rerank restores recall (pinned equal to plain IVF output)
    "ann_ivfpq",
    # count-min point frequencies (one partial-combined agg + broadcast probe)
    "cm_frequency",
    # k-anonymity risk audit (one agg + HAVING)
    "k_anonymity",
    # PSI drift report (bounds pass + bin-count pass, value stream never shuffles)
    "feature_drift",
    # unicode canonical dedup keys (narrow projection, NFC pandas_udf + native tail)
    "text_canonical",
    # winnowing (MOSS) copied-passage pairs: row-window min selection +
    # capped inverted index (two 32-byte-key exchanges)
    "winnow_pairs",
    # persisted IVFADC probe: partition-pruned m-byte code scan + rerank
    "ann_ivfpq_persisted",
    # TPC-H Q10 shape: co-keyed fact join + broadcast dims + TakeOrdered
    "returned_item_revenue",
    # canonical-fp exact dedup; embedding mean-vector drift; k-fold bands
    "dedup_exact_canonical",
    "embedding_drift",
    "fold_assign",
    # ship/no-ship checklist in ONE agg pass (5 checks, 5 rows)
    "release_gate",
    # per-node triangles over the near-dup graph (oriented wedge join)
    "triangle_count",
    # join pre-flight: exact |A JOIN B| from key-count tables only
    "join_size_report",
    # seasonally-adjusted volume anomalies (leave-one-out baseline)
    "count_anomaly",
    # fuzzy decontamination (winnow fingerprints, broadcast eval set)
    "contamination_fuzzy",
    # semantic decontamination (bench matrix broadcast, batch BLAS rowmax)
    "contamination_semantic",
    # OOV-mass vocabulary drift (type-table anti-join)
    "vocab_drift",
    # DAU/WAU via HLL sketch unions over the day table (never a rescan)
    "rolling_distinct",
    # exact weighted quantile (distinct-value collapse + cum window)
    "weighted_median",
    # interval coalescing (running-max gaps-and-islands, one exchange)
    "interval_union",
    # Neyman minimum-variance sampling allocation (one stats agg)
    "neyman_allocation",
    # Poisson bootstrap CI (x50 explode + one agg; portable-hash path)
    "bootstrap_ci",
    # equi-depth histogram (exact octile edges + threshold bucketing)
    "equidepth_histogram",
    # 2-core of the near-dup graph (iterative peel, per-round truncation)
    "dup_core",
    # TPC-H Q12 shape (co-keyed join + conditional partial-combined agg)
    "shipmode_priority",
    # round-7: media perceptual-hash near-dup (mapInPandas decode+hash,
    # then the same banded-Hamming pair search as text SimHash)
    "dedup_image_phash",
    "dedup_audio_fp",
    # round-7: composed media dedup (pairs -> components -> keep-best)
    "dedup_media_clusters",
    # round-7: exact longest-repeated-span per winnow candidate pair
    # (position join + diagonal gaps-and-islands — pair-graph-sized)
    "span_dedup_exact",
    # round-7 TPC-H shape completions: Q4 (EXISTS semi-join), Q7 (one
    # fact-fact exchange + 4 broadcast legs), Q14 (conditional share),
    # Q16 (broadcast anti-join + exact count_distinct)
    "order_priority_check",
    "volume_shipping",
    "promo_revenue",
    "parts_supplier_count",
    # round-7: exact two-sample KS (distinct-value collapse + cum window)
    "ks_drift",
    # round-7 wave 3 — TPC-H shape completions (all 22 query shapes now
    # have a benched analog): Q6 pure-pushdown scan, Q13 left-outer
    # distribution, Q15 argmax-vs-scalar, Q17 decorrelated scalar
    # subquery, Q19 OR-of-ANDs over one equi-join, Q2 windowed argmin
    # catalog, Q8 six-dim-probe share, Q9 profit rollup, Q11
    # HAVING-over-global-fraction, Q20 aggregated-IN semi-join, Q21
    # EXISTS/NOT-EXISTS semi+anti pair, Q22 anti-join on recency
    "forecast_revenue",
    "customer_distribution",
    "top_supplier",
    "small_qty_revenue",
    "discounted_revenue",
    "min_cost_supplier",
    "market_share",
    "product_profit",
    "important_stock",
    "promotion_suppliers",
    "waiting_suppliers",
    "sales_opportunity",
    # round-7 wave 3 — inferential stats (one sufficient-statistics agg /
    # one shared-sort window each) + phrase mining + ntile labeling
    "group_ols",
    "chi_square",
    "mann_whitney",
    "collocations_pmi",
    "feature_binning",
    # round-7: metadata-filtered ANN over the persisted IVF index
    "ann_filtered",
    # round-7 wave 4: chunk->doc embedding pooling (explode + immediate
    # partial agg), HTML strip + anchor extraction (narrow regex chains),
    # JS categorical drift (category-table exchanges), kNN graph +
    # mutual-kNN clustering (bucketed BLAS + WindowGroupLimit +
    # components), LPA communities (per-round flat plan)
    "embedding_pool",
    "html_to_text",
    "extract_links",
    "js_drift",
    "knn_graph",
    "knn_clusters",
    "dup_communities",
    # round-7 wave 5: data-quality profiling (one partial-combined agg /
    # digit-cell / stacked-column exchanges)
    "fd_violations",
    "benford_check",
    "column_entropy",
    # round-7 wave 6: contrastive/preference pair prep (pool broadcast +
    # WindowGroupLimit; label joins on the kNN edge list; one max_by agg)
    "preference_pairs",
    "negative_samples",
    "hard_negatives",
    # round-7 wave 7: sequence-model data prep (bounded-frame window),
    # calibration audit (bin-cell exchange), embedding QA (one agg pass)
    "next_event_examples",
    "calibration_report",
    "vector_health",
    # round-7: classical additive decomposition (one keyed window +
    # phase-table broadcasts)
    "seasonal_decompose",
    # round-7: trailing-window co-moment correlation + churn labels
    # (one keyed window exchange each)
    "rolling_corr",
    "inactivity_labels",
    # round-7: filtered probe of the compressed (IVFADC) index
    "ann_filtered_pq",
    # round-7: wedge-join link prediction (never all-pairs)
    "link_prediction",
    # round-7: cardinality-capped reporting (one raw exchange + group-
    # table rank window)
    "topn_other",
    # round-7 wave 8: ML evaluation & feature engineering (conditional-agg
    # t-test; cell-table target encoding; no-shuffle hashing trick; 1-row
    # quantile-cutoff split; top-k-first ranking metrics)
    "welch_ttest",
    "target_encoding",
    "feature_hashing",
    "temporal_split",
    "ranking_metrics",
    # round-7 wave 9: text-quality signals + multiple-testing control
    # (broadcast vocab probe; zero-exchange zlib projection; family-table
    # BH windows)
    "vocab_coverage",
    "compression_ratio",
    "bh_correction",
    # round-7 wave 10: score-evaluation suite (rank-identity AUC;
    # constant-factor threshold explode; bin-table lift windows)
    "auc_roc",
    "classification_report",
    "lift_table",
    # round-7 wave 11: survival + clustering quality (duration-table KM
    # windows; C-row centroid broadcast silhouette)
    "survival_curve",
    "silhouette_score",
    # round-7 wave 12: nearest-centroid confusion matrix (xC broadcast)
    "centroid_classify",
    # round-7 wave 13: privacy release tooling (cell-table entropy;
    # keyed-PRF Laplace projection)
    "l_diversity",
    "dp_noisy_counts",
    # round-7 wave 14: eval/association stats (rank-window AP; cell-table
    # kappa marginal join; cell-table V windows; two stacked partial aggs)
    "pr_auc",
    "cohens_kappa",
    "cramers_v",
    "anova_oneway",
    # round-7 wave 15: distribution/regime monitoring + smooth resample
    # (distinct-value-table exchanges; one keyed sort each)
    "wasserstein_drift",
    "cusum_changepoints",
    "interpolate_linear",
    # round-7 wave 16: blocked entity resolution (block-keyed self-join)
    "record_linkage",
    # round-7 wave 17: LOF over the kNN edge list (edge-keyed joins only)
    "lof_outliers",
    # round-10: the scale-safe linkage parameterization (data-derived band
    # width — pair volume linear in n) and the Lee-style repeated-span
    # removal transform (span search + doc-keyed cut rebuild)
    "record_linkage_scaled",
    "remove_repeated_spans",
    # round-10: DSIR importance weighting (two bucket-table passes +
    # broadcast ratio join + one doc-keyed agg)
    "dsir_weights",
    # round-11: within-doc span removal composed with cross-doc cuts
    # (gram-gated diagonal self-join on top of the winnow span search)
    # and DSIR end-to-end selection (weights + TakeOrdered top-slice)
    "remove_repeated_spans_within",
    "dsir_select",
    # round-12: DoReMi iterative Group-DRO domain reweighting (3 rounds x
    # 2 model-sized agg jobs over the persisted hashed-feature frame)
    # and its end-to-end learned-rebalance composition
    "doremi_weights",
    "doremi_mix",
]

WARM_TABLES = ["lineitem", "orders", "events", "documents", "embeddings"]

# Load provenance (round-9 verdict item 1): BENCH_r09 ran on a loaded box
# and every one of the 189 queries shifted ~1.37x together — a uniform
# environment artifact that the artifact itself could not prove. Two
# instruments make it provable: (a) os.getloadavg() stamped before/after
# the suite, (b) a fixed CANARY query re-run untimed-slot every
# CANARY_EVERY queries — its drift separates "the engine regressed" from
# "the box got busy mid-suite" (a real regression moves one query's
# timing, not the canary's).
CANARY = "pricing_summary"
CANARY_EVERY = 32

# Queries forced into every --sf1-gate probe regardless of sf0.1 cost:
# the adjudicated scale fixes whose whole point is their sf1 behavior.
SF1_GATE_EXTRA = [
    "record_linkage_scaled",
    "remove_repeated_spans",
    "remove_repeated_spans_within",
    # round-13 registrations: first standing 10x evidence for the
    # unigram tokenizer family (EM jobs over the Zipf-bounded word
    # table — growth should track distinct words, sublinear in corpus)
    "unigram_lm_vocab",
    "unigram_segment",
    # round-13 wave 2: first standing 10x evidence for the percentile
    # gate (score-table windows — growth tracks the quantized score
    # table), cluster-balanced selection (assign scan + prefiltered
    # window), isotonic calibration (bin agg), PELT (bounded hourly
    # series — the agg is the only corpus-linear stage), and the
    # training shuffle (one windowed exchange of (id, digest) longs)
    "quality_percentile_gate",
    "cluster_balanced_sample",
    "calibrate_isotonic",
    "changepoints_pelt",
    "shuffle_for_training",
    # round-13 wave 3: first standing 10x evidence for the WordPiece
    # trainer (per-round pair-score aggs over the Zipf-bounded word
    # table — growth tracks distinct words, sublinear in corpus), its
    # greedy segmenter (Arrow longest-match scan, linear), and the
    # CCNet-style buckets (two partial-combined aggs + score-table
    # order statistics — corpus-linear scan bound)
    "wordpiece_vocab",
    "wordpiece_segment",
    "commonness_buckets",
    # round-14 (verdict item 9): standing 10x rows for the round-13
    # optimization winners (the AQE floor / fan_out / loop-width work
    # must be measured where cores matter, not only at sf0.1)...
    "bootstrap_ci",
    "dedup_ngram_jaccard",
    "interpolate_linear",
    "triangle_count",
    "dup_core",
    "dedup_simhash",
    # ...and for the queries this round's structural changes touched
    # (pairs-first CC/LPA materialization, tfidf window-df, winnow
    # spread, fd_violations fan_out, bucket-explode wedges, fused
    # trainer collects)
    "dup_clusters",
    "split_leakage_free",
    "dup_communities",
    "link_prediction",
    "tfidf_per_doc",
    "winnow_pairs",
    "span_dedup_exact",
    "fd_violations",
    "quality_classifier_2iter",
    "doremi_weights",
]

# Named causes for queries whose >15x sf1 growth is a DOCUMENTED output
# contract, not a plan defect (BASELINE.md's gate rule: anything over
# 15x needs a named cause — these are the standing adjudications, so the
# artifact carries its own explanation instead of leaving the list to be
# re-litigated each round). A query appearing in over_15x WITHOUT a row
# here is a fresh discovery that needs triage.
SCALE_CAUSES = {
    "dedup_image_phash": (
        "member-pair output is quadratic in exact-dup clique size by "
        "contract; bounded by the default max_pairs=50M valve; scale "
        "path is dedup_media_clusters (1.4x at the same gate)"
    ),
    "dedup_audio_fp": (
        "same member-pair contract as dedup_image_phash; valve-bounded; "
        "scale path is dedup_media_clusters"
    ),
    "record_linkage": (
        "legacy fixed 500-cent band kept as the reference-parity twin; "
        "bounded by the operator's default max_pairs valve (50M pairs "
        "in any single block — fixed-band occupancy grows with n, so "
        "the hottest band goes quadratic and trips at scale); scale "
        "path is record_linkage_scaled (data-scaled band, occupancy-"
        "bounded: passes the per-block valve at any corpus size)"
    ),
}

# Standing adjudications of persistent ratio drift (round-12 verdict
# item 1: "record the adjudication in the bench artifact the way sf1/
# sf10 causes are recorded"). Keyed by query; embedded under
# `drift_adjudications` in any artifact whose run includes the query,
# so the verdict reads the cause next to the number instead of
# re-litigating it from prose. Entries carry the ISOLATED measurement
# that settled the question and its date.
DRIFT_ADJUDICATIONS = {
    "dedup_image_phash": (
        "round-12 1.62x adjudicated ENVIRONMENTAL (in-suite JVM/GC "
        "neighborhood): round-13 isolated probe (warmup-2, runs-3 "
        "median) measured 4.508 s = 1.16x of warm baseline 3.880; no "
        "media-family code changed in r12. Python-worker drift is now "
        "watched by env_py (py_probe_min_of_5)."
    ),
    "dedup_audio_fp": (
        "round-12 1.42x adjudicated ENVIRONMENTAL: round-13 isolated "
        "probe measured 4.332 s = 1.07x of warm baseline 4.049; same "
        "evidence as dedup_image_phash."
    ),
    "dedup_media_clusters": (
        "round-12 1.67x (shipped suite-worst) adjudicated "
        "ENVIRONMENTAL: round-13 isolated probe measured 6.937 s = "
        "1.14x of warm baseline 6.097; the remeasure rule now loops "
        "until the reported worst has its own isolated confirmation."
    ),
    "text_canonical": (
        "round-13 2.6x adjudicated BOX-STATE (r13's VM landed on a "
        "slower/noisier host: cross-round JVM ref_probe 1.31 s vs "
        "r12's 1.033, intra-suite jitter 48-68% vs 16.5% at the r12 "
        "republish; steal time nonzero at idle): no code in the query "
        "changed since its round-6 baseline, fold_assign/dedup_exact/"
        "latest_per_group read AT-or-UNDER their r12 values in the "
        "same run, and a hand-timed warm loop outside bench read the "
        "same ~1.8x. See ref_probe_prior in this artifact."
    ),
    "k_anonymity": (
        "round-13 2.1x adjudicated BOX-STATE: same evidence as "
        "text_canonical (selective inflation of multi-stage sub-second "
        "queries on the r13 host while single-exchange peers sit at "
        "1.0x; no code change since the round-6 baseline)."
    ),
}


def run_query(spark, name: str, sf_dir: str) -> float:
    t0 = time.perf_counter()
    df = QUERIES[name](spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # --runs N / SPARK_GRAFT_BENCH_RUNS: repeat the whole suite N times and
    # report the per-query MEDIAN (plus min detail) — box noise here is
    # ±20% on composed queries, so regression gates should read medians.
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "1"))
    if "--runs" in sys.argv:
        n_runs = int(sys.argv[sys.argv.index("--runs") + 1])
    # --warmup N / SPARK_GRAFT_BENCH_WARMUP: untimed executions of every
    # headline query BEFORE the timed loop (default 1). A single cold run
    # measures codegen + classloading + page-cache misses, not the plan:
    # round 4's official artifact showed 8.1x/3.3x/2.8x "regressions" that
    # a steady-state re-run placed at/under baseline. One warm-up pass
    # (~2 min at sf0.1) makes the single-run driver artifact report the
    # steady state the 2x gate is meant to test.
    # default raised 1 → 2 in round 10: several regex-heavy queries reach
    # C2-compiled steady state only on their 3rd execution (url_features:
    # 6.6 s cold → 0.66 → 0.45 → 0.39), so a single warm-up still times
    # JIT warm-up as if it were plan cost.
    n_warmup = int(os.environ.get("SPARK_GRAFT_BENCH_WARMUP", "2"))
    if "--warmup" in sys.argv:
        n_warmup = int(sys.argv[sys.argv.index("--warmup") + 1])
    # --only a,b,c: bench a subset (baseline-row recording for new queries
    # without re-running the whole suite). The driver never passes this.
    headline = list(HEADLINE)
    if "--only" in sys.argv:
        only = sys.argv[sys.argv.index("--only") + 1].split(",")
        unknown = [n for n in only if n not in QUERIES]
        if unknown:
            raise SystemExit(f"unknown queries: {unknown}")
        headline = only
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")

    if "--sf1-gate" in sys.argv:
        sf1_gate(spark)
        return
    if "--sf1-full" in sys.argv:
        sf1_gate(spark, full=True)
        return
    load_before = [round(x, 2) for x in os.getloadavg()]
    # absolute box-speed reference: a fixed pure-JVM compute (no I/O, no
    # shuffle, no codegen novelty after its first run) timed at suite
    # start. Cross-ROUND ratio shifts that move every query together are
    # box-speed artifacts iff this number moved with them; the canary
    # covers intra-suite drift, this covers round-to-round comparability.
    spark.range(1).count()  # session spin-up out of the probe
    _t0 = time.perf_counter()
    spark.range(400_000_000).selectExpr("sum(id * 2 + 1)").collect()
    ref_probe = round(time.perf_counter() - _t0, 3)

    # warm the JVM/session once (tiny action, not counted per-query), and
    # touch each table's parquet footer so the first real query doesn't
    # absorb file-listing/codegen warm-up as its own cost
    spark.range(1).count()
    for t in WARM_TABLES:
        try:
            spark.read.parquet(f"{sf_dir}/{t}.parquet").limit(1).count()
        except Exception:
            pass
    # one-time artifact builds stay OUT of the probe timings
    from opendosm_parquet_to_sqlite_spark.plans.queries import ensure_ivf_index

    ensure_ivf_index(spark, sf_dir, quantize=True)

    for _ in range(max(n_warmup, 0)):
        for name in headline:
            run_query(spark, name, sf_dir)
            release_cached()

    # canary reference point before the timed loop (the warm-up pass
    # above already primed it)
    def canary_slot() -> float:
        # min-of-3 per slot. Round 10 used a single run (69.8% jitter);
        # round 11's first fix took the median of 3, and one slot still
        # read 1.02 s against a 0.30 s steady state — a GC stall long
        # enough to span two of its three reps defeats a median. The
        # canary estimates ATTAINABLE box speed (its noise — GC pauses,
        # neighbor stages, scheduler delay — is strictly additive), so
        # the min is the right per-slot estimator: it discards any stall
        # that leaves one rep clean, while a genuinely busy box slows
        # all three reps and still moves the slot.
        reps = []
        for _ in range(3):
            reps.append(run_query(spark, CANARY, sf_dir))
            release_cached()
        return round(min(reps), 3)

    # Primary environment signal (round-11 verdict item 8): the pure-JVM
    # box-speed probe, re-timed at the same cadence as the canary. The
    # canary is a real sub-second QUERY — its slots absorb GC pauses,
    # cleaner bursts and scheduler delay, and even min-of-3 carried 43%
    # jitter in round 11. The ref probe is a fixed whole-stage-codegen
    # sum with no I/O, no shuffle, no cache interplay — the quietest
    # signal the JVM can produce, so its drift measures the BOX, not the
    # engine's neighborhood. The canary stays as the secondary,
    # query-shaped witness.
    # SINGLE-partition probe: the 32-way parallel form spends its ~0.15 s
    # mostly on task dispatch, and scheduler noise read as 70-88% jitter;
    # one long task of pure codegen arithmetic (~0.5 s) measured 12%
    # jitter on the same box. Pre-warmed below so JIT warm-in doesn't
    # masquerade as early-suite drift.
    # min-of-5: with 3 reps of a single ~0.36 s task, one GC landing in
    # 2 of 3 reps still moves the slot (measured 21.2% jitter across a
    # full suite); 5 reps drop the min's variance below the target while
    # costing ~1.8 s per untimed slot.
    def ref_slot() -> float:
        reps = []
        for _ in range(5):
            t0 = time.perf_counter()
            spark.range(0, 300_000_000, 1, 1).selectExpr(
                "sum(id * 2 + 1)"
            ).collect()
            reps.append(time.perf_counter() - t0)
        return round(min(reps), 3)

    # PYTHON-WORKER environment probe (round-12 verdict item 2): the JVM
    # ref probe is blind to the Arrow/Python-worker path — round 12's
    # media-decode trio drifted +40-60% while the JVM probe said the box
    # got FASTER, and no signal could separate "box" from "regression"
    # for the ~10 Python-heavy queries. This probe is the Python twin of
    # ref_slot: a fixed NumPy workload over Arrow mapInPandas — no I/O,
    # no shuffle, a constant FLOP count — so its drift measures the
    # Python-worker side of the box (fork/exec, Arrow IPC, NumPy/BLAS,
    # page cache for the interpreter) and nothing engine-shaped.
    # Same estimator rationale as ref_slot: min-of-5 discards GC/fork
    # stalls; a genuinely slow Python path slows all five reps.
    def _py_probe_fn(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            a = pdf["id"].to_numpy(dtype="float64")
            s = float(np.sqrt(a * 2.0 + 1.0).sum() + np.log1p(a).sum())
            yield pd.DataFrame({"s": [s]})

    def py_slot() -> float:
        reps = []
        for _ in range(5):
            t0 = time.perf_counter()
            spark.range(0, 4_000_000, 1, 4).mapInPandas(
                _py_probe_fn, "s double"
            ).collect()
            reps.append(time.perf_counter() - t0)
        return round(min(reps), 3)

    ref_times: list[float] = []
    py_times: list[float] = []
    canary_times: list[float] = []
    run_canary = "--only" not in sys.argv and CANARY in QUERIES
    if run_canary:
        # JIT pre-warm: the canary's first slots otherwise read 0.40-0.48
        # against a 0.30-0.33 steady state (codegen/JIT still compiling
        # hot paths early in the suite) and a trend formula reports that
        # warm-in as a spurious -20% "drift". Saturate before slot 0.
        for _ in range(6):
            run_query(spark, CANARY, sf_dir)
            release_cached()
        ref_slot()  # same JIT saturation for the env probe's codegen
        py_slot()   # spawn + warm the reusable Python workers untimed
        canary_times.append(canary_slot())
        ref_times.append(ref_slot())
        py_times.append(py_slot())

    runs: dict[str, list[float]] = {name: [] for name in headline}
    for _ in range(max(n_runs, 1)):
        for qi, name in enumerate(headline):
            runs[name].append(run_query(spark, name, sf_dir))
            release_cached()  # operator-internal persists end with their query
            if (qi + 1) % 32 == 0:
                if run_canary:
                    # interleaved canary (untimed slot): a loaded box moves
                    # THIS number; an engine regression does not. Runs
                    # BEFORE the gc hint — the first full-suite run of
                    # round 10 put it after and the canary absorbed a
                    # 10-second gc stall as its own time
                    canary_times.append(canary_slot())
                    ref_times.append(ref_slot())
                    py_times.append(py_slot())
                # untimed GC hint between query groups: lets the
                # ContextCleaner reap finished broadcasts/codegen refs
                # incrementally instead of letting old-gen pressure build
                # across ~190 plans and land on whichever query runs next
                # (the round-6/7 in-session bloom outlier — diagnosed as
                # heap-ceiling GC storms, not a plan property)
                spark._jvm.System.gc()

    timings = {n: round(_median(ts), 3) for n, ts in runs.items()}

    # Auto re-measure: a single timed pass over a ~190-query one-JVM
    # suite carries in-session noise (accumulated JVM/codegen/GC state;
    # round-6/7 artifacts showed 3-4x "regressions" that measured at/
    # under baseline in isolation). Any query whose single-run ratio
    # exceeds the 2x gate is re-measured AT SUITE END — and the
    # remeasure must actually ISOLATE: the round-8 remeasure ran in the
    # loaded ~190-plan JVM with no state reset and reported 2.1x for a
    # query a fresh process measures at 0.9x. So before the isolation
    # runs: clear the SQL cache, force full GCs (reaps finished
    # broadcasts/codegen refs the suite accumulated), and DISCARD two
    # warm runs; then take the median of 3 timed runs. The substitution
    # is GATED: the isolated median replaces the in-session number only
    # when it CONFIRMS the in-session number was an outlier (isolated
    # < 80% of in-session) — a query that is genuinely slow keeps its
    # honest in-session timing. Both the in-session and post-
    # substitution totals are reported so the headline's provenance is
    # unambiguous. Medians from --runs>=3 are already robust and skip
    # this.
    in_session_total = round(sum(timings.values()), 3)
    base = _baseline_medians()
    remeasured: dict[str, dict[str, float]] = {}
    # n_runs >= 3 medians USED to skip this on the "medians are robust"
    # theory; round 10 disproved it: in-session environmental bimodality
    # (GC/cleaner bursts landing on the same HEADLINE neighborhood each
    # pass) put 2 of 3 runs high for adjacent queries, so their medians
    # read 2.6-3.1x while a fresh process measures 1.07-1.15x. The
    # isolation remeasure now runs for every suspect; the substitution
    # stays gated on the isolated number CONFIRMING an outlier.
    if base:
        # round-11 verdict item 3: the suite-worst ratio is ALWAYS
        # remeasured, even under the 2x gate — collocations_pmi sat at
        # 1.97x (worst in suite, a whisker under the gate) and the rule
        # never caught it. Round-12 verdict item 3 closes the remaining
        # gap: after a substitution the suite-worst can CHANGE (round 12
        # shipped dedup_media_clusters as worst_ratio 1.665 unremeasured
        # because the pre-substitution worst was neyman_allocation), so
        # the whole block LOOPS until the reported worst has its own
        # isolated confirmation — i.e. BENCH's worst_query always
        # appears in `remeasured`. Terminates because `remeasured` only
        # grows and each name is isolated at most once.
        reset_done = False
        while True:
            suspects = [
                name for name in headline
                if base.get(name) and timings[name] / base[name] > 2.0
                and name not in remeasured
            ]
            ratioed = [
                n for n in headline if base.get(n) and timings.get(n)
            ]
            if ratioed:
                worst = max(ratioed, key=lambda n: timings[n] / base[n])
                if worst not in suspects and worst not in remeasured:
                    suspects.append(worst)
            if not suspects:
                break
            if not reset_done:
                # one shared state reset before the isolation block
                spark.catalog.clearCache()
                release_cached()
                for _ in range(3):
                    spark._jvm.System.gc()
                    time.sleep(0.5)
                reset_done = True
            for name in suspects:
                for _ in range(2):  # discarded warm runs
                    run_query(spark, name, sf_dir)
                    release_cached()
                iso = []
                for _ in range(3):
                    iso.append(run_query(spark, name, sf_dir))
                    release_cached()
                med = round(_median(iso), 3)
                confirmed = med < 0.8 * timings[name]
                remeasured[name] = {
                    "in_session_sec": timings[name],
                    "isolated_median_sec": med,
                    "outlier_confirmed": confirmed,
                }
                if confirmed:
                    timings[name] = med

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_queries_total_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    }
    out["n_warmup"] = n_warmup
    out["loadavg_before"] = load_before
    out["loadavg_after"] = [round(x, 2) for x in os.getloadavg()]
    out["ref_probe_sec"] = ref_probe
    # cross-ROUND box comparability (round-13 lesson: the per-round VM
    # can land on a slower/noisier host — r13's probe read 1.31 s vs
    # r12's 1.033 while per-query ratios shifted selectively; without
    # this field the shift reads as a code regression): compare this
    # run's probe against the newest committed BENCH_LOCAL_r*.json.
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    cur_rnd = [
        int(m.group(1)) for f in os.listdir(repo_dir)
        if (m := re.match(r"BENCH_r(\d+)\.json$", f))
    ]
    cur_rnd = (max(cur_rnd) + 1) if cur_rnd else 0
    prior = sorted(
        f for f in os.listdir(repo_dir)
        if (m := re.fullmatch(r"BENCH_LOCAL_r(\d+)\.json", f))
        and int(m.group(1)) != cur_rnd  # exclude this round's own stamp
    )
    if prior:
        try:
            pd_ = json.load(open(
                os.path.join(repo_dir, prior[-1]), encoding="utf-8"
            ))
            psec = pd_.get("ref_probe_sec")
            if psec:
                out["ref_probe_prior"] = {
                    "artifact": prior[-1],
                    "sec": psec,
                    "delta_pct": round((ref_probe - psec) / psec * 100, 1),
                }
        except (OSError, ValueError):
            pass
    if canary_times:
        # drift = TREND (median of the second half of canary slots vs the
        # first half), not max/min spread and not first-3-vs-last-3: a
        # sub-second canary jitters 30-60% run to run, and its FIRST few
        # slots additionally carry residual JVM warm-in (round 11: slots
        # 0.52→steady 0.44 — a first-vs-last comparison reads that as a
        # -16% "drift" on a box whose half-medians differ by 0.3%). Only
        # a sustained shift — the box getting busy, the JVM degrading —
        # moves a half-median. Jitter is reported too so the artifact
        # shows both.
        def _trend(times: list[float]) -> dict:
            mid = max(1, len(times) // 2)
            head = _median(times[:mid])
            tail = _median(times[mid:]) if len(times) > 1 else head
            tmin, tmax = min(times), max(times)
            # jitter = ROBUST decile spread (p90−p10)/p10, same rationale
            # as the half-median drift estimator: a single GC-storm slot
            # out of ~19 is a one-off event, not environment instability,
            # but it owns a max/min spread entirely (round 12: one 0.47 s
            # slot vs a 0.34-0.41 band read as "37% jitter" under max/min
            # while the decile spread of the same series is ~18%). The
            # raw max/min is still reported as spread_pct so the one-off
            # stays visible.
            s = sorted(times)

            def _q(p: float) -> float:
                i = p * (len(s) - 1)
                lo, hi = int(i), min(int(i) + 1, len(s) - 1)
                return s[lo] + (s[hi] - s[lo]) * (i - lo)

            p10, p90 = _q(0.1), _q(0.9)
            return {
                "runs_sec": times,
                "drift_pct": (
                    round((tail - head) / head * 100, 1) if head else 0.0
                ),
                "jitter_pct": (
                    round((p90 - p10) / p10 * 100, 1) if p10 else 0.0
                ),
                "spread_pct": (
                    round((tmax - tmin) / tmin * 100, 1) if tmin else 0.0
                ),
            }

        # PRIMARY environment signal: the pure-JVM ref probe's slots —
        # quiet by construction (no I/O/shuffle/cache), so its drift and
        # jitter describe the box. The canary (a real query) is the
        # SECONDARY, engine-shaped witness; its extra jitter over the
        # ref probe's is GC/cleaner neighborhood, not box load.
        out["env"] = {"probe": "ref_probe_min_of_5", **_trend(ref_times)}
        # the Python-worker twin (round-12 verdict item 2): read its
        # drift AGAINST the JVM probe's — JVM flat + py elevated means
        # the Python side of the box (fork, Arrow, NumPy) moved, which
        # is exactly the signature the media-decode family shows when
        # the drift is environmental rather than a code regression.
        if py_times:
            out["env_py"] = {
                "probe": "py_probe_min_of_5", **_trend(py_times)
            }
        out["canary"] = {"query": CANARY, **_trend(canary_times)}
    adjudicated = {
        n: DRIFT_ADJUDICATIONS[n] for n in timings if n in DRIFT_ADJUDICATIONS
    }
    if adjudicated:
        out["drift_adjudications"] = adjudicated
    if remeasured:
        out["remeasured"] = remeasured
        out["total_in_session_sec"] = in_session_total
    if n_runs > 1:
        out["n_runs"] = n_runs
        out["queries_min"] = {n: round(min(ts), 3) for n, ts in runs.items()}
    emit(out, timings, sf, n_warmup, n_runs)


def sf1_gate(spark, full: bool = False) -> None:
    """Standing sf1 scale gate (round-9 verdict item 3): re-run the most
    expensive headline queries at 10x the bench scale and compare each to
    its sf0.1 warm baseline median. The round-9 probe was a one-shot that
    found two real scale bugs; this flag makes it re-runnable per round:

        python3 bench.py --sf1-gate [--top N]

    `--sf1-full` (round-10 verdict item 4) probes EVERY headline query
    instead of the top-N — the ~166 queries that had never executed
    above sf0.1 get one sf1 data point each — and writes
    BENCH_SF1_FULL.json so >15x discoveries can be folded into the
    standing top-N gate with named causes.

    Fixture: $SPARK_GRAFT_SF1_DIR (default /tmp/sf1), built on demand via
    tools/make_scale.py (deterministic 10x replication of the driver's
    sf0.1 — see that docstring for why replication preserves the regime).
    Method matches the round-9 probe exactly: 1 untimed warm-up + 1 timed
    run per query, top-N (default 25) headline queries by sf0.1 baseline
    cost, plus SF1_GATE_EXTRA (the adjudicated scale fixes). Gate rule:
    cores are fixed while data grows 10x, so ~10x is the zero-headroom
    linear bound and anything >15x needs a named cause (BASELINE.md's
    documented rule). Writes BENCH_SF1.json; the driver-readable summary
    line reports n_over_15x and the offenders.
    """
    repo = os.path.dirname(os.path.abspath(__file__))
    sf1_dir = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/sf1")
    top_n = 25
    if "--top" in sys.argv:
        top_n = int(sys.argv[sys.argv.index("--top") + 1])
    if not os.path.exists(os.path.join(sf1_dir, "lineitem.parquet")):
        import subprocess

        print(f"building sf1 fixtures at {sf1_dir} ...", file=sys.stderr)
        subprocess.run(
            [sys.executable, os.path.join(repo, "tools", "make_scale.py"),
             "--out", sf1_dir],
            check=True,
        )
    base = _baseline_medians()
    ranked = sorted(
        (n for n in HEADLINE if n in base), key=lambda n: -base[n]
    )
    if full:
        # full-suite pass: every headline query, most-expensive first so
        # a mid-run failure still covers the known-heavy set; queries
        # with no baseline row (fresh registrations) run last.
        probe = ranked + [n for n in HEADLINE if n not in base]
    else:
        probe = ranked[:top_n] + [
            n for n in SF1_GATE_EXTRA
            if n in QUERIES and n not in ranked[:top_n]
        ]
    load_before = [round(x, 2) for x in os.getloadavg()]
    spark.range(1).count()
    for t in WARM_TABLES:
        try:
            spark.read.parquet(f"{sf1_dir}/{t}.parquet").limit(1).count()
        except Exception:
            pass
    from opendosm_parquet_to_sqlite_spark.plans.queries import ensure_ivf_index

    ensure_ivf_index(spark, sf1_dir, quantize=True)
    timings: dict[str, float] = {}
    ratios: dict[str, float] = {}
    failed: dict[str, str] = {}
    for name in probe:
        # Isolate per-query failures: a ~200-query multi-hour full pass
        # must not lose its artifact to one bad query — record the error
        # row and keep probing.
        try:
            run_query(spark, name, sf1_dir)  # warm-up, untimed
            release_cached()
            timings[name] = round(run_query(spark, name, sf1_dir), 3)
        except Exception as exc:  # noqa: BLE001 — recorded, not swallowed
            release_cached()
            failed[name] = f"{type(exc).__name__}: {exc}"[:300]
            print(json.dumps({"query": name, "sf1_error": failed[name]}))
            continue
        release_cached()
        if base.get(name):
            ratios[name] = round(timings[name] / base[name], 1)
        print(json.dumps({"query": name, "sf1_sec": timings[name],
                          "ratio_vs_sf01": ratios.get(name)}))
        spark._jvm.System.gc()
    over = sorted(
        (n for n, r in ratios.items() if r > 15.0), key=lambda n: -ratios[n]
    )
    # FRESH over-15x discoveries (no standing SCALE_CAUSES adjudication)
    # are remeasured in an ISOLATED subprocess/JVM before the artifact
    # ships — round 13: corpus_clean_clustered read 278 s (45.9x) inside
    # the 34-query single-JVM gate while an isolated probe read 34.3 s
    # (1.24x of the r12 gate, exactly the round's box factor). A fresh
    # JVM is the same discipline the sf10 probe adopted (--isolate) and
    # the main bench's remeasure loop applies at sf0.1.
    sf1_remeasured: dict[str, dict] = {}
    for name in [n for n in over if n not in SCALE_CAUSES]:
        child = (
            "import sys, time; sys.path.insert(0, %r)\n"
            "from opendosm_parquet_to_sqlite_spark.session import get_spark\n"
            "from opendosm_parquet_to_sqlite_spark.plans.queries import QUERIES\n"
            "from opendosm_parquet_to_sqlite_spark.caching import release_cached\n"
            "import json\n"
            "spark = get_spark(app_name='sf1_remeasure')\n"
            "spark.sparkContext.setLogLevel('ERROR')\n"
            "def run():\n"
            "    t0 = time.perf_counter()\n"
            "    QUERIES[%r](spark, %r).write.format('noop')"
            ".mode('overwrite').save()\n"
            "    return time.perf_counter() - t0\n"
            "run(); release_cached()\n"
            "print(json.dumps({'sec': round(run(), 3)}))\n"
        ) % (repo, name, sf1_dir)
        import subprocess

        r = subprocess.run(
            [sys.executable, "-c", child], capture_output=True, text=True
        )
        iso = None
        for ln in r.stdout.splitlines():
            if ln.startswith('{"sec"'):
                iso = json.loads(ln)["sec"]
        if iso is None:
            continue
        sf1_remeasured[name] = {
            "in_session_sec": timings[name],
            "isolated_sec": iso,
            "outlier_confirmed": iso < 0.7 * timings[name],
        }
        if iso < 0.7 * timings[name]:
            timings[name] = iso
            if base.get(name):
                ratios[name] = round(iso / base[name], 1)
    over = sorted(
        (n for n, r in ratios.items() if r > 15.0), key=lambda n: -ratios[n]
    )
    out = {
        "metric": (
            "sf1_full_suite_wall_clock" if full
            else "sf1_scale_gate_total_wall_clock"
        ),
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "sf": 1.0,
        "queries": timings,
        "ratios_vs_sf01_median": ratios,
        "n_probed": len(probe),
        "n_over_15x": len(over),
        "over_15x": over,
        "over_15x_causes": {
            n: SCALE_CAUSES.get(n, "UNTRIAGED — fresh discovery")
            for n in over
        },
        "failed": failed,
        "loadavg_before": load_before,
        "loadavg_after": [round(x, 2) for x in os.getloadavg()],
    }
    if sf1_remeasured:
        out["remeasured"] = sf1_remeasured
    artifact = "BENCH_SF1_FULL.json" if full else "BENCH_SF1.json"
    with open(os.path.join(repo, artifact), "w", encoding="utf-8") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    summary = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": "sec",
        "sf": 1.0,
        "n_probed": out["n_probed"],
        "n_over_15x": out["n_over_15x"],
        "over_15x": over[:8],
        "worst_ratio": max(ratios.values()) if ratios else None,
        "full_map": artifact,
    }
    print(json.dumps(summary))


def _baseline_medians() -> dict[str, float]:
    """Warm per-query baseline medians parsed from BASELINE.md.

    Only rows at/after the 'Official WARM baseline' marker count — the
    earlier tables are the historical cold-run record the round-6 verdict
    retired from the gate. Returns {} if the file is missing/unparseable
    (bench still reports timings; it just omits ratios).
    """
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BASELINE.md")
    medians: dict[str, float] = {}
    try:
        text = open(path, encoding="utf-8").read()
    except OSError:
        return medians
    idx = text.find("Official WARM baseline")
    if idx < 0:
        return medians
    for line in text[idx:].splitlines():
        # anchored: gate rows are EXACTLY three columns (query, median,
        # min). The round-9 sf1 table is four columns (plus a ratio) —
        # an unanchored prefix match silently overrode 27 gate medians
        # with sf1 wall-clocks.
        m = re.match(
            r"\|\s*([a-z0-9_]+)\s*\|\s*([0-9.]+)\s*\|\s*([0-9.]+)\s*\|\s*$",
            line,
        )
        if m and m.group(1) != "query":
            name = m.group(1)
            if name in medians:
                # duplicate 3-column rows (a re-recorded wave row plus an
                # earlier gate row) resolve LAST-wins by file order — warn
                # loudly so an appended table can't silently shadow
                # earlier medians again (the round-9 sf1-table lesson).
                print(
                    f"WARNING: BASELINE.md has duplicate gate rows for "
                    f"{name!r} ({medians[name]} then {float(m.group(2))}); "
                    f"using the later one — dedupe the file",
                    file=sys.stderr,
                )
            medians[name] = float(m.group(2))
    return medians


def _geomean(xs: list[float]) -> float:
    import math

    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def emit(out: dict, timings: dict[str, float], sf: float, n_warmup: int, n_runs: int) -> None:
    """Print bench results driver-readably.

    The driver tail-captures the LAST ~2000 chars of stdout and json-parses
    what it finds there; round 6's single full-map line outgrew that window
    and was truncated from the front (BENCH_r06.parsed = null). So:
      1. the FULL per-query map goes to BENCH_LOCAL.json in-repo (the judge
         and regression tooling read that),
      2. per-query detail lines print FIRST (they scroll out of the tail
         harmlessly but survive in any full log),
      3. the FINAL line is a compact summary guaranteed to fit the window:
         total + per-query count + gate verdict (worst ratio vs the warm
         BASELINE.md medians, geomean, #>2x) + as many of the worst-ratio
         per-query timings as fit a hard 1800-char budget.
    """
    repo = os.path.dirname(os.path.abspath(__file__))
    # --only subsets write a SIDE file: a 3-query probe run used to
    # clobber the committed full-suite BENCH_LOCAL.json map with a
    # fragment (round 13) — the judge and the ratio tooling read the
    # full map, so only full-suite runs may replace it.
    artifact_name = (
        "BENCH_LOCAL_SUBSET.json" if "--only" in sys.argv
        else "BENCH_LOCAL.json"
    )
    with open(os.path.join(repo, artifact_name), "w", encoding="utf-8") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    # Also stamp a per-round copy (BENCH_LOCAL_r{N}.json, N = current
    # round inferred from the driver's BENCH_r{N}.json artifacts): the
    # round-7 judge's re-bench clobbered the single mutable
    # BENCH_LOCAL.json working-tree file; the stamped copy preserves each
    # round's full map. Only FULL-suite runs stamp (a --only subset would
    # shadow the real map with a fragment).
    if "--only" not in sys.argv:
        prior = [
            int(m.group(1))
            for f in os.listdir(repo)
            if (m := re.match(r"BENCH_r(\d+)\.json$", f))
        ]
        rnd = (max(prior) + 1) if prior else 0
        stamped = os.path.join(repo, f"BENCH_LOCAL_r{rnd:02d}.json")
        with open(stamped, "w", encoding="utf-8") as f:
            json.dump(out, f, indent=1, sort_keys=True)

    base = _baseline_medians()
    ratios = {n: round(t / base[n], 3) for n, t in timings.items() if base.get(n)}
    for name, t in timings.items():
        line = {"query": name, "sec": t}
        if name in ratios:
            line["baseline"] = base[name]
            line["ratio"] = ratios[name]
        print(json.dumps(line))

    summary = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "n_warmup": n_warmup,
        "n_runs": n_runs,
        "full_map": artifact_name,
    }
    if ratios:
        worst = max(ratios, key=ratios.get)
        summary["worst_ratio"] = ratios[worst]
        summary["worst_query"] = worst
        summary["geomean_ratio"] = round(_geomean(list(ratios.values())), 3)
        summary["n_over_2x"] = sum(1 for r in ratios.values() if r > 2.0)
        summary["n_with_baseline"] = len(ratios)
    if out.get("remeasured"):
        summary["n_remeasured"] = len(out["remeasured"])
        summary["total_in_session_sec"] = out["total_in_session_sec"]
    # pack the worst-ratio (else slowest) queries into the summary's
    # `queries` map until the serialized line nears the tail window
    order = sorted(timings, key=lambda n: -ratios.get(n, 0.0)) if ratios else sorted(
        timings, key=lambda n: -timings[n]
    )
    summary["queries"] = {}
    for name in order:
        summary["queries"][name] = timings[name]
        if len(json.dumps(summary)) > 1800:
            del summary["queries"][name]
            break
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
