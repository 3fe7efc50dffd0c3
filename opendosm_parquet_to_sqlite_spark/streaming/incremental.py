"""Streaming operators: stateful latest-per-key, watermarked dedup, windows.

Design notes (100 TB stance):
- latest_per_key_stream is operators.dedup.latest_per_group_maxby applied
  to a stream: the same max_by(struct, orderkey) aggregate, executed
  incrementally — state is one row per key, sharded by the grouping key
  across the state store, and update output mode emits only keys whose
  champion changed in the microbatch. The PriceCatcher top-up
  (streaming.pipeline) does not use it: its SQLite file already holds the
  champions, so it runs the batch aggregate per microbatch instead.
- dedup_within_watermark bounds state: a duplicate arriving later than the
  watermark delay is (by declaration) no longer detected, in exchange for
  state eviction — the knob the batch operators don't need.
- tumbling_window_agg_stream shares its semantics with
  operators.aggregates.tumbling_window_agg (same window, same aggregates),
  so batch backfill and streaming forward-fill produce identical rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..operators.dedup import latest_per_group_maxby


def read_stream_parquet(
    spark: SparkSession,
    path: str,
    schema: StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a parquet directory.

    The file source tracks processed files in the checkpoint — the
    exactly-once version of the reference's size-based freshness skip
    (src/main.rs:134-146). max_files_per_trigger bounds microbatch size
    for backpressure."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def latest_per_key_stream(
    sdf: DataFrame,
    group_cols: list[str],
    order_col: str,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Continuously-maintained argmax-per-key (use update output mode):
    the batch latest_per_group_maxby on a stream; state = one struct per
    key."""
    return latest_per_group_maxby(sdf, group_cols, order_col, tiebreak_cols)


def dedup_within_watermark(
    sdf: DataFrame,
    key_cols: list[str],
    ts_col: str,
    delay: str = "1 hour",
) -> DataFrame:
    """Exact-key dedup with bounded state: duplicates within the watermark
    horizon are dropped; state for keys older than `delay` is evicted.

    Watermarks require TIMESTAMP (not NTZ), so event time is tracked on a
    derived instant column (session tz is pinned UTC by the engine, so the
    NTZ wall time IS the instant); the payload keeps its original type."""
    wm = F.col(ts_col).cast("timestamp")
    return (
        sdf.withColumn("__wm", wm)
        .withWatermark("__wm", delay)
        .dropDuplicatesWithinWatermark(key_cols)
        .drop("__wm")
    )


def frontier_dedup_stream(
    sdf: DataFrame,
    url_col: str,
    ts_col: str,
    delay: str = "1 hour",
) -> DataFrame:
    """Streaming crawl-frontier dedup: canonicalize each URL (the batch
    operator's exact expression — scheme/case/www/trailing-slash/
    tracking-param/param-order noise collapses) and drop repeats of the
    same canonical form within the watermark horizon.  The live twin of
    operators/web.dedup_urls for the discover-as-you-crawl loop: state
    is one entry per DISTINCT canonical URL seen inside `delay`, evicted
    by the watermark — the frontier never grows unboundedly.

    Emits the FIRST arrival of each canonical form with the canonical
    key attached (append semantics)."""
    from ..operators.web import canonicalize_url

    canon = sdf.withColumn(
        "canonical_url", canonicalize_url(F.col(url_col))
    )
    return dedup_within_watermark(
        canon, ["canonical_url"], ts_col, delay=delay
    )


def tumbling_window_agg_stream(
    sdf: DataFrame,
    ts_col: str,
    value_col: str,
    width: str = "1 hour",
    delay: str = "1 hour",
    extra_group: list[str] | None = None,
    slide: str | None = None,
) -> DataFrame:
    """Watermarked event-time tumbling window agg — row-compatible with the
    batch tumbling_window_agg so backfill and live paths interchange.
    Event time is a derived TIMESTAMP instant (see dedup_within_watermark);
    with the engine's UTC session the emitted window_start strings are
    byte-identical to the batch operator's. `slide` turns it into the
    hopping form (batch twin: sliding_window_agg) — same watermark/state
    semantics, width/slide windows per event."""
    w = F.window(F.col("__ts"), width, slide or width)
    return (
        sdf.withColumn("__ts", F.col(ts_col).cast("timestamp"))
        .withWatermark("__ts", delay)
        .groupBy(w.alias("__w"), *(extra_group or []))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg(value_col), 4).alias("avg_value"),
        )
        .select(
            F.date_format("__w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            *(extra_group or []),
            "n_events",
            "avg_value",
        )
    )


def session_agg_stream(
    sdf: DataFrame,
    ts_col: str,
    key_cols: list[str],
    gap: str = "30 minutes",
    value_col: str | None = None,
    delay: str = "1 hour",
) -> DataFrame:
    """Watermarked streaming session windows — the live twin of
    operators.aggregates.session_agg, built on the SAME session_window
    expression so a drained stream is row-identical to the batch
    operator (tests/test_streaming.py pins it).

    Semantics: sessions merge while consecutive gaps are <= gap; a
    session closes (and emits, in append mode) once the watermark passes
    its end — so state per key is bounded by the watermark delay, and
    late events beyond it are dropped rather than reopening a closed
    session (route those through the batch backfill twin).  Session
    merging ACROSS microbatches is handled by Spark's session-window
    state store; unlike the EWMA recurrence there is no ordering
    contract on the source beyond the watermark."""
    w = F.session_window(F.col("__ts"), gap)
    aggs = [F.count(F.lit(1)).alias("n_events")]
    if value_col is not None:
        aggs.append(F.round(F.avg(value_col), 4).alias("avg_value"))
    return (
        sdf.withColumn("__ts", F.col(ts_col).cast("timestamp"))
        .withWatermark("__ts", delay)
        .groupBy(w, *key_cols)
        .agg(*aggs)
        .select(
            *key_cols,
            F.date_format(
                "session_window.start", "yyyy-MM-dd HH:mm:ss"
            ).alias("session_start"),
            "n_events",
            *(["avg_value"] if value_col is not None else []),
        )
    )


def enrich_stream(
    stream: DataFrame,
    dim: DataFrame,
    on: str | list[str],
    how: str = "left",
    hint_broadcast: bool = True,
) -> DataFrame:
    """Stream-static enrichment join: decorate a stream with dimension
    attributes (user → segment, item → category). Spark re-executes the
    static side every microbatch, but a plain parquet path PINS its file
    listing when the DataFrame is created — overwritten/appended dim
    files are NOT picked up (and overwrites can fail the query with
    FILE_NOT_EXIST). For a live dim use `enrich_stream_live` (re-reads
    the dim inside foreachBatch each microbatch), back it with a catalog
    table and REFRESH TABLE, or restart the query.

    The broadcast hint is the whole 100 TB story: an un-hinted
    stream-static join shuffles EACH microbatch on the key, while a
    broadcast dim makes enrichment a narrow map over the stream — the
    stream side never exchanges. Set hint_broadcast=False only when the
    dim genuinely exceeds broadcast size; then pre-bucket both sides on
    the key instead. Only stateless modes are allowed here ('inner' /
    'left'): right/full-outer stream-static is either unsupported by
    Spark or requires watermark state — use join_streams_interval for
    stream-stream semantics.
    """
    if how not in ("inner", "left"):
        raise ValueError(
            f"enrich_stream supports how='inner'|'left', got {how!r}"
        )
    d = F.broadcast(dim) if hint_broadcast else dim
    return stream.join(d, on, how)


def enrich_stream_live(
    stream: DataFrame,
    dim_path: str,
    on: str | list[str],
    foreach_batch,
    checkpoint_dir: str,
    how: str = "left",
    hint_broadcast: bool = True,
) -> None:
    """`enrich_stream` for a LIVE dimension: the documented escape hatch
    for the file-listing pin, shipped as a helper.  A static DataFrame
    created once pins its parquet file listing for the life of the query
    (overwrites are invisible or fatal); here the dim is re-read from
    `dim_path` INSIDE foreachBatch — `spark.read.parquet` re-lists files
    per microbatch, so a dim overwritten between batches is reflected in
    the next batch, with each batch seeing one consistent snapshot.

    foreach_batch(df, batch_id) receives each ENRICHED microbatch.  Same
    mode restriction as enrich_stream ('inner'/'left': stateless), same
    broadcast stance — the per-batch join broadcasts the freshly-read dim,
    so the stream side still never exchanges; the added cost vs the pinned
    path is one dim re-read per microbatch (metadata + dim-sized IO, not
    stream-sized — size trigger intervals accordingly).  Drains with
    availableNow and checkpointed exactly-once progress like
    run_available_now.
    """
    if how not in ("inner", "left"):
        raise ValueError(
            f"enrich_stream_live supports how='inner'|'left', got {how!r}"
        )

    def _enrich_then(batch_df: DataFrame, batch_id: int) -> None:
        dim = batch_df.sparkSession.read.parquet(dim_path)
        d = F.broadcast(dim) if hint_broadcast else dim
        foreach_batch(batch_df.join(d, on, how), batch_id)

    run_available_now(
        stream, checkpoint_dir, _enrich_then, output_mode="append"
    )


def run_available_now(
    out: DataFrame,
    checkpoint_dir: str,
    foreach_batch,
    output_mode: str = "update",
) -> None:
    """Drain everything available, batch by batch, then stop — the
    reference's daily-cron run shape (script.sh:2-4) with checkpointed
    exactly-once progress. foreach_batch(df, batch_id) receives each
    microbatch; for update-mode aggregates it sees only changed keys,
    making it the natural upsert-merge hook."""
    q = (
        out.writeStream.outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(foreach_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def maintain_agg_stream(
    stream: DataFrame,
    state_path: str,
    keys: list[str],
    value_col: str,
    checkpoint_dir: str,
) -> None:
    """Streaming twin of operators.incremental.maintain_agg_dataset:
    every microbatch folds its mergeable partials (n/sum/sumsq/min/max
    per key) into the standing state parquet via write-then-swap. The
    monoid property (fuzz-pinned batch-side) is what makes the pairing
    sound: microbatch boundaries are arbitrary splits, and arbitrary
    splits cannot change the finalized result — a drained stream's state
    equals the one-shot batch aggregation exactly
    (tests/test_streaming.py pins it).

    Exactly-once from at-least-once: foreachBatch may REDELIVER a batch
    (crash after maintenance, before checkpoint commit) and additive
    state would double-count it — so the streaming batch_id is passed
    through to maintain_agg_dataset, which records it in a marker that
    swaps atomically WITH the state and skips any batch id it has
    already applied. Each microbatch costs one batch-sized partial agg
    + a key-sized merge; the stream's history is never re-read.
    """
    from ..operators import incremental as _inc

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        _inc.maintain_agg_dataset(
            batch_df.sparkSession, state_path, batch_df, keys, value_col,
            batch_id=batch_id,
        )

    run_available_now(stream, checkpoint_dir, _fold, output_mode="append")


def drift_monitor_stream(
    stream: DataFrame,
    baseline_path: str,
    value_col: str,
    group_cols: list[str],
    checkpoint_dir: str,
    report_sink,
    n_bins: int = 10,
    metric: str = "psi",
) -> None:
    """Live drift monitor: every microbatch is scored against the
    pinned baseline parquet. metric='psi' (numeric features — bin
    counts, operators.features.psi_drift; psi > 0.25 = shifted, the
    standard reading) or metric='js' (CATEGORICAL features —
    features.js_divergence: bounded [0, ln 2], symmetric, defined on
    disjoint support, so a brand-new category in a microbatch scores
    finite instead of exploding a KL term). Either way the batch score
    equals the batch operator run on the same slice (test-pinned).
    report_sink(report_df, batch_id) receives each microbatch's
    per-group report; route it to an alert table or threshold check.

    The baseline is re-read per microbatch from `baseline_path` (the
    enrich_stream_live escape hatch: a pinned DataFrame would freeze its
    file listing), so re-baselining is an atomic parquet overwrite away.
    Per-batch cost: baseline-bounds agg + batch-sized bin counts — the
    batch's value stream never shuffles; empty microbatches emit an
    empty report rather than a spurious all-drifted one.
    """
    from ..operators import features as _features

    if metric not in ("psi", "js"):
        raise ValueError(f"unknown drift metric {metric!r} (psi | js)")

    def _score(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        baseline = batch_df.sparkSession.read.parquet(baseline_path)
        if metric == "psi":
            report = _features.psi_drift(
                baseline, batch_df, value_col, group_cols, n_bins=n_bins
            )
        else:
            report = _features.js_divergence(
                baseline, batch_df, value_col, group_cols
            )
        report_sink(report, batch_id)

    run_available_now(stream, checkpoint_dir, _score, output_mode="append")


def contamination_monitor_stream(
    stream: DataFrame,
    benchmark_path: str,
    checkpoint_dir: str,
    report_sink,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    ndigits: int = 6,
    max_benchmark: int = 1_000_000,
) -> None:
    """Live semantic decontamination: every microbatch of corpus vectors
    is scored against the pinned benchmark embeddings via
    contamination.semantic_overlap — max cosine per row + contaminated
    flag — completing the streaming decontamination family (exact n-gram
    probes stream through the persisted-index pattern; the drift
    monitors stream their pinned-baseline scorers; this is the newest
    gate of the flagship composition, the modality those miss).

    Same stateless shape as drift_monitor_stream: no state store, no
    watermark — the benchmark matrix is the only cross-batch context,
    and it is re-read from `benchmark_path` per microbatch (a pinned
    DataFrame would freeze its file listing; re-benchmarking is an
    atomic parquet overwrite away). Within one microbatch the guard and
    the matrix see the SAME benchmark version: semantic_overlap's
    max_benchmark guard and its matrix collect are one limit(cap+1) job
    over one snapshot (ADVICE r12 — a separate count() job let an
    overwrite land between guard and collect). Per-batch cost: one
    eval-suite-sized collect (bounded by that same contract) plus
    one BLAS matmul per Arrow batch of the microbatch — the batch's
    vectors never shuffle. Empty microbatches emit nothing; an empty
    benchmark yields NULL max_cosine / contaminated 0 for every row
    (nothing to collide with), exactly the batch operator's contract.

    report_sink(report_df, batch_id) receives each microbatch's
    (id_col, max_cosine, contaminated) rows; route contaminated == 1 to
    a quarantine table or drop them before the ingest sink.
    """
    from ..operators import contamination as _contamination

    def _score(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        bench = batch_df.sparkSession.read.parquet(benchmark_path)
        report = _contamination.semantic_overlap(
            batch_df,
            bench,
            vec_col=vec_col,
            id_col=id_col,
            threshold=threshold,
            ndigits=ndigits,
            max_benchmark=max_benchmark,
        )
        report_sink(report, batch_id)

    run_available_now(stream, checkpoint_dir, _score, output_mode="append")


def media_dedup_stream(
    sdf: DataFrame,
    payload_col: str,
    ts_col: str,
    modality: str = "image",
    delay: str = "1 hour",
) -> DataFrame:
    """Streaming media dedup: fingerprint each arriving payload (64-bit
    perceptual hash via an Arrow pandas_udf — a map-type op, legal on
    streams) and drop repeats of the same fingerprint within the
    watermark horizon. The live twin of the batch dedup_image_phash /
    dedup_audio_fp family for ingest-as-you-crawl: re-encoded copies of
    the same pixels/PCM hash IDENTICALLY and collapse to the first
    arrival; state is one entry per distinct fingerprint inside `delay`,
    watermark-evicted.

    Scope contract: streaming state dedups EXACT fingerprint matches
    (hamming 0 — which is where re-encodes land). Near-dup banding
    (hamming ≤ d) needs the pair search and belongs to the batch path;
    run it over the accumulated corpus, as corpus_clean does for text.
    Emits the first arrival with the fingerprint attached (append
    semantics)."""
    from ..operators.mediadedup import with_media_phash

    hashed = with_media_phash(sdf, payload_col, modality=modality)
    return dedup_within_watermark(hashed, ["phash"], ts_col, delay=delay)


def heavy_hitters_stream(
    stream: DataFrame,
    state_path: str,
    item_col: str,
    checkpoint_dir: str,
    capacity: int = 4096,
) -> None:
    """Streaming heavy hitters: every microbatch's Misra-Gries summary
    folds into the capacity-bounded standing summary (operators.
    incremental.maintain_mg_dataset) — the live "what's trending"
    tracker whose state never grows past `capacity` rows no matter how
    long the stream runs or how large the item universe is.  Same
    exactly-once batch-id marker discipline as the other maintainers
    (redelivered microbatches are skipped, not re-added — additive
    state double-counts otherwise).  With capacity ≥ the universe the
    drained state is EXACT counts under any microbatch split
    (test-pinned); undersized capacity degrades to the documented
    one-sided MG bound."""
    from ..operators import incremental as _inc

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        _inc.maintain_mg_dataset(
            batch_df.sparkSession, state_path, batch_df, item_col,
            capacity=capacity, batch_id=batch_id,
        )

    run_available_now(stream, checkpoint_dir, _fold, output_mode="append")


def eval_monitor_stream(
    stream: DataFrame,
    score_col: str,
    label_col: str,
    thresholds: list[float],
    checkpoint_dir: str,
    report_sink,
) -> None:
    """Live model-quality monitor: every microbatch of (score, delayed
    label) pairs is scored into a per-threshold precision/recall/F1
    report (operators.stats.classification_report) — the deployed-model
    twin of drift_monitor_stream (drift watches the INPUTS move; this
    watches the decision quality itself degrade once ground-truth labels
    arrive, which is what pages the on-call when a threshold stops
    working).

    Per-batch semantics == the batch operator on the same slice
    (test-pinned): each microbatch report stands alone, so a regression
    is attributable to ITS window rather than smeared into a lifetime
    average; route `report_sink(report_df, batch_id)` to an alert table
    and compare against the deployment's acceptance row.  Empty
    microbatches emit nothing rather than a spurious all-zero report.

    Per-batch cost: one constant-factor threshold explode + one
    partial-combined agg (classification_report's shape) over the batch
    only — no state store, no corpus re-read.
    """
    from ..operators import stats as _stats

    if not thresholds:
        raise ValueError("thresholds must be non-empty")

    def _score(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        report = _stats.classification_report(
            batch_df, score_col, label_col, thresholds
        )
        report_sink(report, batch_id)

    run_available_now(stream, checkpoint_dir, _score, output_mode="append")
