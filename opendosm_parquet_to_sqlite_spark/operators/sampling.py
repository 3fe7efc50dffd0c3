"""Deterministic sampling, split assignment, and sequence packing — the
data-mixing layer of a training pipeline.

Everything here is HASH-deterministic, not RNG-based: a row's fate depends
only on its key, never on partitioning, task retries, or cluster size —
the property that makes 100 TB runs reproducible and incremental (a doc
ingested tomorrow lands in the same split as it would have today). The
hash is md5 over a namespaced key, compared LEXICOGRAPHICALLY on a hex
prefix against a rate threshold — portable to any engine with md5 (the
DuckDB oracles reproduce it byte-for-byte; no engine-specific hash()).

All three operators are narrow maps or block-local windows: zero corpus
shuffle for sample/split; packing exchanges only within deterministic
(stratum, block) slices sized to one task.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from . import text as text_ops

HEX_WIDTH = 8  # 32 bits of the digest: rate resolution 1/2^32


def rate_to_hex(rate: float) -> str:
    """Threshold h such that P[md5_prefix < h] == rate for a uniform
    digest: h = rate * 16^W zero-padded to exactly W hex digits, compared
    lexicographically against the W-char digest prefix. rate == 1.0 would
    need W+1 digits ('1000…'), which sorts BELOW 'f…' lexicographically —
    returned as 'g' instead, which sorts above every hex digit (keep-all
    sentinel)."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0,1], got {rate}")
    cut = int(round(rate * 16**HEX_WIDTH))
    if cut >= 16**HEX_WIDTH:
        return "g"
    return format(cut, f"0{HEX_WIDTH}x")


def _bucket(namespace: str, key: Column) -> Column:
    """Lexicographic md5-prefix bucket of namespace:key."""
    return F.substring(
        F.md5(F.concat(F.lit(namespace + ":"), key.cast("string"))),
        1,
        HEX_WIDTH,
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
    namespace: str = "sample",
) -> DataFrame:
    """Keep each row with its stratum's rate, decided by hash(id) — the
    data-mixing primitive (e.g. upweight curated sources, downsample web
    crawl). Deterministic: the kept set is a pure function of (namespace,
    id), independent of execution. Narrow filter, no shuffle."""
    thresh = F.lit(rate_to_hex(default_rate))
    for stratum, rate in sorted(rates.items()):
        thresh = F.when(
            F.col(strata_col) == stratum, F.lit(rate_to_hex(rate))
        ).otherwise(thresh)
    return df.filter(_bucket(namespace, F.col(id_col)) < thresh)


def split_assign(
    df: DataFrame,
    id_col: str,
    splits: list[tuple[str, float]] | None = None,
    namespace: str = "split",
) -> DataFrame:
    """Append a `split` column by hash-range: [("train", .9), ("val", .05),
    ("test", .05)] carves the digest space into contiguous bands. Fractions
    must sum to 1. Same determinism contract as stratified_sample."""
    splits = splits or [("train", 0.9), ("val", 0.05), ("test", 0.05)]
    total = sum(f for _, f in splits)
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split fractions must sum to 1, got {total}")
    bucket = _bucket(namespace, F.col(id_col))
    expr = F.lit(splits[-1][0])  # last band absorbs rounding residue
    acc = 0.0
    # build the when-chain from the first band: bucket < cum_1 -> s1, ...
    conds = []
    for name, frac in splits[:-1]:
        acc += frac
        conds.append((name, rate_to_hex(acc)))
    for name, cut in reversed(conds):
        expr = F.when(bucket < F.lit(cut), F.lit(name)).otherwise(expr)
    return df.withColumn("split", expr)


def pack_sequences(
    df: DataFrame,
    id_col: str,
    token_count_col: Column,
    budget: int,
    strata_col: str | list[str] | None = None,
    block_size: int = 4096,
    length_sorted: bool = False,
    split_docs: bool = False,
) -> DataFrame:
    """Greedy sequential packing of documents into training sequences of at
    most `budget` tokens (+ at most one overflowing doc — the standard
    concat-then-chunk tokenizer feed; docs are not split by default).

    split_docs=True first chops every document into (doc_id, chunk_idx)
    pieces of at most `budget` tokens (sequence-generate + explode — still
    a narrow map), then packs the pieces. The greedy overflow bound
    tightens from unbounded (one arbitrarily long doc) to one
    budget-sized piece — every sequence total is < 2·budget — matching
    tokenizer feeds that chunk long documents before packing. Chunk sizes
    are budget, budget, ..., remainder; a 0-token
    doc keeps one 0-token chunk so no row silently disappears. Mass is
    conserved: sum(chunk tokens) per doc == doc tokens. NOTE: one row
    explodes into ceil(n_tokens/budget) rows — pre-truncate pathological
    documents (e.g. GB-sized) upstream rather than exploding them here.

    length_sorted=True fills each block in (n_tokens, doc_id) order
    instead of plain id order — LENGTH GROUPING: neighbors have similar
    lengths, so sequences overflow less and waste less padding. Still
    fully deterministic (doc_id breaks length ties) and block-local.

    seq_id is assigned by a running token sum in deterministic id order
    WITHIN a (stratum, block) slice, where block = id div block_size. The
    window never spans more than block_size rows, so each packing task is
    O(block) regardless of corpus size — embarrassingly parallel, at the
    cost of at most one underfull sequence per block boundary. A single
    global window (no blocks) would serialize the whole corpus through one
    partition: the classic unbounded-window scale trap.

    Output: (doc_id[, chunk_idx][, *strata], block, seq_in_block,
    n_tokens, cum_tokens) where cum_tokens is the running total within the
    sequence's block (chunk_idx only with split_docs=True, where n_tokens
    is the CHUNK's size). Multiple strata columns (e.g. [source, split])
    keep sequences from mixing rows across a boundary that must stay
    separate — a train/val leak if packed together.
    """
    if strata_col is None:
        strata_names: list[str] = []
    elif isinstance(strata_col, str):
        strata_names = [strata_col]
    else:
        strata_names = list(strata_col)
    strata = [F.col(c) for c in strata_names]
    # Integer `div`, NOT float `/`+cast: double division loses integer
    # precision above 2^53, which would silently assign wrong blocks at
    # extreme id ranges and diverge from the oracle's integer `//`.
    block = F.expr(
        f"CAST(`{id_col}` AS BIGINT) div {int(block_size)}"
    ).alias("block")
    base = df.select(
        F.col(id_col).alias("doc_id"),
        *strata,
        block,
        token_count_col.cast("long").alias("n_tokens"),
    )
    extra_cols: list[str] = []
    order = (
        [F.col("n_tokens"), F.col("doc_id")] if length_sorted
        else [F.col("doc_id")]
    )
    if split_docs:
        b = int(budget)
        # chunk_idx 0 .. max(ceil(n/budget)-1, 0): integer `div` (same
        # 2^53 rationale as block), greatest(...,0) keeps empty docs as a
        # single 0-token chunk instead of a reversed (start>stop) sequence
        chunked = base.select(
            "doc_id",
            *strata_names,
            "block",
            F.col("n_tokens").alias("__doc_tokens"),
            # 0L start => array<bigint>, so explode emits long directly
            # (a generator cannot be nested inside a cast expression)
            F.explode(
                F.expr(f"sequence(0L, greatest((`n_tokens` - 1) div {b}, 0))")
            ).alias("chunk_idx"),
        )
        base = chunked.select(
            "doc_id",
            "chunk_idx",
            *strata_names,
            "block",
            F.greatest(
                F.least(
                    F.lit(b).cast("long"),
                    F.col("__doc_tokens") - F.col("chunk_idx") * b,
                ),
                F.lit(0).cast("long"),
            ).alias("n_tokens"),
        )
        extra_cols = ["chunk_idx"]
        order = (
            [F.col("n_tokens"), F.col("doc_id"), F.col("chunk_idx")]
            if length_sorted
            else [F.col("doc_id"), F.col("chunk_idx")]
        )
    w = (
        Window.partitionBy(*strata, F.col("block"))
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    return base.select(
        "doc_id",
        *extra_cols,
        *strata,
        "block",
        F.floor((cum - F.col("n_tokens")) / F.lit(budget))
        .cast("long")
        .alias("seq_in_block"),
        "n_tokens",
        cum.cast("long").alias("cum_tokens"),
    )


def chunk_documents(
    df: DataFrame,
    text_col: str,
    id_col: str,
    chunk_tokens: int = 256,
    overlap_tokens: int = 32,
) -> DataFrame:
    """Overlapping token-window chunking for retrieval / RAG indexing:
    split each document into chunks of `chunk_tokens` whitespace tokens,
    adjacent chunks sharing `overlap_tokens` (stride = chunk - overlap).
    Complements `pack_sequences(split_docs=True)`, which chunks token
    COUNTS for the training feed — this materializes the chunk TEXT for an
    embedding/indexing pass (the text is re-joined with single spaces: the
    tokenizer is whitespace-split, so only intra-doc whitespace runs are
    normalized).

    n_chunks = max(ceil((n_tokens - overlap) / stride), 1): the final
    chunk may be short, no chunk starts beyond the text, and an empty OR
    NULL doc keeps ONE empty chunk so no row silently disappears (NULL
    text is coalesced to '' before tokenizing — without that, NULL would
    propagate through size()/slice() and the invariant would only hold if
    callers normalized upstream).

    Output: (doc_id, chunk_idx, n_chunk_tokens, chunk_text).

    Shape: tokenize → sequence-generate chunk starts → explode → slice —
    an entirely NARROW map (zero exchanges, scan-speed at any scale). One
    row fans to ceil(n/stride) rows: pre-truncate pathological documents
    upstream rather than exploding them here (same note as pack_sequences).
    """
    if overlap_tokens >= chunk_tokens:
        raise ValueError(
            f"overlap_tokens ({overlap_tokens}) must be < chunk_tokens "
            f"({chunk_tokens})"
        )
    stride = int(chunk_tokens) - int(overlap_tokens)
    with_toks = df.select(
        F.col(id_col).alias("doc_id"),
        text_ops.tokens(F.coalesce(F.col(text_col), F.lit(""))).alias(
            "__toks"
        ),
    )
    # chunk_idx 0..n_chunks-1; integer `div` (not float ceil) for the same
    # 2^53 reasons as pack_sequences' block arithmetic
    chunks = with_toks.select(
        "doc_id",
        "__toks",
        F.explode(
            F.expr(
                "sequence(0L, greatest("
                f"  (size(__toks) - {int(overlap_tokens)} + {stride} - 1)"
                f"  div {stride} - 1, 0))"
            )
        ).alias("chunk_idx"),
    )
    piece = F.expr(
        f"slice(__toks, chunk_idx * {stride} + 1, {int(chunk_tokens)})"
    )
    return chunks.select(
        "doc_id",
        "chunk_idx",
        F.size(piece).cast("long").alias("n_chunk_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


def sample_per_group(
    df: DataFrame,
    group_cols: str | list[str],
    k: int,
    id_col: str,
    prefilter_threshold: int | None = None,
) -> DataFrame:
    """Deterministic uniform-without-replacement sample of up to `k` rows
    per group: rank rows inside each group by md5(id) — a fixed, seedless
    pseudo-random order — and keep rank <= k. The per-group analog of
    `sample_stratified` (which keeps a FRACTION per stratum; this keeps a
    COUNT — the shape needed for per-domain caps, eval-set carving, and
    inspection samples).

    Output: input columns + sample_rank (1-based within the group).

    Shape: one exchange on the group key + per-group sort on the 128-bit
    digest; Spark plans the rank-filter as WindowGroupLimit, so each
    partition keeps only its local top-k BEFORE the exchange — the shuffle
    carries O(partitions·k) rows per group, not the group's full mass.

    Hot-group guard (`prefilter_threshold=n`): WindowGroupLimit still
    SCANS and locally SORTS every row of a hot group; for groups whose
    count exceeds the threshold, an extra digest pre-filter drops rows
    BEFORE the window — keep only rows whose first-8-hex digest prefix
    falls below cap = ceil((4k+256)/|group| · 2^32). The prefix order is a
    prefix of the full digest rank order, so the kept set is downward-
    closed under the ranking: as long as ≥ k rows survive, the top-k is
    IDENTICAL to the unfiltered result. Expected survivors are 4k+256
    regardless of group size, so the undershoot probability is
    Chernoff-bounded below exp(-(3k+256)²/(8k+512)) < 1e-100 — negligible
    even across billions of groups. Costs one extra count aggregation
    (group-count-sized exchange + broadcast back); worth it exactly when
    a cheap count says groups are ≫ k.
    """
    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    rank_key = F.md5(F.col(id_col).cast("string"))
    if prefilter_threshold is not None:
        counts = df.groupBy(
            *[F.col(g).alias(f"__g_{g}") for g in groups]
        ).agg(F.count(F.lit(1)).alias("__n"))
        cond = None
        for g in groups:
            c = F.col(g).eqNullSafe(F.col(f"__g_{g}"))
            cond = c if cond is None else cond & c
        prefix = F.conv(F.substring(rank_key, 1, 8), 16, 10).cast("long")
        cap = F.ceil(
            F.lit((4.0 * k + 256.0) * 4294967296.0) / F.col("__n")
        ).cast("long")
        df = (
            df.join(F.broadcast(counts), cond)
            .filter(
                (F.col("__n") <= int(prefilter_threshold)) | (prefix < cap)
            )
            .select(*df.columns)
        )
    w = Window.partitionBy(*[F.col(g) for g in groups]).orderBy(
        rank_key, F.col(id_col)
    )
    return (
        df.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= int(k))
    )


def domain_mix(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    weights: dict[str, float],
    target_rows: float,
    namespace: str = "mix",
) -> DataFrame:
    """Reweight the corpus to a target domain mixture — the data-mixing
    step proper (DoReMi/Pile-style fixed domain weights): produce a sample
    of ~`target_rows` rows where domain s contributes share `weights[s]`,
    DOWN-sampling overrepresented domains and UP-sampling (replicating —
    "multiple epochs") underrepresented ones.

    Per domain the replication rate is  r_s = target_rows * w_s / n_s.
    Each row is expanded to ceil(r_s) candidate copies (copy_idx
    0..ceil(r_s)-1) and copy c survives iff

        hex64(md5(namespace:id:c)) < (r_s - c) * 2^32

    so copies below floor(r_s) always survive and the fractional copy
    survives with probability frac(r_s) — in expectation exactly r_s
    copies per row, deterministically: a row's copies are a pure function
    of (namespace, id), independent of partitioning or cluster size, and
    stable under incremental ingest. Domains absent from `weights`
    contribute nothing; a weight for a domain with no rows is ignored
    (nothing to replicate).

    Scale: one partial-agg pass collects the per-domain COUNTS to the
    driver (domains number in the thousands at worst — this is metadata,
    not data), the tiny (domain, rate, copies) plan broadcasts back, and
    the expansion itself is a narrow explode+filter: no corpus shuffle at
    all. Weights must be the intended SHARES (validated to sum to 1);
    they are deliberately NOT renormalized, so the rate arithmetic is
    reproducible engine-for-engine from the literals.

    Returns (id_col, strata_col, copy_idx). sum(expected rows) ==
    target_rows * (covered-domain share of weights).
    """
    total_w = sum(weights.values())
    if abs(total_w - 1.0) > 1e-9:
        raise ValueError(f"domain weights must sum to 1, got {total_w}")
    if target_rows <= 0:
        raise ValueError(f"target_rows must be positive, got {target_rows}")
    counts = {
        r[0]: r[1]
        for r in df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("n")).collect()
        if r[0] in weights
    }
    plan = [
        # rate left-assoc: (target_rows * w) / n — the oracle mirrors it.
        # rate <= 0 (zero weight) is excluded outright: sequence(0L, -1)
        # would DESCEND and emit phantom negative copy indices
        (s, float(target_rows) * weights[s] / n)
        for s, n in sorted(counts.items())
        if weights[s] > 0
    ]
    if not plan:
        return df.sparkSession.createDataFrame(
            [], schema=f"{id_col} long, {strata_col} string, copy_idx long"
        )
    spark = df.sparkSession
    rates = spark.createDataFrame(
        [(s, r, int(math.ceil(r))) for s, r in plan],
        schema=f"{strata_col} string, rate double, copies long",
    )
    digest = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit(namespace + ":"),
                    F.col(id_col).cast("string"),
                    F.lit(":"),
                    F.col("copy_idx").cast("string"),
                )
            ),
            1,
            HEX_WIDTH,
        ),
        16,
        10,
    ).cast("long")
    return (
        df.select(F.col(id_col), F.col(strata_col))
        .join(F.broadcast(rates), strata_col)
        .select(
            id_col,
            strata_col,
            "rate",
            F.explode(
                F.expr("sequence(0L, copies - 1)")
            ).alias("copy_idx"),
        )
        .filter(digest < (F.col("rate") - F.col("copy_idx")) * F.lit(2.0**32))
        .select(id_col, strata_col, "copy_idx")
    )


def weighted_sample_per_group(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    group_cols: str | list[str] | None = None,
    namespace: str = "ws",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement, k per group —
    the Efraimidis–Spirakis exponential-key scheme (public algorithm):
    each row gets key = -ln(u)/w with u uniform in (0,1], and the k
    SMALLEST keys per group are an exact weighted sample without
    replacement.  The u here is not a PRNG draw but a pure hash of
    (namespace, id) — the same seedless-determinism contract as
    stratified_sample/sample_per_group: a row's fate is a function of
    its identity, reproducible under repartitioning, retries, and
    incremental reruns, and portable to any engine with md5 (the oracle
    recomputes the identical keys in SQL).

    u = (hex52(md5(namespace:id)) + 1) / (2^52 + 1): 13 hex chars = 52
    bits, exactly representable in a double on both engines; the +1
    keeps u strictly positive so ln is finite.  Rows with weight <= 0 or
    NULL are excluded (zero-weight items have selection probability 0 in
    the scheme; excluding them is the continuous limit, and silent
    inclusion would be wrong in both directions).

    Shape: narrow key projection → per-group top-k window, which Spark
    plans as WindowGroupLimit (partial per-partition top-k BEFORE the
    group exchange, final after) — the same scale shape as
    sample_per_group; the exchange carries at most partitions·groups·k
    rows regardless of data size.
    """
    groups: list[str]
    if group_cols is None:
        groups = []
    elif isinstance(group_cols, str):
        groups = [group_cols]
    else:
        groups = list(group_cols)
    w = F.col(weight_col).cast("double")
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(namespace + ":"),
                        F.col(id_col).cast("string"),
                    )
                ),
                1,
                13,
            ),
            16,
            10,
        ).cast("double")
        + F.lit(1.0)
    ) / F.lit(float((1 << 52) + 1))
    key = -F.log(u) / w
    win = Window.partitionBy(
        *[F.col(g) for g in groups]
    ).orderBy(key.asc(), F.col(id_col).asc())
    return (
        df.filter(w.isNotNull() & (w > 0))
        .withColumn("__rn", F.row_number().over(win))
        .filter(F.col("__rn") <= int(k))
        .drop("__rn")
    )


def fold_assign(
    df: DataFrame,
    id_col: str,
    k: int = 5,
    namespace: str = "fold",
) -> DataFrame:
    """Deterministic k-fold assignment for cross-validation: the digest
    space carves into k equal md5 bands (split_assign with uniform
    fractions), emitted as an int `fold` in [0, k). Same determinism
    contract as every sampler here: a pure function of (namespace, id) —
    adding rows never reassigns existing ones, reruns and repartitions
    agree, and fold_assign(k)(x) stays stable across engines (the band
    cuts are plain hex-prefix compares, restatable in any SQL). Narrow
    projection, no shuffle."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    splits = [(str(i), 1.0 / k) for i in range(k)]
    out = split_assign(df, id_col, splits, namespace)
    return out.withColumn("fold", F.col("split").cast("int")).drop("split")


def neyman_allocation(
    df: DataFrame,
    strata_col: str,
    value_col: str,
    total_n: int,
) -> DataFrame:
    """Minimum-variance sample-budget allocation across strata [Neyman
    1934]: n_h ∝ N_h·S_h — strata that are LARGE or internally VARIABLE
    earn more of the budget, which is how a fixed labeling/eval budget
    buys the tightest estimate of a corpus mean (uniform and
    proportional allocation are both strictly worse unless all strata
    share one stddev). The quality-audit budget question ("which 10k
    docs do we hand-review") is exactly this.

    Output per stratum: (stratum, n_rows, std_value, alloc_n,
    alloc_rate 6 dp) with alloc_n = round(total_n · N_h S_h / Σ N S)
    capped at N_h (can't sample more rows than exist; single-value
    strata have S=0 and draw nothing — by design: their mean is already
    exact from any single row).

    Shape: ONE partial-combined stats agg to a strata-sized table;
    allocation is narrow arithmetic over it. Feed the rates into
    stratified_sample for the deterministic draw."""
    s = df.groupBy(F.col(strata_col).alias("stratum")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.coalesce(F.stddev_pop(F.col(value_col)), F.lit(0.0)).alias(
            "__s"
        ),
    )
    tot = s.agg(
        F.sum(F.col("n_rows") * F.col("__s")).alias("__tot")
    )
    j = s.crossJoin(F.broadcast(tot))
    alloc = F.when(
        F.col("__tot") > 0,
        F.round(
            F.lit(int(total_n)) * F.col("n_rows") * F.col("__s")
            / F.col("__tot")
        ),
    ).otherwise(F.lit(0.0))
    alloc_capped = F.least(alloc, F.col("n_rows").cast("double"))
    return j.select(
        "stratum",
        F.col("n_rows").cast("long"),
        F.round(F.col("__s"), 6).alias("std_value"),
        alloc_capped.cast("long").alias("alloc_n"),
        F.round(alloc_capped / F.col("n_rows"), 6).alias("alloc_rate"),
    )


def temporal_split(
    df: DataFrame,
    ts_col: str,
    train_frac: float = 0.7,
    embargo_s: float = 86400.0,
) -> DataFrame:
    """Time-ordered train/test split with an embargo gap — the split
    discipline for forecasting / next-event models where a random split
    leaks the future into training.  Rows at or before the train_frac
    time-quantile are `train`; the next `embargo_s` seconds are
    `embargo` (excluded from both sides, so features with trailing
    windows computed on train can't overlap test's lookback); the rest
    are `test`.  Companion to split_leakage_free (which splits by
    duplicate cluster) — this one splits by the clock.

    The cutoff is the linearly-interpolated train_frac quantile of the
    timestamp in epoch MICROSECONDS, floored to a long — a deterministic
    pure function of the data (no RNG), restatable in any SQL with
    quantile_cont (same R-7 interpolation as Spark's percentile).  Micros
    up to year ~2255 stay exactly representable in the double the
    interpolation passes through, so the floor is engine-stable.

    NULL timestamps land in `test` (the conservative side: an undatable
    row must never train) — explicitly, not by three-valued accident.

    Output: input columns + `split` STRING.

    Shape: ONE partial-combined aggregation to a single cutoff row,
    broadcast back over a 1-row cross join, then a narrow projection —
    no corpus shuffle at any scale.  The follow-up scan of one side
    pushes `split`'s underlying timestamp comparison down to parquet
    row-group min/max stats when materialized partitioned-by-split.
    """
    if not 0.0 < train_frac < 1.0:
        raise ValueError(f"train_frac must be in (0,1), got {train_frac}")
    if embargo_s < 0:
        raise ValueError(f"embargo_s must be >= 0, got {embargo_s}")
    # parquet TIMESTAMP lands as TIMESTAMP_NTZ; the session tz is pinned
    # UTC (session.py), so the cast to TIMESTAMP is wall-clock identity
    # and unix_micros equals DuckDB's epoch_us of the same naive value
    eps = F.unix_micros(F.col(ts_col).cast("timestamp"))
    cut = df.filter(F.col(ts_col).isNotNull()).select(
        F.floor(F.percentile(eps, F.lit(float(train_frac))))
        .cast("long")
        .alias("__cut")
    )
    embargo_us = int(round(embargo_s * 1_000_000))
    return df.crossJoin(F.broadcast(cut)).select(
        *df.columns,
        F.when(eps.isNull(), F.lit("test"))
        .when(eps <= F.col("__cut"), F.lit("train"))
        .when(eps <= F.col("__cut") + F.lit(embargo_us), F.lit("embargo"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


def temperature_mix(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    alpha: float = 0.5,
    target_rows: float = 100_000,
    namespace: str = "tmix",
) -> DataFrame:
    """Temperature-scaled domain mixture — the multilingual/multi-domain
    rebalancing standard (mBERT/XLM-R exponential smoothing; T5's
    temperature sampling): domain s gets share

        w_s = n_s^alpha / Σ_d n_d^alpha

    so alpha = 1 reproduces the natural distribution, alpha = 0 is
    uniform over domains, and the usual 0.2–0.7 range lifts the tail
    without drowning the head. The derived weights feed the SAME
    deterministic expand-and-keep machinery as domain_mix (md5-keyed
    fractional replication: reproducible row-for-row across reruns,
    partitionings, and engines), with replication rate

        r_s = target_rows · w_s / n_s = target_rows · n_s^(alpha−1) / Σ n^alpha

    Unlike domain_mix the weights are DERIVED from the data, so the
    whole operator (weight derivation included) is SQL-expressible and
    hash-checked vs DuckDB. NULL domains are excluded (no natural share).

    Scale: one partial-agg counts pass (domain table is metadata-sized),
    broadcast rates, narrow explode+filter — no corpus shuffle.

    Returns (id_col, strata_col, copy_idx).
    """
    if alpha < 0:
        raise ValueError(f"alpha must be >= 0, got {alpha}")
    if target_rows <= 0:
        raise ValueError(f"target_rows must be positive, got {target_rows}")
    counts = {
        r[0]: r[1]
        for r in df.filter(F.col(strata_col).isNotNull())
        .groupBy(strata_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    if not counts:
        return df.sparkSession.createDataFrame(
            [], schema=f"{id_col} long, {strata_col} string, copy_idx long"
        )
    denom = sum(n ** alpha for n in counts.values())
    plan = [
        # r_s left-assoc: ((target * n^alpha) / denom) / n — oracle
        # mirrors the association so float results match bit-for-bit
        (s, float(target_rows) * (n ** alpha) / denom / n)
        for s, n in sorted(counts.items())
    ]
    spark = df.sparkSession
    rates = spark.createDataFrame(
        [(s, r, int(math.ceil(r))) for s, r in plan],
        schema=f"{strata_col} string, rate double, copies long",
    )
    digest = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit(namespace + ":"),
                    F.col(id_col).cast("string"),
                    F.lit(":"),
                    F.col("copy_idx").cast("string"),
                )
            ),
            1,
            HEX_WIDTH,
        ),
        16,
        10,
    ).cast("long")
    return (
        df.select(F.col(id_col), F.col(strata_col))
        .join(F.broadcast(rates), strata_col)
        .select(
            id_col,
            strata_col,
            "rate",
            F.explode(F.expr("sequence(0L, copies - 1)")).alias("copy_idx"),
        )
        .filter(digest < (F.col("rate") - F.col("copy_idx")) * F.lit(2.0**32))
        .select(id_col, strata_col, "copy_idx")
    )


def length_buckets(
    df: DataFrame,
    token_count_col: str,
    min_bucket_tokens: int = 64,
    ndigits: int = 6,
) -> DataFrame:
    """Power-of-two length-bucket report — the batch-shape audit for
    padded training/inference: bucket b holds sequences with
    capacity/2 < tokens ≤ capacity where capacity = 2^b (short
    sequences pool in the `min_bucket_tokens` bucket), and padding every
    member of a bucket to its capacity wastes
    (n·capacity − Σ tokens) / (n·capacity) of the compute.

    The report is what a batching policy reads: heavy waste in a bucket
    → split it (finer buckets) or pack it (pack_sequences); the overall
    padded_frac row-weighted mean is the corpus padding bill under
    bucket-padding (vs ~0 under packing).

    Output per bucket: (capacity BIGINT, n_seqs, total_tokens,
    padded_tokens, padding_frac) sorted by capacity. Zero/NULL token
    counts are excluded (nothing to batch).

    Shape: narrow log2-ceil projection → ONE partial-combined agg on the
    (tiny) bucket key. Fully SQL-expressible → hash-checked vs DuckDB.
    """
    if min_bucket_tokens < 1:
        raise ValueError(
            f"min_bucket_tokens must be >= 1, got {min_bucket_tokens}"
        )
    toks = F.col(token_count_col).cast("long")
    capacity = F.greatest(
        F.lit(int(min_bucket_tokens)).cast("long"),
        F.pow(F.lit(2.0), F.ceil(F.log2(toks))).cast("long"),
    )
    base = df.filter(toks.isNotNull() & (toks > 0)).select(
        toks.alias("__t"), capacity.alias("capacity")
    )
    agg = base.groupBy("capacity").agg(
        F.count(F.lit(1)).alias("n_seqs"),
        F.sum("__t").alias("total_tokens"),
    )
    padded = F.col("n_seqs") * F.col("capacity") - F.col("total_tokens")
    return agg.select(
        "capacity",
        "n_seqs",
        "total_tokens",
        padded.alias("padded_tokens"),
        F.round(
            padded / (F.col("n_seqs") * F.col("capacity")), ndigits
        ).alias("padding_frac"),
    )


def dsir_weights(
    df: DataFrame,
    target: DataFrame,
    text_col: str,
    id_col: str,
    n_buckets: int = 4096,
    alpha: float = 1.0,
    ndigits: int = 6,
) -> DataFrame:
    """DSIR importance weights [Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"]: score every raw doc by
    how much more likely its hashed n-gram profile is under a TARGET
    corpus (the distribution you want more of) than under the raw pool —
    the principled replacement for keyword-filter data selection.

        features      = word unigrams + bigrams, WITH multiplicity
        bucket(g)     = int(md5('dsir:'+g)[:8 hex]) mod n_buckets
        p̂_t[b], p̂_r[b] = Laplace-smoothed bucket frequencies
                         (count[b]+α)/(N+α·B) per corpus
        log_weight(d) = Σ_{g∈d} ( ln p̂_t[bucket(g)] − ln p̂_r[bucket(g)] )

    Selection composes downstream: rank by log_weight and take the top
    slice, or Gumbel-resample with sample_weighted on exp(log_weight/T).
    Docs with zero grams score 0.0 (no evidence either way).

    md5 bucketing, not xxhash: engine-portable (the DuckDB oracle
    restates the exact bytes), same rationale as hash_features and the
    md5 split bands. Output: (doc_id, n_grams, log_weight).

    Shape: two corpus passes collapse to ≤ n_buckets-row count tables
    (partial-combined aggs — the hashed-feature trick is WHY DSIR scales:
    the model is a fixed-size table, never a vocabulary); totals ride an
    unpartitioned window over those B-row tables (tiny by construction);
    the log-ratio table BROADCASTS back onto the exploded gram stream, so
    the only data-scale exchange is the final (doc, partial-sum) agg.
    Raw text never shuffles. Fully SQL-expressible → hash-checkable.
    """
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    B = int(n_buckets)

    def grams(frame: DataFrame, with_id: bool) -> DataFrame:
        # the explode + per-gram md5 is the dominant cost and runs BEFORE
        # any exchange — a single-file corpus would pin it to one core
        # without the spread (no-op at cluster scale; see text module)
        frame = text_ops.spread_small_input(frame)
        toks = text_ops.tokens(F.col(text_col))
        g = F.explode(
            F.concat(toks, text_ops.ngram_list(toks, 2))
        ).alias("g")
        cols = [F.col(id_col).alias("doc_id"), g] if with_id else [g]
        return frame.select(*cols).select(
            *(["doc_id"] if with_id else []),
            F.pmod(
                F.conv(
                    F.substring(F.md5(F.concat(F.lit("dsir:"), F.col("g"))), 1, 8),
                    16, 10,
                ).cast("long"),
                F.lit(B),
            ).alias("bucket"),
        )

    def bucket_logp(pairs: DataFrame, name: str) -> DataFrame:
        counts = pairs.groupBy("bucket").agg(
            F.count(F.lit(1)).alias("c")
        )
        w = Window.partitionBy()
        return counts.select(
            "bucket",
            F.log(
                (F.col("c") + F.lit(float(alpha)))
                / (F.sum("c").over(w) + F.lit(float(alpha) * B))
            ).alias(f"logp_{name}"),
            (F.sum("c").over(w)).alias(f"__n_{name}"),
        )

    from ..caching import persist_tracked

    # pre-aggregate the raw gram stream to (doc, bucket, c) ONCE and
    # persist: it feeds both the raw bucket totals and the per-doc score
    # join — unpersisted, the corpus explode + md5 (the dominant cost)
    # would execute twice
    raw_bp = persist_tracked(
        grams(df, with_id=True)
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    t_logp = bucket_logp(grams(target, with_id=False), "t")
    r_logp = raw_bp.groupBy("bucket").agg(F.sum("c").alias("c"))
    w_all = Window.partitionBy()
    r_logp = r_logp.select(
        "bucket",
        F.log(
            (F.col("c") + F.lit(float(alpha)))
            / (F.sum("c").over(w_all) + F.lit(float(alpha) * B))
        ).alias("logp_r"),
        (F.sum("c").over(w_all)).alias("__n_r"),
    )
    # full outer on the two ≤B-row tables; unseen buckets fall back to
    # the smoothing floor ln(α / (N + α·B)) — totals are carried on
    # every row so the floor needs no extra scalar join
    ratio = t_logp.join(r_logp, "bucket", "full_outer").select(
        "bucket",
        # quantize the per-bucket ratio to DECIMAL(20,6): decimal sums
        # are EXACT (integer-scaled), so the per-doc Σ is independent of
        # partial-agg accumulation order — double sums differ in the
        # last bits between engines and can flip the rounded output
        F.round(
            F.coalesce(
                F.col("logp_t"),
                F.log(
                    F.lit(float(alpha))
                    / (
                        F.coalesce(F.max("__n_t").over(Window.partitionBy()), F.lit(0))
                        + F.lit(float(alpha) * B)
                    )
                ),
            )
            - F.coalesce(
                F.col("logp_r"),
                F.log(
                    F.lit(float(alpha))
                    / (
                        F.coalesce(F.max("__n_r").over(Window.partitionBy()), F.lit(0))
                        + F.lit(float(alpha) * B)
                    )
                ),
            ),
            6,
        ).cast("decimal(20,6)").alias("log_ratio"),
    )
    doc_scores = (
        raw_bp.join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_grams"),
            F.sum(F.col("c") * F.col("log_ratio")).alias("__lw"),
        )
    )
    base = df.select(F.col(id_col).alias("doc_id"))
    return base.join(doc_scores, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
        F.round(
            F.coalesce(F.col("__lw").cast("double"), F.lit(0.0)), ndigits
        ).alias("log_weight"),
    )


def dsir_select(
    df: DataFrame,
    target: DataFrame,
    text_col: str,
    id_col: str,
    budget: int | None = None,
    min_log_weight: float | None = None,
    temperature: float | None = None,
    n_buckets: int = 4096,
    alpha: float = 1.0,
    namespace: str = "dsir",
) -> DataFrame:
    """DSIR end-to-end data SELECTION: dsir_weights → selection → the
    selected corpus, composed as one lazy plan (the same wrapping
    contract prepare_training_data gives its stages). Three selection
    modes, all deterministic:

    - `min_log_weight`: keep every doc scoring at least the threshold.
      The 100 TB path — a plain filter, fully distributed, no global
      ordering anywhere (pick the threshold from a weight histogram or
      an approx quantile of a prior run).
    - `budget` with `temperature=None`: the top `budget` docs by
      (log_weight DESC, doc_id ASC) — Spark plans sort+limit as
      TakeOrderedAndProject (per-partition partial top-k, budget-sized
      final), so no full sort materializes.
    - `budget` with `temperature=T`: Gumbel/Efraimidis–Spirakis
      resampling on weight exp(log_weight/T) — higher T flattens the
      selection toward uniform, T→0 recovers the top slice. Computed in
      the LOG domain: the E-S key −ln(u)/w sorts identically to
      ln(−ln u) − log_weight/T, which never overflows no matter how
      extreme the log-weights (exp(log_weight/T) itself would).
      u is the same seedless 52-bit md5 hash of (namespace, id) as
      weighted_sample_per_group — reproducible under repartitioning,
      restatable in any SQL engine.

    Output: (doc_id, <text_col>, n_grams, log_weight) — the selected
    documents with their scores, ready to feed mixing/packing stages.
    """
    if (budget is None) == (min_log_weight is None):
        raise ValueError(
            "exactly one of budget / min_log_weight must be given"
        )
    w = dsir_weights(
        df, target, text_col, id_col, n_buckets=n_buckets, alpha=alpha
    )
    scored = df.select(F.col(id_col).alias("doc_id"), text_col).join(
        w, "doc_id"
    )
    cols = ["doc_id", text_col, "n_grams", "log_weight"]
    if min_log_weight is not None:
        return scored.filter(
            F.col("log_weight") >= float(min_log_weight)
        ).select(*cols)
    if temperature is None:
        return (
            scored.orderBy(
                F.col("log_weight").desc(), F.col("doc_id").asc()
            )
            .limit(int(budget))
            .select(*cols)
        )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(namespace + ":"),
                        F.col("doc_id").cast("string"),
                    )
                ),
                1,
                13,
            ),
            16,
            10,
        ).cast("double")
        + F.lit(1.0)
    ) / F.lit(float((1 << 52) + 1))
    key = F.log(-F.log(u)) - F.col("log_weight") / F.lit(float(temperature))
    return (
        scored.orderBy(key.asc(), F.col("doc_id").asc())
        .limit(int(budget))
        .select(*cols)
    )


def doremi_weights(
    df: DataFrame,
    text_col: str,
    domain_col: str,
    id_col: str,
    ref_loss_col: str,
    target_col: str,
    n_buckets: int = 256,
    n_rounds: int = 5,
    lr_proxy: float = 0.1,
    lr_domain: float = 0.5,
    smoothing: float = 1e-2,
    ndigits: int = 6,
    max_domains: int = 10_000,
) -> DataFrame:
    """DoReMi-style iterative domain reweighting [Xie et al. 2023,
    "DoReMi: Optimizing Data Mixtures Speeds Up Language Model
    Pretraining"] — the missing rung between `domain_mix` (FIXED domain
    weights) and `dsir_weights` (per-DOC importance): learn the K-domain
    mixture itself by Group DRO, upweighting the domains where a small
    proxy model's loss most exceeds a reference model's.

    The proxy here is the repo's hashed-feature linear model
    (classifier.hashed_features — fixed width, no vocabulary pass)
    regressing `target_col` under squared loss; `ref_loss_col` carries
    the pretrained-reference per-example loss (any upstream signal).
    Per round, interleaved exactly as DoReMi Algorithm 1:

        excess_k = mean over domain k of max(0, l_i(w) - ref_i)
        alpha    = (1-s) * normalize(alpha * exp(lr_domain * excess))
                   + s/K                       (exponentiated-gradient)
        w       -= lr_proxy * sum_k (alpha_k / n_k) * grad_k(w)
                                               (alpha-weighted Group DRO)

    and the RETURNED weight per domain is the time-average of alpha over
    rounds (DoReMi returns the average iterate, not the last — the EG
    iterates oscillate on adversarial corners; their average converges).

    Scale shape — the quality_classifier training pattern: the driver
    holds only the K-vector alpha and the n_buckets-vector w; each round
    is two Spark jobs over the persisted doc-keyed feature frame —
    (1) margins via a broadcast join of the model-sized weight table,
    then ONE groupBy(domain) agg for (n_k, excess_k); (2) ONE
    groupBy(domain, bucket) partial agg whose K x n_buckets gradient
    table collects to the driver, where the alpha_k / n_k combination
    happens. The corpus is hash-partitioned by doc ONCE; no round
    reshuffles it, nothing corpus-sized ever reaches the driver.

    Contracts: rows with a NULL domain are excluded (a mixture weight
    for "unknown" is a data bug to fix upstream); NULL ref loss counts
    as 0 (no reference evidence -> all proxy loss is excess); docs with
    no tokens ride the loop with margin 0. Deterministic at fixed
    (n_rounds, lrs) up to float-sum dust, absorbed by the `ndigits`
    round — NumPy-parity pinned in tests. `max_domains` enforces the
    K-is-model-sized contract on the driver-side domain collect: a
    mis-call with a per-document column as the domain fails fast with
    ValueError instead of collecting the corpus (the semantic_overlap
    max_benchmark idiom).

    Output: (domain, weight, excess) — time-averaged mixture weight and
    the final round's mean excess loss per domain, both rounded.
    """
    import numpy as np

    from ..caching import persist_tracked
    from .classifier import hashed_features

    for c, nm in ((domain_col, "domain"), (id_col, "id"),
                  (ref_loss_col, "ref loss"), (target_col, "target")):
        if c not in df.columns:
            raise ValueError(f"{nm} column {c!r} not found in {df.columns}")
    if n_rounds < 1:
        raise ValueError(f"n_rounds must be >= 1, got {n_rounds}")
    B, K_spark = int(n_buckets), df.sparkSession
    par = K_spark.sparkContext.defaultParallelism

    base = persist_tracked(
        df.filter(F.col(domain_col).isNotNull())
        .select(
            F.col(id_col).alias("doc_id"),
            F.col(domain_col).cast("string").alias("__dom"),
            F.coalesce(F.col(ref_loss_col).cast("double"), F.lit(0.0))
            .alias("__ref"),
            F.col(target_col).cast("double").alias("__y"),
        )
        .repartition(par, "doc_id")
    )
    feats = persist_tracked(
        hashed_features(df, text_col, id_col, B).repartition(par, "doc_id")
    )
    # limit(K+1) bounds BOTH the job and the driver memory of the guard
    # itself — one pass answers "too many?" and yields the domain list
    dom_rows = (
        base.select("__dom").distinct().limit(int(max_domains) + 1).collect()
    )
    if len(dom_rows) > int(max_domains):
        raise ValueError(
            f"more than max_domains={int(max_domains)} distinct domains: "
            f"doremi_weights holds the K-domain weight vector (and a "
            f"K x n_buckets gradient table) on the driver, so the domain "
            f"column must be a MIXTURE dimension (source/language/"
            f"bucket), not a per-document key. Raise max_domains "
            f"explicitly if the driver can hold it."
        )
    domains = sorted(r[0] for r in dom_rows)
    if not domains:
        raise ValueError("no rows with a non-null domain")
    K = len(domains)
    d_idx = {d: i for i, d in enumerate(domains)}
    alpha = np.full(K, 1.0 / K)
    alpha_sum = np.zeros(K)
    w = np.zeros(B)
    excess = np.zeros(K)

    for _ in range(int(n_rounds)):
        wdf = F.broadcast(
            K_spark.createDataFrame(
                [(int(b), float(x)) for b, x in enumerate(w)],
                schema="bucket long, w double",
            )
        )
        margins = (
            feats.join(wdf, "bucket")
            .groupBy("doc_id")
            .agg(F.sum(F.col("x") * F.col("w")).alias("margin"))
        )
        # persisted per round: both the excess agg and the gradient agg
        # consume the residuals, and without the pin the margins join
        # (the round's one doc-keyed exchange) would run twice
        scored = persist_tracked(
            base.join(margins, "doc_id", "left").select(
                "doc_id",
                "__dom",
                (F.coalesce("margin", F.lit(0.0)) - F.col("__y"))
                .alias("__r"),
                "__ref",
            )
        )
        # ONE action per round (round-14 opt, guide §2.6): the per-domain
        # stats agg and the per-(domain, bucket) gradient agg are
        # independent given `scored` (alpha's EG update feeds only the
        # driver-side w update below), so instead of two sequential
        # collects — two driver round-trips, two plan/schedule cycles —
        # the two agg legs are UNIONED into one frame and fetched by a
        # single collect; AQE runs the legs as parallel stages over the
        # shared persisted residuals. Row tag: stats rows carry a NULL
        # bucket, gradient rows a real one. Each leg's aggregation is
        # unchanged, so the collected values are the ones the two jobs
        # produced before.
        stats_leg = scored.groupBy("__dom").agg(
            F.count(F.lit(1)).alias("n"),
            F.avg(
                F.greatest(
                    F.col("__r") * F.col("__r") - F.col("__ref"),
                    F.lit(0.0),
                )
            ).alias("ex"),
        ).select(
            "__dom",
            F.lit(None).cast("long").alias("bucket"),
            F.col("n").cast("double").alias("a"),
            F.col("ex").alias("b"),
        )
        grad_leg = (
            feats.join(scored, "doc_id")
            .groupBy("__dom", "bucket")
            .agg(F.sum(2.0 * F.col("__r") * F.col("x")).alias("g"))
            .select(
                "__dom",
                "bucket",
                F.col("g").alias("a"),
                F.lit(None).cast("double").alias("b"),
            )
        )
        stats: dict[str, tuple[float, float]] = {}
        grad = np.zeros((K, B))
        for r in stats_leg.unionByName(grad_leg).collect():
            if r["bucket"] is None:
                stats[r["__dom"]] = (r["a"], r["b"])
            else:
                grad[d_idx[r["__dom"]], r["bucket"]] = r["a"]
        n_k = np.array([stats[d][0] for d in domains], dtype=np.float64)
        excess = np.array([stats[d][1] for d in domains])
        # exponentiated-gradient ascent on the mixture + smoothing
        alpha = alpha * np.exp(float(lr_domain) * excess)
        alpha = (1.0 - float(smoothing)) * (alpha / alpha.sum()) + float(
            smoothing
        ) / K
        alpha_sum += alpha
        w -= float(lr_proxy) * (alpha / n_k) @ grad
        # this round's residuals are fully consumed — release the pin
        # now rather than letting R corpus-sized cache entries stack up
        # until the caller's release_cached()
        scored.unpersist()

    avg = alpha_sum / float(n_rounds)
    return K_spark.createDataFrame(
        [
            (d, round(float(avg[i]), ndigits), round(float(excess[i]), ndigits))
            for i, d in enumerate(domains)
        ],
        schema=f"{domain_col} string, weight double, excess double",
    )


def doremi_mix(
    df: DataFrame,
    text_col: str,
    domain_col: str,
    id_col: str,
    ref_loss_col: str,
    target_col: str,
    target_rows: float,
    n_buckets: int = 256,
    n_rounds: int = 5,
    lr_proxy: float = 0.1,
    lr_domain: float = 0.5,
    smoothing: float = 1e-2,
    namespace: str = "doremi",
) -> DataFrame:
    """DoReMi end-to-end REBALANCE: doremi_weights → domain_mix, composed
    the way dsir_select wraps dsir_weights — learn the Group-DRO mixture,
    then materialize a ~`target_rows` sample at exactly that mixture via
    the deterministic md5 expand-and-keep (down-sample over-represented
    domains, replicate under-represented ones).

    The learned K-vector is the only thing that crosses between the
    stages (model-sized by construction — it rides the driver, never a
    join), so the composition adds nothing to either stage's scale
    story: the reweighting is 2 model-sized agg jobs per round, the mix
    is one count agg + a narrow explode-and-filter. Weights are
    renormalized over the EMITTED domains before the mix (domain_mix
    validates shares sum to 1; doremi's smoothing guarantees every
    domain keeps positive mass, so no domain drops out). The domain
    column is cast to STRING for the mix stage — doremi_weights keys its
    learned K-vector by the string-cast domain, so the mix must group by
    the same representation or a non-string domain (e.g. int source ids)
    would match no share at all; the emitted strata column is therefore
    string, matching doremi_weights' own output type.

    Output: domain_mix's (id_col, domain_col, copy_idx) — feed to a join
    back against the corpus for the actual replicated sample.
    """
    weights = doremi_weights(
        df, text_col, domain_col, id_col, ref_loss_col, target_col,
        n_buckets=n_buckets, n_rounds=n_rounds, lr_proxy=lr_proxy,
        lr_domain=lr_domain, smoothing=smoothing, ndigits=12,
    ).collect()
    total = sum(r["weight"] for r in weights)
    shares = {r[domain_col]: r["weight"] / total for r in weights}
    # float dust: pin the largest share so the dict sums to exactly 1.0
    top = max(shares, key=lambda d: shares[d])
    shares[top] += 1.0 - sum(shares.values())
    return domain_mix(
        df.filter(F.col(domain_col).isNotNull()).withColumn(
            domain_col, F.col(domain_col).cast("string")
        ),
        domain_col, id_col, shares, target_rows, namespace=namespace,
    )


def shuffle_for_training(
    df: DataFrame,
    id_col: str,
    n_shards: int,
    namespace: str = "shuffle",
) -> DataFrame:
    """Deterministic global shuffle — the LAST step of every training-
    data pipeline (curated docs must reach the trainer in pseudo-random
    order; any residual source/time clustering shows up as loss spikes).
    Assigns every row a shard in [0, n_shards) and a position within the
    shard such that reading shards 0..n-1, each in position order,
    visits the corpus in md5(namespace:id) order — a fixed, seedless
    permutation with every sampler's determinism contract: reruns,
    repartitions, and engines agree, and appending rows never moves
    existing ones to a different shard.

    Shard assignment is PURE ARITHMETIC on the digest prefix
    (shard = prefix·n_shards div 16^8) — not repartitionByRange, whose
    sampled boundaries are nondeterministic, and not a global sort. The
    digest is uniform, so shards balance to ±O(√(n/shards)) without
    measuring anything. Position is one row_number window per shard —
    the only exchange, carrying (id, digest) rows; with n_shards sized
    to the cluster (≥ tasks), per-shard sorts are parallel and bounded.

    Output: (id_col, shard BIGINT, pos BIGINT) — join back on id to
    write payloads, or feed a partitioned writer with
    partitionBy(shard) + sortWithinPartitions(pos).
    Fully SQL-expressible → hash-checked vs DuckDB (shadow oracle).
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    digest = F.md5(
        F.concat(F.lit(namespace + ":"), F.col(id_col).cast("string"))
    )
    prefix = F.conv(F.substring(digest, 1, HEX_WIDTH), 16, 10).cast("long")
    # floor((prefix·n) / 2^32) is EXACT: prefix·n < 2^53 so the product
    # is an exact double, and dividing by a power of two only shifts the
    # exponent — DuckDB's bigint // restates it identically
    shard = F.floor(
        prefix * int(n_shards) / F.lit(float(16**HEX_WIDTH))
    ).cast("long")
    w = Window.partitionBy("shard").orderBy("__digest", id_col)
    return (
        df.select(
            F.col(id_col),
            digest.alias("__digest"),
            shard.alias("shard"),
        )
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .select(id_col, "shard", "pos")
    )
