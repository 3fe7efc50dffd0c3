"""Distributed connected components — the Spark-native union-find.

The standard large-scale dedup semantics (MinHashLSH / C4 / GPT-3 style)
cluster near-duplicate PAIRS into components and keep one document per
component. A greedy per-pair drop (remove id_b of every pair) over-deletes:
for pairs (A,B), (B,C) with A≁C it keeps only A even though C duplicates
nothing that survives. Component semantics keep exactly one doc per
connected component of the similarity graph.

No Spark primitive exists (GraphX is RDD/Scala-only and GraphFrames is an
external package), so this is iterative min-label propagation with pointer
jumping, expressed as DataFrame joins:

- propagate: label(v) <- min(label(v), min label among v's neighbors)
  — one shuffle join (edges x labels) + one min-aggregate per round.
- root contraction (Boruvka / alternating-star family, Kiveris et al.
  "Connected Components in MapReduce and Beyond"): group proposals by
  their PREVIOUS root and point each root at the minimum proposal of
  its members, then compose the root-sized map with itself once.
  Plain pointer jumping (label(v) <- label(label(v))) is a no-op on
  graphs whose labels are self-rooted local minima — the sf10 mutual
  kNN graph spent 18 rounds propagating hop-by-hop through 17-hop
  chains; root contraction merges whole root trees per round and the
  same graph converges in 6.

Scale shape: the edge list is the near-dup PAIR set — orders of magnitude
smaller than the corpus (docs in no pair never enter the graph; they are
implicit singletons). Each round shuffles only (node, label) longs. Lineage
is truncated every round (eager checkpoint) so the plan does not grow with
iterations — the classic iterative-algorithm trap.

Fault tolerance / memory hygiene:

- default (no checkpoint_dir): localCheckpoint — fast (executor-memory
  blocks, no filesystem round-trip) but a lost executor mid-iteration fails
  the job unrecoverably, because localCheckpoint truncates lineage and the
  data lives ONLY in the cached blocks. Intermediate rounds are unpersisted
  as soon as the next round is materialized, so a long-lived session keeps
  at most ONE resident block set per call (the final labels the returned
  DataFrame is backed by — unpersisting that would destroy the result).
- checkpoint_dir given: reliable checkpoint() to that directory — survives
  executor loss, leaves ZERO resident cached blocks, and is the right mode
  on a real cluster (point it at HDFS/S3). Checkpoint files accumulate
  unless spark.cleaner.referenceTracking.cleanCheckpoints=true; on a
  one-shot job, delete the directory afterwards.
"""

from __future__ import annotations

import os
import sys
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _ckpt_ids(df: DataFrame) -> set:
    """The id of the RDD backing a (local)checkpointed DataFrame, read
    straight off its LogicalRDD plan node.

    Round-13 opt — replaces the before/after registry DIFF around each
    loop materialization, which had a long-standing friendly-fire bug:
    a caller's persist_tracked() frame registers in getPersistentRDDs
    only when it MATERIALIZES, and when that first happens inside a
    loop's checkpoint job (the common case: the loop's edge list is the
    persist's first consumer) the diff claimed the caller's cache as the
    loop's own and the loop's cleanup UNPERSISTED it — measured as
    media_dup_clusters re-running its payload decode ~6× (exec 230 s
    for a plan whose decode is one 30 s pass). Works for eager and lazy
    checkpoints (both register their RDD at call time)."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        return {plan.rdd().id()}
    except Exception:  # noqa: BLE001 — cleanup must never fail a plan
        return set()


def _unpersist_rdd_ids(spark: SparkSession, ids: set) -> None:
    """Release the given persisted-RDD ids (non-blocking). Used to free
    intermediate localCheckpoint blocks the DataFrame API gives no handle
    to (df.unpersist() does not reach a checkpointed internal RDD)."""
    if not ids:
        return
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in list(jmap.keySet().toArray()):
        if rid in ids:
            jmap.get(rid).unpersist(False)


class _BlockReleaser:
    """release_cached()-compatible handle for loop-final checkpoint
    blocks (see caching.track_unpersist)."""

    def __init__(self, spark: SparkSession, ids: set):
        self._spark, self._ids = spark, ids

    def unpersist(self) -> None:
        _unpersist_rdd_ids(self._spark, self._ids)


def _track_final_blocks(spark: SparkSession, df: DataFrame) -> None:
    """Register a loop's RESULT checkpoint blocks for release_cached():
    they must stay resident while the caller consumes the result, but
    untracked they leaked one block set per call into a long session
    (round-13 opt: a bench suite ran hundreds of loop queries per JVM —
    the in-session old-gen pressure earlier rounds kept diagnosing)."""
    from ..caching import track_unpersist

    track_unpersist(_BlockReleaser(spark, _ckpt_ids(df)))


def _truncate_keyed(
    df: DataFrame,
    key: str,
    spark: SparkSession,
    truncate,
    nparts: int | None = None,
):
    """Checkpoint `df` hash-partitioned AND sorted by `key` so every
    later join on `key` reads the blocks as-is: LogicalRDD (what backs a
    checkpointed DataFrame) preserves outputPartitioning/outputOrdering,
    so the per-round SortMergeJoin needs NO Exchange and NO Sort on this
    side — the whole point for edge lists consumed once per iteration.
    AQE is toggled off around the single materializing job only: under
    AQE the final plan reports UnknownPartitioning and the layout
    metadata is lost (verified empirically on 4.x).

    `nparts` pins the loop's exchange width; when None it falls back to
    spark.sql.shuffle.partitions. Loops derive it from the MEASURED edge
    count (parallelism.loop_partitions) so a 3 000-edge graph runs
    1-wide rounds instead of paying conf-width task dispatch every round
    — the conf ceiling keeps cluster behavior identical at scale."""
    if nparts is None:
        try:
            nparts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        except ValueError:  # e.g. "auto" under some AQE configs
            nparts = 32
    aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        return truncate(df.repartition(nparts, key).sortWithinPartitions(key))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(doc_id, cluster_id) for every node appearing in `edges`.

    cluster_id is the MINIMUM node id of the component — deterministic,
    partitioning-independent, and directly usable as the canonical
    representative (the kept document in dedup).

    checkpoint_dir switches per-round lineage truncation from
    localCheckpoint (fast, executor-loss-fragile, one resident block set
    for the returned labels) to reliable checkpoint() files under that
    directory (fault-tolerant, zero resident blocks) — see module docstring.

    Raises RuntimeError if labels have not converged after max_iter rounds
    (with per-round root contraction, round count tracks the log of the
    root-tree depth, not the graph diameter — the 17-hop sf10 mutual
    graph converges in 6; max_iter=20 is a deep safety margin).
    """
    spark = edges.sparkSession
    if checkpoint_dir is not None:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)

    def _truncate(df: DataFrame) -> DataFrame:
        # eager=True materializes immediately, so the upstream plan runs
        # exactly once per round regardless of how many times the result
        # is consumed below.
        if checkpoint_dir is not None:
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=True)

    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    # Materialize the DIRECTED pair list first (round-14 opt — replaces
    # round 13's plain checkpoint of the 2E-row symmetric union, whose
    # two union branches each re-executed the whole upstream pair
    # pipeline: the inverted-index Jaccard DAG ran TWICE per call,
    # measured as two full 32-task pair-explosion stages — 26 s of the
    # 77 s executor time of dup_clusters at sf0.1). Checkpointing the
    # E-row pair output runs the upstream exactly ONCE; the edge COUNT
    # is then a cached-block aggregate (no extra pass) and sizes the
    # loop width BEFORE the one keyed materialization, so no re-layout
    # is ever needed at any scale: loop_partitions clamps ceil(2E /
    # rows-per-partition) to [1, conf] — a few-thousand-edge graph runs
    # 1-wide rounds instead of conf-width task dispatch every round,
    # while at 100 TB the clamp returns the configured width and the
    # layout below is byte-identical to a fixed-width one. The symmetric
    # union is built FROM the checkpointed blocks (two cheap reads of E
    # rows, no upstream re-execution) and _truncate_keyed lays it out by
    # the per-round join key "v", so no round ever exchanges or sorts
    # the 2E-row side again — only the (node, label) side moves.
    from ..parallelism import loop_partitions

    p = _truncate(e)
    p_ids = _ckpt_ids(p)
    nparts = loop_partitions(spark, 2 * p.count())
    sym = _truncate_keyed(
        p.unionByName(p.select(F.col("v").alias("u"), F.col("u").alias("v"))),
        "v",
        spark,
        _truncate,
        nparts=nparts,
    )
    sym_ids = _ckpt_ids(sym)
    _unpersist_rdd_ids(spark, p_ids)
    # materialize the initial labels too: the per-round plan references
    # `labels` several times (edge join, root grouping, relabel), and a
    # round's self-joins multiply whatever DAG sits under each reference
    # — with a lazy distinct here, the FIRST round re-executed the
    # node-derivation repeatedly and cost 19 s of the sf10 probe's 38 s
    # component phase. One eager node-table checkpoint makes round 0
    # shaped like every other round (multiplying a leaf, not a DAG).
    labels = _truncate(
        sym.select(F.col("u").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
    )
    prev_ids: set = _ckpt_ids(labels)
    debug = os.environ.get("SPARK_GRAFT_CC_DEBUG") == "1"
    # The sum-based convergence check needs numeric labels (a decimal sum
    # over string ids is NULL and would never converge — caught by the
    # media union-find tests, whose nodes are strings); non-numeric ids
    # use the join+isEmpty comparison against the previous round instead.
    from pyspark.sql.types import NumericType

    numeric_ids = isinstance(
        e.schema[e.columns[0]].dataType, NumericType
    )
    _UNSET = object()
    prev_sum = _UNSET
    try:
        for rnd in range(max_iter):
            t0 = time.monotonic() if debug else 0.0
            nbr_min = sym.join(
                labels.select(F.col("node").alias("v"), "label"), "v"
            ).select(F.col("u").alias("node"), "label")
            merged = (
                labels.unionByName(nbr_min)
                .groupBy("node")
                .agg(F.min("label").alias("label"))
            )
            # Boruvka-style ROOT contraction (replaces plain pointer
            # doubling, which the sf10 mutual graph defeated: labels
            # point at self-rooted LOCAL minima, so label(label(u)) =
            # label(u) and the jump is a no-op — measured 18 rounds of
            # pure 1-hop propagation through 17-hop replica chains).
            # Group every node's PROPOSAL (merged) by its PREVIOUS root:
            # cand(r) = min proposal among r's members — each root
            # points at a strictly smaller root of the same component
            # (invariant: a label is always a member of its node's
            # component, so the min over co-labeled nodes' proposals
            # stays in-component), then one self-compose of the
            # ROOT-sized map collapses root chains. Component count
            # shrinks superlinearly: the same graph converges in 6
            # rounds (offline replay, tools-era /tmp/cc_boruvka.py),
            # and the per-round shape swaps two NODE-sized self-joins
            # for one node-sized join + two ROOT-sized ones.
            cand = (
                merged.select("node", F.col("label").alias("__prop"))
                .join(labels, "node")
                .groupBy(F.col("label").alias("__root"))
                .agg(F.min("__prop").alias("__cand"))
            )
            lookup = cand.select(
                F.col("__root").alias("__r2"), F.col("__cand").alias("__c2")
            )
            cand = cand.join(
                lookup, cand["__cand"] == lookup["__r2"], "left"
            ).select("__root", F.coalesce("__c2", "__cand").alias("__cand"))
            j = labels.join(
                cand, labels["label"] == cand["__root"], "left"
            ).select(
                "node", F.coalesce("__cand", "label").alias("label")
            )
            # ONE pointer jump ON TOP of the contraction: contraction
            # alone is slow on chain graphs (the root trees are 1-2
            # nodes deep, so the root map collapses nothing — a 64-node
            # path needs 33 rounds, failing max_iter), while jumping
            # alone is a no-op on self-rooted-minima graphs (the sf10
            # mutual case above, 18 rounds). One label-map self-compose
            # is the measured sweet spot: offline replay gives path64 6 /
            # path4096 12 / sf10 mutual 6 rounds — all inside
            # max_iter=20 — and every EXTRA compose doubles the round's
            # core DAG (lazy self-joins re-execute both branches), which
            # is why the two-compose variant measured SLOWER per round
            # than it saved in rounds.
            lookup = j.select(
                F.col("node").alias("__ln"), F.col("label").alias("__ll")
            )
            j = j.join(lookup, j["label"] == lookup["__ln"], "left").select(
                "node", F.coalesce("__ll", "label").alias("label")
            )
            # Convergence, numeric ids: the label-sum stopped moving.
            # Labels are monotone non-increasing per node and the node
            # set is fixed, so Σlabel is strictly decreasing until the
            # fixpoint — equality of consecutive sums is EXACT
            # convergence, not a heuristic. One aggregate over the
            # just-materialized checkpoint (exact decimal(38,0)
            # arithmetic — no int64 overflow, no float rounding)
            # replaces the old join+isEmpty against the PREVIOUS round's
            # labels, halving what the check reads per round. String
            # ids (the media union-find) keep the join+isEmpty check —
            # it short-circuits at the first changed row on non-final
            # rounds.
            # Round-13 opt, localCheckpoint path: the checkpoint is LAZY
            # and the convergence aggregate is its materializing action,
            # so each round runs ONE job instead of two (materialize,
            # then re-read for the sum). The plan is pinned at
            # localCheckpoint() call time, so the agg cannot prune
            # columns out of the checkpointed blocks; the reliable-
            # checkpoint path keeps eager semantics (a lost executor
            # mid-agg must not silently recompute upstream).
            if numeric_ids:
                if checkpoint_dir is not None:
                    jumped = _truncate(j)
                else:
                    jumped = j.localCheckpoint(eager=False)
                cur_sum = jumped.agg(
                    F.sum(F.col("label").cast("decimal(38,0)"))
                ).first()[0]
                new_ids = _ckpt_ids(jumped)
                # NULL sum ⟺ empty node set (labels of a non-empty
                # numeric node set always sum non-NULL) ⟺ trivially
                # converged — without this an empty pair graph (e.g. a
                # single distinct fingerprint upstream) loops to
                # max_iter comparing NULL to the _UNSET sentinel.
                converged = cur_sum is None or (
                    prev_sum is not _UNSET and cur_sum == prev_sum
                )
                prev_sum = cur_sum
            else:
                jumped = _truncate(j)
                new_ids = _ckpt_ids(jumped)
                cur_sum = None
                converged = (
                    jumped.select("node", F.col("label").alias("__new"))
                    .join(labels, "node")
                    .filter(F.col("__new") != F.col("label"))
                    .isEmpty()
                )
            if debug:
                print(
                    f"[cc] round {rnd}: {time.monotonic() - t0:.2f}s "
                    f"label_sum={cur_sum} converged={converged}",
                    file=sys.stderr,
                )
            _unpersist_rdd_ids(spark, prev_ids)
            prev_ids = new_ids
            labels = jumped
            if converged:
                # sym is no longer needed; the final labels checkpoint is
                # what backs the returned DataFrame — on the local path it
                # MUST stay resident (see module docstring).
                _unpersist_rdd_ids(spark, sym_ids)
                _track_final_blocks(spark, labels)
                return labels.select(
                    F.col("node").alias("doc_id"),
                    F.col("label").alias("cluster_id"),
                )
    except BaseException:
        _unpersist_rdd_ids(spark, sym_ids | prev_ids)
        raise
    _unpersist_rdd_ids(spark, sym_ids | prev_ids)
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} iterations"
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    damping: float = 0.85,
    n_iter: int = 20,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Weighted PageRank by power iteration over a DataFrame edge list —
    the stationary-importance score for any graph the pipeline derives
    (near-dup clusters, event-transition chains, citation/link graphs).
    On a row-stochastic transition matrix this converges to the damped
    stationary distribution of the Markov chain the edges describe.

    Semantics: out-edge weights are normalized per source (uniform when
    `weight` is None); each iteration
        rank(v) <- (1-d)/N + d * (Σ_{u->v} rank(u)·w_norm(u,v)
                               + dangling_mass / N)
    where dangling_mass is the rank sitting on nodes with no out-edges —
    redistributed uniformly, the standard correction that keeps ranks
    summing to 1 (Page et al., 1999; public formulation).

    Output: node, rank (6 dp).  Ranks sum to 1 across the node set.

    Shape per iteration: one hash join (edges × ranks, keyed on src) +
    one dst-keyed partial-combined sum — two exchanges of (node, double)
    rows; the edge list is normalized and TRUNCATED once up front so the
    per-round plan is flat (same eager-checkpoint discipline as
    connected_components: lineage does not grow with iterations, and the
    dangling-mass scalar is a 1-row agg, not a collect of the rank
    table).  At the transition-graph scale (|event types|²) this is
    driver-trivial; at web scale the same plan holds with edges
    pre-partitioned by src so the join side is exchange-free.
    """
    spark = edges.sparkSession
    if checkpoint_dir is not None:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)

    def _truncate(df: DataFrame) -> DataFrame:
        if checkpoint_dir is not None:
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=True)

    from ..parallelism import loop_partitions

    w_col = (
        F.col(weight).cast("double") if weight is not None else F.lit(1.0)
    )
    # Materialize the projected edge list FIRST (round-13 opt): it is
    # consumed twice by the normalization (per-source totals + the join
    # back) and twice by the node table, so one plain checkpoint both
    # stops the upstream DAG re-executing per consumer AND yields the
    # edge count that sizes the loop width (cached-block agg, no extra
    # pass) — same clamp discipline as connected_components.
    e = _truncate(
        edges.select(
            F.col(src).alias("u"), F.col(dst).alias("v"), w_col.alias("w")
        )
    )
    e_ids = _ckpt_ids(e)
    nparts = loop_partitions(spark, e.count())
    # normalized edges laid out by the per-round join key "u"; the node
    # table by "node" (it anchors the per-round left join) — both sides
    # of every iteration's joins then read their checkpoints exchange-
    # and sort-free (_truncate_keyed)
    norm = _truncate_keyed(
        e.groupBy("u")
        .agg(F.sum("w").alias("__tot"))
        .join(e, "u")
        .select("u", "v", (F.col("w") / F.col("__tot")).alias("w")),
        "u",
        spark,
        _truncate,
        nparts=nparts,
    )
    nodes = _truncate_keyed(
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .distinct(),
        "node",
        spark,
        _truncate,
        nparts=nparts,
    )
    # source-node set for the dangling-mass anti-join: STATIC across
    # rounds — materialized once here instead of re-running a distinct
    # over the full edge list inside every iteration
    sources = _truncate_keyed(
        norm.select(F.col("u").alias("node")).distinct(),
        "node",
        spark,
        _truncate,
        nparts=nparts,
    )
    base_ids = _ckpt_ids(norm) | _ckpt_ids(nodes) | _ckpt_ids(sources)
    _unpersist_rdd_ids(spark, e_ids)
    n_nodes = nodes.count()
    d = float(damping)
    ranks = nodes.select("node", F.lit(1.0 / n_nodes).alias("rank"))
    prev_ids: set = set()
    # NOTE (round-14 opt): batching 2 iterations per checkpoint on tiny
    # graphs (the round-13 verdict's remaining idea for the ~8-jobs-per-
    # iteration driver-latency floor) was MEASURED WORSE on
    # event_pagerank — 171 -> 230 jobs and 8.3 -> 12.3 s executor time:
    # the skipped round's lazy plan doubles inside the next
    # materialization (ranks is referenced by both the dangling agg and
    # the contrib join) and the deeper plan spawns MORE AQE stage/
    # broadcast sub-jobs than the dropped checkpoint saved. Combined
    # with round 13's AQE-off and broadcast-off negatives, every lever
    # over the per-iteration job count has now been measured; the
    # checkpoint-per-iteration discipline stays.
    batch = 1
    try:
        for it in range(int(n_iter)):
            # dangling mass stays a LAZY 1-row frame broadcast into the
            # update — a scalar collect here would add a blocking driver
            # round-trip per iteration (measured: it dominated wall-clock
            # on small graphs; on big graphs it serializes the scheduler).
            dangling = (
                ranks.join(sources, "node", "left_anti")
                .agg(
                    F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__dangling")
                )
            )
            contrib = (
                norm.join(
                    ranks.select(F.col("node").alias("u"), "rank"), "u"
                )
                .groupBy(F.col("v").alias("node"))
                .agg(F.sum(F.col("rank") * F.col("w")).alias("__in"))
            )
            new_ranks = (
                nodes.join(contrib, "node", "left")
                .crossJoin(F.broadcast(dangling))
                .select(
                    "node",
                    (
                        F.lit((1.0 - d) / n_nodes)
                        + F.lit(d)
                        * (
                            F.coalesce("__in", F.lit(0.0))
                            + F.col("__dangling") / F.lit(float(n_nodes))
                        )
                    ).alias("rank"),
                )
            )
            if (it + 1) % batch == 0 or it == int(n_iter) - 1:
                new_ranks = _truncate(new_ranks)
                new_ids = _ckpt_ids(new_ranks)
                _unpersist_rdd_ids(spark, prev_ids)
                prev_ids = new_ids
            ranks = new_ranks
    except BaseException:
        _unpersist_rdd_ids(spark, base_ids | prev_ids)
        raise
    _unpersist_rdd_ids(spark, base_ids)
    _track_final_blocks(spark, ranks)
    return ranks.select("node", F.round("rank", 6).alias("rank"))


def keep_best_per_cluster(
    components: DataFrame,
    docs: DataFrame,
    id_col: str,
    score_col: str,
) -> DataFrame:
    """Quality-aware cluster survivors: per connected component, keep
    the member with the HIGHEST score (ties → smallest id) instead of
    the smallest id.  Min-id survivorship is deterministic but
    quality-blind — when a near-dup cluster holds a clean original and a
    truncated scrape, production dedup wants the best copy, not the
    first-crawled one.

    Output: cluster_id, keep_id, keep_score, n_members.

    Shape: one join (components × doc scores, keyed on the id both
    sides carry) → one partial-combined max_by aggregation over
    struct(score, -id) — mappers ship one champion per local cluster;
    no window, no per-cluster sort.
    """
    scored = components.join(
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.col(score_col).alias("__score"),
        ),
        "doc_id",
    )
    return scored.groupBy("cluster_id").agg(
        F.max_by(
            F.col("doc_id"),
            F.struct(F.col("__score"), (-F.col("doc_id")).alias("__nid")),
        ).alias("keep_id"),
        F.max(
            F.struct(F.col("__score"), (-F.col("doc_id")).alias("__nid"))
        )["__score"].alias("keep_score"),
        F.count(F.lit(1)).cast("long").alias("n_members"),
    )


def triangle_count(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Per-node triangle counts over an undirected graph — the local
    clustering signal: in a near-dup pair graph, high triangle density
    marks TEMPLATE families (every member similar to every other, e.g.
    boilerplate variants) vs chain-shaped drift (A~B~C but A≁C), which
    changes the right survivorship strategy (keep-one vs keep-ends).

    Node-iterator formulation [Suri & Vassilvitskii, WWW 2011 — the
    MapReduce classic]: orient each edge low→high, self-join oriented
    edges on the shared low endpoint to enumerate open wedges (u<v<w),
    then semi-join the closing edge (v,w). Each triangle is found
    exactly once (its vertices in sorted order), then credits all three
    corners. Edge direction in the INPUT is irrelevant; duplicate and
    self edges are dropped.

    Output: (node, n_triangles) for nodes in ≥1 triangle.

    Shape: the wedge join is the known bottleneck — its fanout is
    Σ_u deg(u)² on the oriented graph, and low→high orientation caps
    every oriented out-degree at O(√|E|) [same paper], which is what
    makes the self-join feasible at scale. Three exchanges total
    (orient+dedup, wedge join, closing-edge semi-join), all carrying
    8-byte id pairs. The oriented edge list is PERSISTED: it is
    consumed three times (both wedge sides + the closing join), and
    without the persist the entire upstream pair pipeline (e.g. the
    inverted-index Jaccard DAG) would execute three times — measured
    ~1.9× slower end-to-end on the registered query.
    """
    from ..caching import persist_tracked

    e = persist_tracked(
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") < F.col("v"))
        .distinct()
    )
    e1 = e.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = e.select(F.col("u").alias("a"), F.col("v").alias("c"))
    wedges = e1.join(e2, "a").filter(F.col("b") < F.col("c"))
    tri = wedges.join(
        e.select(F.col("u").alias("b"), F.col("v").alias("c")),
        ["b", "c"],
    )
    corners = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
    )
    return corners.groupBy("node").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


def k_core(
    edges: DataFrame,
    k: int = 2,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 30,
) -> DataFrame:
    """The k-core: the maximal subgraph where every node keeps degree
    ≥ k — computed by the classic peel (repeatedly delete nodes of
    degree < k until stable; the fixpoint is unique and order-
    independent, which is what makes a synchronized distributed peel
    correct). On a near-dup graph the 2-core separates mutually-linked
    template families from star/chain shapes that one hub explains; in
    spam/citation graphs cores rank structural embeddedness.

    Output: (node, degree) for k-core members, degree measured INSIDE
    the core.

    Shape per round: one (node, degree) count agg over the CURRENT
    edge set + two semi-joins dropping incident edges — all frames are
    edge-list-sized longs; lineage truncates per round
    (localCheckpoint, eager) exactly like connected_components, and
    iteration count is bounded by the peel depth (≤ max degeneracy ≪
    max_iter in practice; RuntimeError past max_iter).
    """
    spark = edges.sparkSession
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    # same block hygiene as connected_components: each round's
    # localCheckpoint is released once the next round materializes, so a
    # long peel keeps ONE resident block set (the survivor edges backing
    # the returned DataFrame)
    from ..parallelism import loop_partitions

    cur = e.localCheckpoint(eager=True)
    prev_ids = _ckpt_ids(cur)
    n_cur = cur.count()
    # Re-widen only when the checkpoint landed NARROWER than the
    # rows-per-partition width says the peel should run — i.e. a big
    # edge list behind a few-split scan (one huge unsplittable file).
    # For small graphs loop_partitions returns 1 and this never fires:
    # their peel rounds run at whatever width the upstream produced,
    # and the round-13 k_core speedup came from the session AQE
    # coalescing floor, not from this branch (round-14 note, closing
    # the round-13 ADVICE misattribution).
    nparts = loop_partitions(spark, n_cur)
    if cur.rdd.getNumPartitions() < nparts:
        wide = cur.repartition(nparts).localCheckpoint(eager=True)
        _unpersist_rdd_ids(spark, prev_ids)
        cur = wide
        prev_ids = _ckpt_ids(wide)
    for _ in range(max_iter):
        # one job per round: the LAZY localCheckpoint is materialized by
        # its own count() (the round's convergence signal) instead of an
        # eager checkpoint followed by a separate counting job.
        deg = (
            cur.select(F.col("u").alias("n"))
            .unionAll(cur.select(F.col("v").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        keep = deg.filter(F.col("d") >= k).select("n")
        nxt = (
            cur.join(keep.select(F.col("n").alias("u")), "u", "left_semi")
            .join(keep.select(F.col("n").alias("v")), "v", "left_semi")
            .localCheckpoint(eager=False)
        )
        n_nxt = nxt.count()
        new_ids = _ckpt_ids(nxt)
        _unpersist_rdd_ids(spark, prev_ids)
        prev_ids = new_ids
        if n_nxt == n_cur:
            cur = nxt
            break
        cur, n_cur = nxt, n_nxt
    else:
        raise RuntimeError(f"k_core did not converge in {max_iter} rounds")
    _track_final_blocks(spark, cur)
    return (
        cur.select(F.col("u").alias("node"))
        .unionAll(cur.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )


def label_propagation(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 10,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan et
    al. 2007, public formulation) — the density-sensitive complement to
    connected_components: components glue everything reachable into one
    cluster; LPA lets dense subregions joined by thin bridges keep
    separate labels (template families inside one giant near-dup
    component, topical communities in a link graph).

    Determinism: updates are SYNCHRONOUS (all nodes read round r−1's
    labels) and the new label is the most frequent neighbor label with
    ties broken by MINIMUM label — no randomness, so the result is
    partitioning-independent and test-reproducible.  Synchronous LPA can
     2-cycle on bipartite structures; iteration is capped at `max_iter`
    and stops early when no label changes, and the 2-cycle resolves
    deterministically toward the min-label side of the oscillation via
    the tie-break.

    Output: (node, community) — community = the converged label (a node
    id; labels are ids, so min-tie-break keeps them stable).

    Shape per iteration: edges symmetrize once up front (truncated, like
    the other iterative ops); then one join (edges × labels, keyed on
    neighbor) + one (node, label)-keyed count agg + one max_by per node
    — exchanges carry (node, label, count) rows. Lineage truncates and
    blocks release per round; at 100 TB the same flat plan repeats with
    edges pre-partitioned by the join key.
    """
    spark = edges.sparkSession
    if checkpoint_dir is not None:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)

    def _truncate(df: DataFrame) -> DataFrame:
        if checkpoint_dir is not None:
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=True)

    from ..parallelism import loop_partitions

    # pairs-first materialization (round-14 opt, same rationale as
    # connected_components): checkpoint the E-row DIRECTED pair output so
    # the upstream DAG runs ONCE (the symmetric union's two branches
    # each re-executed it in rounds 12-13), size the loop width from the
    # cached-block count (no extra pass), then build the deduped
    # symmetric union FROM the checkpointed blocks and lay it out by the
    # per-round join key "v" (_truncate_keyed) at that width — the
    # 2E-row side of every round's join comes back exchange- and
    # sort-free, and at scale the clamp returns the conf width so the
    # layout is byte-identical to a fixed-width one.
    p = _truncate(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    )
    p_ids = _ckpt_ids(p)
    nparts = loop_partitions(spark, 2 * p.count())
    sym = _truncate_keyed(
        p.unionByName(
            p.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).distinct(),
        "v",
        spark,
        _truncate,
        nparts=nparts,
    )
    base_ids = _ckpt_ids(sym)
    _unpersist_rdd_ids(spark, p_ids)
    labels = sym.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    prev_ids: set = set()
    try:
        for _ in range(int(max_iter)):
            neigh = (
                sym.join(
                    labels.select(F.col("node").alias("v"), "label"), "v"
                )
                .groupBy(F.col("u").alias("node"), "label")
                .agg(F.count(F.lit(1)).alias("__c"))
            )
            # most frequent neighbor label, min label on ties:
            # min_by over the key struct (-count, label) -- negating the
            # COUNT (always numeric) instead of the label keeps the
            # tie-break type-agnostic, so string node ids (the common
            # doc-id type from the neardup pipeline) work too
            new = (
                neigh.groupBy("node")
                .agg(
                    F.min_by(
                        F.col("label"),
                        F.struct(
                            (-F.col("__c")).alias("__nc"), F.col("label")
                        ),
                    ).alias("label")
                )
            )
            new_labels = _truncate(new)
            new_ids = _ckpt_ids(new_labels)
            changed = (
                new_labels.select("node", F.col("label").alias("__new"))
                .join(labels, "node")
                .filter(F.col("__new") != F.col("label"))
            )
            converged = changed.isEmpty()
            _unpersist_rdd_ids(spark, prev_ids)
            prev_ids = new_ids
            labels = new_labels
            if converged:
                break
    except BaseException:
        _unpersist_rdd_ids(spark, base_ids | prev_ids)
        raise
    _unpersist_rdd_ids(spark, base_ids)
    _track_final_blocks(spark, labels)
    return labels.select("node", F.col("label").alias("community"))


def link_prediction(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_degree: int | None = None,
    min_common: int = 1,
    ndigits: int = 6,
) -> DataFrame:
    """Neighborhood-overlap link prediction: for node pairs NOT already
    connected, common-neighbor count and neighborhood Jaccard — the
    "these two template families are about to merge" / "suggest this
    join" primitive over any graph the pipeline derives.

    Shape: symmetrize once; candidate pairs come from the WEDGE join
    (two edges sharing a center w → pair (u, v), u < v) — one equi-join
    on the center node, so work is Σ_w deg(w)², confined per center and
    NEVER all-pairs. `max_degree` drops hub CENTERS above the cap
    before the join (the O(√E) discipline of triangle_count: a
    boilerplate hub contributes deg² wedges and its recommendations are
    noise anyway — the cap is the documented 100 TB knob; dropped hubs
    still count toward their neighbors' degrees, keeping Jaccard
    denominators honest). Existing edges leave via one anti-join;
    degrees come from the node-sized degree table joined twice.

    jaccard = common / (deg(u) + deg(v) − common).

    Output: (id_a, id_b, common BIGINT, jaccard) with id_a < id_b,
    common ≥ `min_common`.
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    # NOTE (round-13 opt): persisting sym for its three consumers
    # (degree table, wedge centers, existing-edge anti-join) was MEASURED
    # SLOWER (2.54 -> 3.67 s median on the registered query): the cache
    # materialization serializes what AQE otherwise runs as three
    # concurrent duplicate stages. Left lazy.
    sym = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct()
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    centers = sym.select(
        F.col("v").alias("w"), F.col("u").alias("leaf")
    )
    if max_degree is not None:
        # Capped path (round-14 opt): enumerate wedges with the
        # inverted-index bucket explode of ngram_jaccard_pairs instead
        # of a center-keyed SELF-JOIN. One collect_list per center
        # (buffer bounded by the cap via the same semi-join as before)
        # and an ordered-combination explode emit each wedge exactly
        # once — the join shipped the centers table through the
        # w-exchange TWICE (both legs) and its post-match pa<pb filter
        # discarded half the matches after producing them. Measured at
        # sf0.1: wall-NEUTRAL (4.06 -> 4.04 s median — the (pa, pb)
        # count exchange dominates both shapes identically); kept for
        # the scale story: one centers-sized exchange pass instead of
        # two, hash-identical output. The uncapped path keeps the join:
        # an unbounded hub would build an unbounded array in ONE
        # aggregation buffer, whereas the join only fans out rows.
        ok = deg.filter(F.col("deg") <= int(max_degree)).select(
            F.col("u").alias("w")
        )
        centers = centers.join(F.broadcast(ok), "w", "left_semi")
        buckets = centers.groupBy("w").agg(
            F.sort_array(F.collect_list("leaf")).alias("ids")
        )
        wedges = buckets.select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("ids"),
                        lambda pa, i: F.transform(
                            F.slice(
                                F.col("ids"), i + 2, F.size(F.col("ids"))
                            ),
                            lambda pb: F.struct(
                                pa.alias("pa"), pb.alias("pb")
                            ),
                        ),
                    )
                )
            ).alias("p")
        ).select("p.pa", "p.pb")
    else:
        a = centers.select("w", F.col("leaf").alias("pa"))
        b = centers.select("w", F.col("leaf").alias("pb"))
        wedges = a.join(b, "w").filter(F.col("pa") < F.col("pb"))
    common = wedges.groupBy("pa", "pb").agg(
        F.count(F.lit(1)).alias("common")
    ).filter(F.col("common") >= int(min_common))
    # drop already-connected pairs (sym has both directions; pa < pb
    # needs only one)
    existing = sym.filter(F.col("u") < F.col("v")).select(
        F.col("u").alias("pa"), F.col("v").alias("pb")
    )
    cand = common.join(existing, ["pa", "pb"], "left_anti")
    da = deg.select(F.col("u").alias("pa"), F.col("deg").alias("__da"))
    db = deg.select(F.col("u").alias("pb"), F.col("deg").alias("__db"))
    return (
        cand.join(F.broadcast(da), "pa")
        .join(F.broadcast(db), "pb")
        .select(
            F.col("pa").alias("id_a"),
            F.col("pb").alias("id_b"),
            F.col("common"),
            F.round(
                F.col("common")
                / (F.col("__da") + F.col("__db") - F.col("common")),
                ndigits,
            ).alias("jaccard"),
        )
    )
