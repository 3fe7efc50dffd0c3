"""Tests for distributed connected components (operators/graph.py) and the
clustered corpus_clean mode."""

from __future__ import annotations

import pytest

from opendosm_parquet_to_sqlite_spark.operators import corpus, graph


def _cc(spark, edges, **kw):
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    return {
        r["doc_id"]: r["cluster_id"]
        for r in graph.connected_components(df, **kw).collect()
    }


def test_chain_topology_single_component(spark):
    # A~B, B~C but A≁C: component semantics put all three in ONE cluster
    # labelled by the min id — exactly one survivor.
    out = _cc(spark, [(1, 2), (2, 3)])
    assert out == {1: 1, 2: 1, 3: 1}


def test_multiple_components_and_min_labels(spark):
    out = _cc(spark, [(5, 9), (9, 7), (20, 30), (41, 40)])
    assert out == {5: 5, 9: 5, 7: 5, 20: 20, 30: 20, 40: 40, 41: 40}


def test_long_path_converges_via_pointer_jumping(spark):
    # a 64-node path: plain propagation needs 63 rounds; pointer jumping
    # must land it well inside the max_iter=20 default.
    edges = [(i, i + 1) for i in range(64)]
    out = _cc(spark, edges)
    assert set(out.values()) == {0}
    assert len(out) == 65


def test_chain_of_cliques_converges(spark):
    """The self-rooted-local-minima regime that defeats plain pointer
    jumping (label(label(u)) == label(u) when every label is a local-min
    root): 20 cliques of 5 nodes bridged into one chain — the sf10
    mutual-kNN replica shape, where min-label propagation alone needed a
    round per bridge hop. Root contraction must land it inside the
    default max_iter and label everything with the global min."""
    edges = []
    for c in range(20):
        base = 1000 - c * 50  # DECREASING clique ids → min sits at the far end
        members = [base + i for i in range(5)]
        edges += [(members[i], members[j]) for i in range(5) for j in range(i + 1, 5)]
        if c:
            edges.append((base + 50, base))  # bridge to the previous clique
    out = _cc(spark, edges)
    assert set(out.values()) == {50}
    assert len(out) == 100


def test_cycle_and_star(spark):
    out = _cc(spark, [(1, 2), (2, 3), (1, 3), (10, 11), (10, 12), (10, 13)])
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 13: 10}


def test_partitioning_independence(spark):
    """Cluster assignment depends only on the edge set — never on input
    order or partitioning."""
    import random

    edges = [(i, i + 1) for i in range(0, 40, 2)] + [(0, 2), (4, 6), (13, 21)]
    rng = random.Random(7)
    baseline = None
    for nparts in (1, 3, 16):
        shuffled = edges[:]
        rng.shuffle(shuffled)
        df = spark.createDataFrame(shuffled, ["id_a", "id_b"]).repartition(nparts)
        out = {
            r["doc_id"]: r["cluster_id"]
            for r in graph.connected_components(df).collect()
        }
        if baseline is None:
            baseline = out
        assert out == baseline


def _n_cached(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_intermediate_checkpoints_are_released(spark):
    """Per-round localCheckpoint blocks must be freed as the iteration
    advances: after a call, at most ONE resident block set remains (the
    final labels backing the returned DataFrame). Without the release, a
    64-node path graph leaves sym + one block set per round (~8)."""
    base = _n_cached(spark)
    edges = [(i, i + 1) for i in range(64)]
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    out = graph.connected_components(df)
    assert out.count() == 65
    assert _n_cached(spark) <= base + 1


def test_failure_path_releases_all_blocks(spark):
    base = _n_cached(spark)
    df = spark.createDataFrame([(i, i + 1) for i in range(40)], ["id_a", "id_b"])
    with pytest.raises(RuntimeError, match="converge"):
        graph.connected_components(df, max_iter=1)
    # <= (not ==): the ContextCleaner may concurrently reap residuals from
    # EARLIER tests, shrinking the registry below the sampled baseline.
    assert _n_cached(spark) <= base


def test_reliable_checkpoint_path(spark, tmp_path):
    """checkpoint_dir switches to reliable checkpoint(): same answer, and
    ZERO resident cached blocks afterwards (data lives in checkpoint
    files, not executor memory)."""
    base = _n_cached(spark)
    out = _cc(
        spark, [(1, 2), (2, 3), (10, 11)], checkpoint_dir=str(tmp_path / "ckpt")
    )
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    assert _n_cached(spark) <= base
    # checkpoint files actually landed on disk
    assert any((tmp_path / "ckpt").rglob("*"))


def test_nonconvergence_raises(spark):
    df = spark.createDataFrame([(i, i + 1) for i in range(40)], ["id_a", "id_b"])
    with pytest.raises(RuntimeError, match="converge"):
        graph.connected_components(df, max_iter=1)


def test_corpus_clean_clustered_keeps_one_per_chain(spark):
    """Chain of three near-identical docs (A~B, B~C, A≁C by threshold):
    greedy keeps only A (B and C are each id_b of some pair), while
    cluster=True also keeps exactly A — but on a topology where pairs are
    (A,B) and (C,B) arriving with C>B, greedy drops B and C keeping A
    only if A<B; cluster semantics always keep exactly min per component.
    Both modes are exercised; cluster mode must keep exactly one doc of
    the connected trio."""
    base = (
        "the quick brown fox jumps over the lazy dog and then runs far away "
        "to the old stone bridge in the quiet green valley near the river"
    )
    words = base.split()
    mid = words[:]
    mid[3] = "red"
    mid[10] = "walks"
    far = mid[:]
    far[0] = "a"
    far[7] = "under"
    far[15] = "cold"
    rows = [
        (1, " ".join(words), "en", 100),
        (2, " ".join(mid), "en", 100),
        (3, " ".join(far), "en", 100),
        (50, "completely different text about spark engines " * 3, "en", 100),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang", "n_chars"])
    kept = corpus.clean_corpus(
        docs, "text", "doc_id", min_quality=0.0, ngram_n=3,
        jaccard_threshold=0.5, max_doc_freq=None, cluster=True,
    )
    kept_ids = sorted(r["doc_id"] for r in kept.select("doc_id").collect())
    # sanity: the trio must actually chain (1~2, 2~3) at this threshold
    from opendosm_parquet_to_sqlite_spark.operators import neardup

    pairs = {
        (r["id_a"], r["id_b"])
        for r in neardup.ngram_jaccard_pairs(
            docs, "text", "doc_id", n=3, threshold=0.5
        ).collect()
    }
    assert (1, 2) in pairs and (2, 3) in pairs and (1, 3) not in pairs
    assert kept_ids == [1, 50]


def test_keep_best_per_cluster_semantics(spark):
    from opendosm_parquet_to_sqlite_spark.operators.graph import (
        keep_best_per_cluster,
    )

    comps = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)],
        "doc_id long, cluster_id long",
    )
    docs = spark.createDataFrame(
        [(1, 10), (2, 50), (3, 50), (7, 5), (8, 5)],
        "doc_id long, n_chars long",
    )
    out = {
        r.cluster_id: (r.keep_id, r.keep_score, r.n_members)
        for r in keep_best_per_cluster(
            comps, docs, "doc_id", "n_chars"
        ).collect()
    }
    # cluster 1: score tie 50 between docs 2 and 3 -> smaller id wins
    assert out[1] == (2, 50, 3)
    assert out[7] == (7, 5, 2)


# --- triangle_count ----------------------------------------------------------


def test_triangle_count_known_graph(spark):
    """K4 has 4 triangles, every node in 3; a pendant node in none; a
    chain closes nothing."""
    edges = [
        # K4 on 1-4 (mixed orientations + a duplicate + a self edge)
        (1, 2), (1, 3), (1, 4), (3, 2), (2, 4), (3, 4), (2, 1), (2, 2),
        # pendant
        (4, 9),
        # chain 10-11-12 (open wedge, no triangle)
        (10, 11), (11, 12),
    ]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.node: r.n_triangles for r in
           graph.triangle_count(df).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangle_count_total_matches_reference(spark):
    """Random graph: 3 * total triangles == sum of per-node counts, and
    the total matches a brute-force itertools reference."""
    import itertools
    import random

    rng = random.Random(31)
    nodes = list(range(30))
    edges = set()
    while len(edges) < 80:
        a, b = rng.sample(nodes, 2)
        edges.add((min(a, b), max(a, b)))
    df = spark.createDataFrame(sorted(edges), "id_a long, id_b long")
    got = {r.node: r.n_triangles for r in
           graph.triangle_count(df).collect()}
    eset = set(edges)
    ref = sum(
        1
        for x, y, z in itertools.combinations(nodes, 3)
        if (x, y) in eset and (y, z) in eset and (x, z) in eset
    )
    assert sum(got.values()) == 3 * ref


# --- k_core ------------------------------------------------------------------


def _py_k_core(edges, k):
    """Reference peel on an adjacency dict."""
    from collections import defaultdict

    adj = defaultdict(set)
    for a, b in edges:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    changed = True
    while changed:
        changed = False
        for n in list(adj):
            if len(adj[n]) < k:
                for m in adj[n]:
                    adj[m].discard(n)
                del adj[n]
                changed = True
    return {n: len(ns) for n, ns in adj.items()}


def test_k_core_clique_with_tendrils(spark):
    # K5 (every node degree 4) + a chain hanging off node 1
    edges = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    edges += [(1, 10), (10, 11), (11, 12)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.node: r.degree for r in graph.k_core(df, k=3).collect()}
    assert got == {0: 4, 1: 4, 2: 4, 3: 4, 4: 4}  # chain fully peeled
    # k=1 keeps everything (self-loop-free connected structure)
    got1 = {r.node: r.degree for r in graph.k_core(df, k=1).collect()}
    assert set(got1) == set(range(5)) | {10, 11, 12}


def test_k_core_cascading_peel(spark):
    """Peeling must CASCADE: removing a low-degree node can drop a
    neighbor below k — one pass is not enough."""
    # path a-b-c-d: 2-core empty, but only after cascading removals
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "id_a long, id_b long"
    )
    assert graph.k_core(df, k=2).count() == 0


def test_k_core_matches_reference_on_random_graph(spark):
    import random

    rng = random.Random(81)
    edges = set()
    while len(edges) < 120:
        a, b = rng.sample(range(40), 2)
        edges.add((min(a, b), max(a, b)))
    df = spark.createDataFrame(sorted(edges), "id_a long, id_b long")
    for k in (2, 3, 4):
        got = {r.node: r.degree for r in graph.k_core(df, k=k).collect()}
        assert got == _py_k_core(edges, k), k


def _lpa_ref(edges, max_iter=10):
    """Pure-Python synchronous LPA with the same min-label tie-break."""
    from collections import Counter, defaultdict

    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    labels = {n: n for n in adj}
    for _ in range(max_iter):
        new = {}
        for n in adj:
            cnt = Counter(labels[m] for m in adj[n])
            mx = max(cnt.values())
            new[n] = min(lb for lb, c in cnt.items() if c == mx)
        if new == labels:
            return new
        labels = new
    return labels


def test_label_propagation_matches_python_reference(spark):
    # two 5-cliques joined by one bridge edge: components would merge
    # them; LPA must keep two communities
    cliq1 = [(i, j) for i in range(5) for j in range(i + 1, 5)]
    cliq2 = [(i, j) for i in range(10, 15) for j in range(i + 1, 15)]
    edges = cliq1 + cliq2 + [(4, 10)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r["node"]: r["community"]
        for r in graph.label_propagation(df).collect()
    }
    assert got == _lpa_ref(edges)
    # communities separate across the bridge
    assert len({got[i] for i in range(5)}) == 1
    assert len({got[i] for i in range(10, 15)}) == 1
    assert got[0] != got[10]


def test_label_propagation_deterministic_across_partitionings(spark):
    import random

    rng = random.Random(5)
    edges = [(rng.randrange(40), rng.randrange(40)) for _ in range(120)]
    edges = [(a, b) for a, b in edges if a != b]
    df1 = spark.createDataFrame(edges, "id_a long, id_b long").repartition(1)
    df8 = spark.createDataFrame(edges, "id_a long, id_b long").repartition(8)
    r1 = sorted(
        (r["node"], r["community"])
        for r in graph.label_propagation(df1).collect()
    )
    r8 = sorted(
        (r["node"], r["community"])
        for r in graph.label_propagation(df8).collect()
    )
    assert r1 == r8 == sorted(_lpa_ref(edges).items())


def test_label_propagation_string_node_ids(spark):
    # string ids (the doc-id type the neardup pipeline feeds) must work:
    # the r7 tie-break negated the label, which casts string->double
    # under ANSI mode and crashed. Two 3-cliques bridged once.
    cliq1 = [("a", "b"), ("b", "c"), ("a", "c")]
    cliq2 = [("x", "y"), ("y", "z"), ("x", "z")]
    df = spark.createDataFrame(
        cliq1 + cliq2 + [("c", "x")], "id_a string, id_b string"
    )
    got = {
        r["node"]: r["community"]
        for r in graph.label_propagation(df).collect()
    }
    assert got == _lpa_ref(cliq1 + cliq2 + [("c", "x")])
    assert len({got[n] for n in "abc"}) == 1
    assert len({got[n] for n in "xyz"}) == 1
    assert got["a"] != got["x"]


def test_link_prediction_hand_graph(spark):
    """Square 1-2-3-4-1 plus chord candidates: 1-3 and 2-4 each share
    two neighbors and are unlinked -> predicted with jaccard 2/2=1.0;
    existing edges never appear."""
    edges = [(1, 2), (2, 3), (3, 4), (4, 1)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    out = {(r["id_a"], r["id_b"]): r for r in
           graph.link_prediction(df).collect()}
    assert set(out) == {(1, 3), (2, 4)}
    assert out[(1, 3)]["common"] == 2 and out[(1, 3)]["jaccard"] == 1.0
    assert out[(2, 4)]["common"] == 2


def test_link_prediction_hub_cap_drops_center_not_leaves(spark):
    """A hub center above max_degree contributes no wedges, but still
    counts in its neighbors' degrees (honest Jaccard denominators)."""
    hub_edges = [(100, i) for i in range(1, 7)]      # hub degree 6
    extra = [(1, 50), (2, 50)]                       # small shared center
    df = spark.createDataFrame(hub_edges + extra, "id_a long, id_b long")
    capped = {(r["id_a"], r["id_b"]): r for r in
              graph.link_prediction(df, max_degree=3).collect()}
    # hub-centered wedges (i, j < 7 pairs through 100) are gone; what
    # remains: (1,2) through center 50, and (50,100) through the
    # low-degree centers 1 and 2 — the hub may still be an ENDPOINT
    assert set(capped) == {(1, 2), (50, 100)}
    assert capped[(50, 100)]["common"] == 2
    # deg(1) = 2 (hub + 50), deg(2) = 2 -> jaccard = 1/(2+2-1)
    assert capped[(1, 2)]["common"] == 1
    assert abs(capped[(1, 2)]["jaccard"] - 1.0 / 3.0) < 1e-6  # 6-dp rounded
    # uncapped: hub wedges flood back in
    full = graph.link_prediction(df)
    assert full.count() > 1
