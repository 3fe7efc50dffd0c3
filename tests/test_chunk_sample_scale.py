"""Round-5 extensions: retrieval chunking, per-group sampling, robust
scaling — the invariants the SQL oracles can't express (coverage/overlap
reconstruction, partitioning independence, approx-vs-exact closeness)."""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from opendosm_parquet_to_sqlite_spark.operators import features, sampling

from .conftest import SF0001


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF0001}/documents.parquet")


# --- chunk_documents ---------------------------------------------------------


def _mk_docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_chunk_covers_every_token_with_exact_overlap(spark):
    words = " ".join(f"w{i}" for i in range(100))
    out = sampling.chunk_documents(
        _mk_docs(spark, [words]), "text", "doc_id", 32, 8
    ).orderBy("chunk_idx").collect()
    # stride 24 over 100 tokens -> ceil((100-8)/24) = 4 chunks
    assert [r.chunk_idx for r in out] == [0, 1, 2, 3]
    assert [r.n_chunk_tokens for r in out] == [32, 32, 32, 28]
    for r in out:
        toks = r.chunk_text.split(" ")
        assert toks[0] == f"w{r.chunk_idx * 24}"  # stride positions exact
        assert len(toks) == r.n_chunk_tokens
    # adjacent chunks share exactly the 8-token overlap band
    assert out[0].chunk_text.split(" ")[-8:] == out[1].chunk_text.split(" ")[:8]
    # union of chunks covers the doc in order (dedup overlaps)
    seen = []
    for r in out:
        for t in r.chunk_text.split(" "):
            if not seen or seen[-1] != t:
                if t not in seen:
                    seen.append(t)
    assert seen == words.split(" ")


def test_chunk_short_and_empty_docs_keep_one_row(spark):
    out = sampling.chunk_documents(
        _mk_docs(spark, ["only three tokens", "", "   "]),
        "text", "doc_id", 32, 8,
    ).collect()
    by_doc = {(r.doc_id, r.chunk_idx): r for r in out}
    assert len(out) == 3  # one chunk each, nothing disappears
    assert by_doc[(0, 0)].n_chunk_tokens == 3
    assert by_doc[(0, 0)].chunk_text == "only three tokens"
    assert by_doc[(1, 0)].n_chunk_tokens == 0
    assert by_doc[(1, 0)].chunk_text == ""
    assert by_doc[(2, 0)].n_chunk_tokens == 0


def test_chunk_null_text_keeps_one_empty_chunk(spark):
    df = spark.createDataFrame(
        [(0, None), (1, "two tokens")], "doc_id long, text string"
    )
    out = sampling.chunk_documents(df, "text", "doc_id", 32, 8).collect()
    by_doc = {(r.doc_id, r.chunk_idx): r for r in out}
    assert len(out) == 2  # NULL text does not drop the row or go NULL
    assert by_doc[(0, 0)].n_chunk_tokens == 0
    assert by_doc[(0, 0)].chunk_text == ""
    assert by_doc[(1, 0)].chunk_text == "two tokens"


def test_chunk_rejects_bad_overlap(spark):
    with pytest.raises(ValueError):
        sampling.chunk_documents(
            _mk_docs(spark, ["x"]), "text", "doc_id", 16, 16
        )


# --- sample_per_group --------------------------------------------------------


def test_sample_per_group_caps_and_ranks(docs):
    out = sampling.sample_per_group(docs, "lang", 5, "doc_id")
    sizes = {
        r.lang: r.n
        for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    avail = {
        r.lang: r.n
        for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    for lang, n in sizes.items():
        assert n == min(5, avail[lang])
    ranks = {r.sample_rank for r in out.collect()}
    assert ranks <= {1, 2, 3, 4, 5}


def test_sample_per_group_partitioning_independent(docs):
    a = sampling.sample_per_group(docs, "lang", 7, "doc_id")
    b = sampling.sample_per_group(
        docs.repartition(13, "source"), "lang", 7, "doc_id"
    )
    assert sorted((r.doc_id, r.sample_rank) for r in a.collect()) == sorted(
        (r.doc_id, r.sample_rank) for r in b.collect()
    )


# hostile token vocabulary, mirroring tests/test_dirty_data.py: NULs,
# zero-width space, combining marks, RTL scripts — tokens the whitespace
# tokenizer must carry through unmangled
_HOSTILE_TOKENS = [
    "the", "data", "x\x00y", "\x00", "a​b", "éclair",
    "שלום", "مرحبا", "1",
]

_fuzz_doc = st.lists(
    st.sampled_from(_HOSTILE_TOKENS), min_size=0, max_size=20
).map(lambda ws: " ".join(ws))


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    docs=st.lists(_fuzz_doc, min_size=1, max_size=8),
    window=st.integers(min_value=2, max_value=8),
    overlap_frac=st.integers(min_value=0, max_value=100),
)
@pytest.mark.slow
def test_chunk_documents_fuzz_mass_conservation(spark, docs, window,
                                                overlap_frac):
    """For arbitrary hostile docs and (window, overlap): the chunk count is
    exactly max(ceil((n-overlap)/stride), 1), chunk j is exactly
    tokens[j*stride : j*stride+window] (every token appears in ≥1 chunk —
    mass conserved), and the output is partitioning-independent."""
    overlap = overlap_frac * (window - 1) // 100  # 0..window-1
    stride = window - overlap
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    out = sorted(
        (r.doc_id, r.chunk_idx, r.n_chunk_tokens, r.chunk_text)
        for r in sampling.chunk_documents(
            df, "text", "doc_id", window, overlap
        ).collect()
    )
    # determinism / partitioning independence
    out2 = sorted(
        (r.doc_id, r.chunk_idx, r.n_chunk_tokens, r.chunk_text)
        for r in sampling.chunk_documents(
            df.repartition(5), "text", "doc_id", window, overlap
        ).collect()
    )
    assert out == out2
    expected = []
    for i, t in enumerate(docs):
        toks = t.split()
        n = len(toks)
        n_chunks = max(math.ceil((n - overlap) / stride), 1)
        for j in range(n_chunks):
            piece = toks[j * stride : j * stride + window]
            expected.append((i, j, len(piece), " ".join(piece)))
    assert out == sorted(expected)
    # mass conservation explicit: token position p of doc i is inside chunk
    # p // stride (clamped) — every position is covered by the formula above
    # because chunk (n_chunks-1) starts at (n_chunks-1)*stride <= n-1.


def test_chunk_documents_window_equals_overlap_rejected(spark):
    df = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    for window, overlap in [(4, 4), (4, 5), (1, 1)]:
        with pytest.raises(ValueError):
            sampling.chunk_documents(df, "text", "doc_id", window, overlap)


def test_sample_per_group_prefilter_matches_plain(docs):
    """The hot-group digest pre-filter must not change the sample: the kept
    set is downward-closed under the rank order, so top-k survives."""
    plain = sampling.sample_per_group(docs, "lang", 5, "doc_id")
    pre = sampling.sample_per_group(
        docs, "lang", 5, "doc_id", prefilter_threshold=10
    )
    assert sorted((r.doc_id, r.sample_rank) for r in plain.collect()) == sorted(
        (r.doc_id, r.sample_rank) for r in pre.collect()
    )


def test_sample_per_group_prefilter_below_exchange(docs):
    """The digest pre-filter must sit BELOW the window's group-keyed
    exchange (it exists to shrink that shuffle). Catalyst folds the
    threshold predicate straight into the counts-broadcast join condition,
    so the shape is: scan → BroadcastHashJoin(…conv(substring(md5…)) <
    cap…) → partial WindowGroupLimit → Exchange → final WindowGroupLimit."""
    import contextlib
    import io

    out = sampling.sample_per_group(
        docs, "lang", 5, "doc_id", prefilter_threshold=10
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    tree = plan.split("\n\n")[0]
    lines = tree.splitlines()
    bhj = [i for i, l in enumerate(lines) if "BroadcastHashJoin" in l]
    win_ex = [
        i for i, l in enumerate(lines)
        if "Exchange" in l and "Broadcast" not in l
    ]
    # top-down tree: the window exchange line precedes (sits above) the join
    assert bhj and win_ex and min(win_ex) < min(bhj)
    # the digest-prefix predicate is the join condition of that BHJ
    assert "conv(substring(md5" in plan
    # WindowGroupLimit partial/final still bracket the exchange
    assert plan.count("WindowGroupLimit") >= 2


# --- robust_scale ------------------------------------------------------------


def test_robust_scale_matches_manual(spark):
    # values 0..8 in one group: q1=2, med=4, q3=6, iqr=4
    df = spark.createDataFrame(
        [(i, "g", float(i)) for i in range(9)], "id long, g string, value double"
    )
    out = {
        r.id: r.value_scaled
        for r in features.robust_scale(df, "value", "g").collect()
    }
    assert out[4] == 0.0
    assert out[0] == pytest.approx(-1.0)
    assert out[8] == pytest.approx(1.0)


def test_robust_scale_clips_and_handles_constant_group(spark):
    rows = [(i, "hot", 1.0) for i in range(5)]  # constant -> IQR 0 -> NULL
    rows += [(10 + i, "g", float(i)) for i in range(9)] + [(99, "g", 1e9)]
    df = spark.createDataFrame(rows, "id long, g string, value double")
    out = {
        r.id: r.value_scaled
        for r in features.robust_scale(df, "value", "g", clip=5.0).collect()
    }
    assert all(out[i] is None for i in range(5))
    assert out[99] == 5.0  # clipped at +clip


def test_robust_scale_null_value_stays_null(spark):
    # least/greatest skip NULLs, so an unguarded clamp would map a NULL
    # input to the +clip bound — the guard must keep it NULL instead.
    rows = [(i, "g", float(i)) for i in range(9)] + [(99, "g", None)]
    df = spark.createDataFrame(rows, "id long, g string, value double")
    out = {
        r.id: r.value_scaled
        for r in features.robust_scale(df, "value", "g", clip=5.0).collect()
    }
    assert out[99] is None
    assert out[8] == pytest.approx(1.0)  # non-NULL rows unaffected


def test_robust_scale_null_group_key_kept(spark):
    # NULL group keys form their own stats group (groupBy keeps NULL);
    # the null-safe join must not drop those rows.
    rows = [(i, "g", float(i)) for i in range(9)]
    rows += [(100 + i, None, float(i)) for i in range(9)]
    df = spark.createDataFrame(rows, "id long, g string, value double")
    out = {
        r.id: r.value_scaled
        for r in features.robust_scale(df, "value", "g").collect()
    }
    assert len(out) == 18  # nothing silently disappears
    assert out[104] == 0.0  # NULL group scaled against its own stats
    assert out[108] == pytest.approx(1.0)


def test_robust_scale_approx_close_to_exact(spark):
    df = (
        spark.range(5000)
        .select(
            F.col("id"),
            F.lit("g").alias("g"),
            (F.col("id") % 101).cast("double").alias("value"),
        )
    )
    exact = {
        r.id: r.value_scaled
        for r in features.robust_scale(df, "value", "g").collect()
    }
    approx = {
        r.id: r.value_scaled
        for r in features.robust_scale(df, "value", "g", approx=True).collect()
    }
    diffs = [abs(exact[k] - approx[k]) for k in exact if exact[k] is not None]
    assert max(diffs) < 0.05  # sketch accuracy=10000 on 5k rows is tight


# --- neyman allocation -----------------------------------------------------


def test_neyman_allocation_favors_large_and_variable_strata(spark):
    import random

    from opendosm_parquet_to_sqlite_spark.operators.sampling import (
        neyman_allocation,
    )
    from pyspark.sql import functions as F2

    rng = random.Random(51)
    rows = []
    rid = 0
    # stratum A: large + high variance; B: large + low variance;
    # C: small + high variance; D: constant (S=0)
    for _ in range(2000):
        rows.append((rid, "A", rng.gauss(0, 10))); rid += 1
    for _ in range(2000):
        rows.append((rid, "B", rng.gauss(0, 1))); rid += 1
    for _ in range(200):
        rows.append((rid, "C", rng.gauss(0, 10))); rid += 1
    for _ in range(500):
        rows.append((rid, "D", 7.0)); rid += 1
    df = spark.createDataFrame(rows, "id long, s string, v double")
    alloc = {r.stratum: r for r in
             neyman_allocation(df, "s", "v", 1000).collect()}
    # N*S: A=20000, B=2000, C=2000, D=0 -> A ~833, B ~83, C ~83, D 0
    assert alloc["D"].alloc_n == 0
    assert alloc["A"].alloc_n > 700
    assert abs(alloc["B"].alloc_n - alloc["C"].alloc_n) < 30
    assert sum(a.alloc_n for a in alloc.values()) <= 1050
    # caps at stratum size
    tiny = neyman_allocation(
        df.filter(F2.col("s").isin("C", "D")), "s", "v", 5000
    ).collect()
    for r in tiny:
        assert r.alloc_n <= r.n_rows


# --- shuffle_for_training -------------------------------------------------------


def test_shuffle_for_training_is_a_permutation_and_deterministic(spark):
    from opendosm_parquet_to_sqlite_spark.operators.sampling import (
        shuffle_for_training,
    )

    df = spark.createDataFrame([(i,) for i in range(500)], "id long")
    out = shuffle_for_training(df, "id", n_shards=8).collect()
    assert len(out) == 500
    assert {r.id for r in out} == set(range(500))
    # positions are 1..n_shard contiguous within each shard
    per = {}
    for r in out:
        per.setdefault(r.shard, []).append(r.pos)
    assert set(per) <= set(range(8))
    for shard, ps in per.items():
        assert sorted(ps) == list(range(1, len(ps) + 1))
    # digest uniformity: no shard hogs the corpus (expected 62.5 each)
    sizes = sorted(len(v) for v in per.values())
    assert sizes[0] > 30 and sizes[-1] < 100
    # determinism under repartitioning
    again = shuffle_for_training(df.repartition(13), "id", 8).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_shuffle_for_training_appends_never_move_existing(spark):
    from opendosm_parquet_to_sqlite_spark.operators.sampling import (
        shuffle_for_training,
    )

    base = spark.createDataFrame([(i,) for i in range(200)], "id long")
    grown = spark.createDataFrame([(i,) for i in range(300)], "id long")
    a = {r.id: r.shard for r in shuffle_for_training(base, "id", 4).collect()}
    b = {r.id: r.shard for r in shuffle_for_training(grown, "id", 4).collect()}
    for i in range(200):
        assert a[i] == b[i], "appending rows must not reshard existing ones"
    # and global visit order of surviving rows is preserved (md5 order)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="n_shards"):
        shuffle_for_training(base, "id", 0)
