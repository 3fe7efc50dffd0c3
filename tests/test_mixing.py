"""Data-mixing / compliance layer: deterministic sampling + splits,
sequence packing, contamination, PII scrubbing, repetition gate — the
semantic properties the SQL oracles can't express (determinism across
partitionings, rate accuracy, packing invariants, recall guarantees)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from opendosm_parquet_to_sqlite_spark.operators import (
    contamination,
    privacy,
    sampling,
    text,
)

from .conftest import SF0001


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF0001}/documents.parquet")


# --- stratified_sample / split_assign ----------------------------------------


def test_sample_rate_accuracy(spark):
    n = 20_000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit("s").alias("src")
    )
    kept = sampling.stratified_sample(
        df, "src", "doc_id", {"s": 0.25}
    ).count()
    assert abs(kept / n - 0.25) < 0.02  # md5 is uniform; 20k keeps ±2pp


def test_sample_deterministic_and_partitioning_independent(spark):
    df = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 3).cast("string").alias("src"),
    )
    rates = {"0": 0.5, "1": 0.1, "2": 0.9}
    a = sampling.stratified_sample(df, "src", "doc_id", rates)
    b = sampling.stratified_sample(df.repartition(17), "src", "doc_id", rates)
    assert sorted(r.doc_id for r in a.collect()) == sorted(
        r.doc_id for r in b.collect()
    )


def test_sample_rate_zero_and_one(spark):
    df = spark.range(500).select(
        F.col("id").alias("doc_id"), F.lit("s").alias("src")
    )
    assert sampling.stratified_sample(df, "src", "doc_id", {"s": 0.0}).count() == 0
    assert (
        sampling.stratified_sample(df, "src", "doc_id", {"s": 1.0}).count() == 500
    )


def test_sample_rejects_bad_rate():
    with pytest.raises(ValueError, match="rate"):
        sampling.rate_to_hex(1.5)


def test_split_assign_covers_all_rows_with_sane_fractions(spark):
    df = spark.range(10_000).select(F.col("id").alias("doc_id"))
    out = sampling.split_assign(df, "doc_id")
    frac = {
        r["split"]: r["c"] / 10_000
        for r in out.groupBy("split").agg(F.count("*").alias("c")).collect()
    }
    assert abs(frac["train"] - 0.9) < 0.02
    assert abs(frac["val"] - 0.05) < 0.01
    assert abs(frac["test"] - 0.05) < 0.01


def test_split_assign_disjoint_from_sample_namespace(spark):
    # the same id must not correlate across namespaces: sampling at 50%
    # then splitting must still give ~90% train within the sample
    df = spark.range(20_000).select(
        F.col("id").alias("doc_id"), F.lit("s").alias("src")
    )
    kept = sampling.stratified_sample(df, "src", "doc_id", {"s": 0.5})
    out = sampling.split_assign(kept, "doc_id")
    train = out.filter("split = 'train'").count() / out.count()
    assert abs(train - 0.9) < 0.02


def test_split_assign_rejects_non_unit_sum(spark):
    df = spark.range(10).select(F.col("id").alias("doc_id"))
    with pytest.raises(ValueError, match="sum"):
        sampling.split_assign(df, "doc_id", [("a", 0.5), ("b", 0.2)])


# --- pack_sequences ----------------------------------------------------------


def test_pack_sequences_budget_invariant(spark):
    """Every sequence's token total minus its LAST doc is < budget (greedy
    fill overflows by at most one document), and sequence numbering is
    contiguous from 0 within each block."""
    df = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 37 + 1).alias("n_tok"),
    )
    out = sampling.pack_sequences(
        df, "doc_id", F.col("n_tok"), budget=100, block_size=256
    ).collect()
    by_seq: dict[tuple, list] = {}
    for r in out:
        by_seq.setdefault((r.block, r.seq_in_block), []).append(r)
    for (block, seq), rows in by_seq.items():
        rows.sort(key=lambda r: r.doc_id)
        total = sum(r.n_tokens for r in rows)
        assert total - rows[-1].n_tokens < 100, (block, seq, total)
    for block in {b for b, _ in by_seq}:
        seqs = sorted(s for b, s in by_seq if b == block)
        assert seqs == list(range(len(seqs)))


def test_pack_sequences_block_local(spark):
    """Packing never crosses a block boundary: cum_tokens restarts."""
    df = spark.range(600).select(
        F.col("id").alias("doc_id"), F.lit(10).alias("n_tok")
    )
    out = sampling.pack_sequences(
        df, "doc_id", F.col("n_tok"), budget=64, block_size=100
    )
    firsts = out.filter(F.col("doc_id") % 100 == 0).collect()
    assert all(r.cum_tokens == 10 and r.seq_in_block == 0 for r in firsts)


# --- contamination -----------------------------------------------------------


def test_contamination_flags_planted_overlap(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),  # contains benchmark 5-gram
        (2, "one two three four five six seven"),  # clean
        (3, "alpha beta gamma"),  # too short for a 5-gram
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    )
    out = {
        r.doc_id: (r.n_overlap, r.contaminated)
        for r in contamination.ngram_overlap(
            docs, bench, "text", "doc_id", n=5
        ).collect()
    }
    assert out[1] == (1, 1)
    assert out[2] == (0, 0)
    assert out[3] == (0, 0)  # short docs are trivially clean, not dropped


def test_contamination_counts_distinct_grams_once(spark):
    # a doc repeating the same contaminated 5-gram counts it once
    docs = spark.createDataFrame(
        [(1, "a b c d e a b c d e")], "doc_id long, text string"
    )
    bench = spark.createDataFrame([(9, "a b c d e")], "doc_id long, text string")
    [r] = contamination.ngram_overlap(docs, bench, "text", "doc_id", n=5).collect()
    # grams of doc 1: 'a b c d e' (x2, distinct once), 'b c d e a',
    # 'c d e a b', 'd e a b c', 'e a b c d' — only the first is in bench
    assert (r.n_overlap, r.contaminated) == (1, 1)


# --- privacy -----------------------------------------------------------------


def test_pii_redaction_and_counts(spark):
    docs = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@corp.example.org now"),
            (2, "server 192.168.10.250 and 10.0.0.1 up"),
            (3, "call +60-1234-5678 today"),
            (4, "nothing sensitive here"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in privacy.pii_profile(docs, "text", "doc_id").collect()}
    assert (out[1].n_emails, out[1].pii_total) == (1, 1)
    assert (out[2].n_ips, out[2].pii_total) == (2, 2)
    assert (out[3].n_phones, out[3].pii_total) == (1, 1)
    assert out[4].pii_total == 0
    redacted = docs.select(
        "doc_id", privacy.redact_pii("text").alias("t")
    ).collect()
    txt = {r.doc_id: r.t for r in redacted}
    assert txt[1] == "mail <EMAIL> now"
    assert txt[2] == "server <IP> and <IP> up"
    assert txt[3] == "call <PHONE> today"
    assert txt[4] == "nothing sensitive here"


# --- repetition gate ---------------------------------------------------------


@pytest.mark.slow
def test_prepare_training_data_semantics(spark, docs):
    from opendosm_parquet_to_sqlite_spark.operators import corpus

    bench = docs.filter(F.col("doc_id") % 97 == 0)
    cand = docs.filter(F.col("doc_id") % 97 != 0).select(
        "doc_id", "source", "text"
    )
    out = corpus.prepare_training_data(
        cand, bench, "text", "doc_id", "source",
        rates={"src0": 0.5, "src1": 0.25}, default_rate=0.1,
        budget=64, block_size=128,
    ).collect()
    assert out, "pipeline produced no training rows"
    splits = {r.split for r in out}
    assert splits <= {"train", "val", "test"} and "train" in splits
    # sequences never mix splits or sources (leak guard), and the greedy
    # budget invariant holds: sequence total minus its last doc < budget
    by_seq: dict[tuple, list] = {}
    for r in out:
        by_seq.setdefault((r.source, r.split, r.block, r.seq_in_block), []).append(r)
    for rows in by_seq.values():
        rows.sort(key=lambda r: r.doc_id)
        total = sum(r.n_tokens for r in rows)
        assert total - rows[-1].n_tokens < 64
    # deterministic: a second run yields the identical row set
    out2 = corpus.prepare_training_data(
        cand.repartition(13), bench, "text", "doc_id", "source",
        rates={"src0": 0.5, "src1": 0.25}, default_rate=0.1,
        budget=64, block_size=128,
    ).collect()
    key = lambda r: (r.doc_id, r.source, r.split, r.block, r.seq_in_block)
    assert sorted(map(key, out)) == sorted(map(key, out2))


def test_repetition_profile_flags_degenerate_docs(spark):
    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam"),  # one token repeated
            (2, "the quick brown fox jumps over lazy dogs tonight maybe"),
            (3, ""),  # empty: fails the gate, still present
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in text.repetition_profile(docs, "text", "doc_id").collect()
    }
    assert out[1].repetition_ok == 0
    assert out[1].top_token_frac == 1.0
    assert out[1].distinct_ratio == pytest.approx(1 / 6, abs=1e-6)
    assert out[2].repetition_ok == 1
    assert out[2].distinct_ratio == 1.0
    assert out[3].n_tokens == 0 and out[3].repetition_ok == 0


# --- incremental ingest ------------------------------------------------------


@pytest.mark.slow
def test_ingest_increment_equals_batch_dedup(spark, docs):
    """Two incremental batches against a seeded index must keep EXACTLY the
    docs a single batch sweep over the whole corpus keeps (greedy min-id,
    ids monotone across batches)."""
    from opendosm_parquet_to_sqlite_spark.operators import corpus, neardup

    base = docs.filter(F.col("doc_id") < 200).select("doc_id", "text")
    b1 = docs.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 350)).select(
        "doc_id", "text"
    )
    b2 = docs.filter(F.col("doc_id") >= 350).select("doc_id", "text")
    kw = dict(n=2, threshold=0.4)

    bands, sets = neardup.build_neardup_index(base, "text", "doc_id", n=2)
    s1, nb1, ns1 = corpus.ingest_increment(b1, bands, sets, "text", "doc_id", **kw)
    bands = bands.unionByName(nb1)
    sets = sets.unionByName(ns1)
    s2, _, _ = corpus.ingest_increment(b2, bands, sets, "text", "doc_id", **kw)
    incremental = sorted(
        r.doc_id for r in s1.select("doc_id").collect()
    ) + sorted(r.doc_id for r in s2.select("doc_id").collect())

    pairs = neardup.minhash_lsh_pairs(
        docs.select("doc_id", "text"), "text", "doc_id", **kw
    )
    losers = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    batch = sorted(
        r.doc_id
        for r in docs.select("doc_id")
        .filter(F.col("doc_id") >= 200)
        .join(losers, "doc_id", "left_anti")
        .collect()
    )
    assert sorted(incremental) == batch
    assert batch, "fixture must keep some survivors"
    assert len(batch) < 300, "fixture must drop some near-dups"


# --- null-text robustness ----------------------------------------------------


def test_null_text_flows_through_gates_without_errors(spark):
    """Fixture tables carry no NULL text, but real corpora do: every gate
    and profile must pass NULL through as a dropped/zeroed doc, never an
    error or a phantom match."""
    docs = spark.createDataFrame(
        [(1, None), (2, "a real document with several words here")],
        "doc_id long, text string",
    )
    prof = {r.doc_id: r for r in text.repetition_profile(docs, "text", "doc_id").collect()}
    assert prof[1].n_tokens == 0 and prof[1].repetition_ok == 0
    assert prof[2].n_tokens == 7

    pii = {r.doc_id: r for r in privacy.pii_profile(docs, "text", "doc_id").collect()}
    assert pii[2].pii_total == 0  # doc 1 yields nulls, doc 2 clean zeroes

    out = contamination.ngram_overlap(
        docs, docs.filter("doc_id = 2"), "text", "doc_id", n=3
    )
    got = {r.doc_id: r.contaminated for r in out.collect()}
    assert got[1] == 0 and got[2] == 1  # null doc is clean, not an error


# --- unigram log-prob quality signal -----------------------------------------


def test_unigram_logprob_matches_duckdb_oracle(spark):
    """The corpus-self-perplexity scorer is deterministic arithmetic —
    verified against a DuckDB re-statement (in-repo oracle: the registry's
    driver window is full, so the hash check lives here)."""
    import duckdb

    out = {
        (r.doc_id): (r.n_tokens, r.avg_neg_logprob)
        for r in text.unigram_logprob_score(
            spark.read.parquet(f"{SF0001}/documents.parquet"), "text", "doc_id"
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF0001}/documents.parquet'"
    )
    rows = con.execute(
        r"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(trim(text), '\s+'),
                               x -> x != '') AS t
            FROM documents
        ), terms AS (
            SELECT doc_id, lower(tok) AS term
            FROM toks, LATERAL unnest(t) AS u(tok)
        ), vocab AS (
            SELECT term, count(*) AS tf FROM terms GROUP BY term
        ), tot AS (
            SELECT CAST(sum(tf) AS DOUBLE) AS n_total,
                   CAST(count(*) AS DOUBLE) AS n_vocab FROM vocab
        ), logp AS (
            SELECT term, ln((tf + 1.0) / (n_total + n_vocab)) AS lp
            FROM vocab, tot
        )
        SELECT doc_id, CAST(count(*) AS BIGINT), round(-avg(lp), 6)
        FROM terms JOIN logp USING (term) GROUP BY doc_id
        """
    ).fetchall()
    expected = {r[0]: (r[1], r[2]) for r in rows}
    assert len(out) == len(expected)
    for k, (n, s) in expected.items():
        assert out[k][0] == n
        assert out[k][1] == pytest.approx(s, abs=2e-6), k


def test_unigram_logprob_ranks_rare_junk_higher(spark):
    docs = spark.createDataFrame(
        [
            (1, "common common common words words"),
            (2, "common words common words common"),
            (3, "zzqx vbnk qwrt plmj xkcd"),  # singleton junk
        ],
        "doc_id long, text string",
    )
    s = {
        r.doc_id: r.avg_neg_logprob
        for r in text.unigram_logprob_score(docs, "text", "doc_id").collect()
    }
    assert s[3] > s[1] and s[3] > s[2]


# --- bigram log-prob fluency signal ------------------------------------------


def test_bigram_logprob_matches_duckdb_oracle(spark):
    """Same in-repo oracle pattern as the unigram scorer (avg-of-doubles →
    float tolerance, not a 6-dp hash)."""
    import duckdb

    out = {
        r.doc_id: (r.n_bigrams, r.avg_neg_logprob)
        for r in text.bigram_logprob_score(
            spark.read.parquet(f"{SF0001}/documents.parquet"), "text", "doc_id"
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF0001}/documents.parquet'"
    )
    rows = con.execute(
        r"""
        WITH toks AS (
            SELECT doc_id,
                   list_transform(
                       list_filter(string_split_regex(trim(text), '\s+'),
                                   x -> x != ''), x -> lower(x)) AS t
            FROM documents
        ), pairs AS (
            SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
            FROM toks, LATERAL unnest(generate_series(1, len(t) - 1)) AS g(i)
            WHERE len(t) >= 2
        ), bg AS (
            SELECT w1, w2, CAST(count(*) AS DOUBLE) AS c12
            FROM pairs GROUP BY w1, w2
        ), ctx AS (
            SELECT w1, sum(c12) AS c1 FROM bg GROUP BY w1
        ), v AS (
            SELECT CAST(count(DISTINCT w2) AS DOUBLE) AS n_vocab FROM pairs
        ), logp AS (
            SELECT w1, w2, ln((c12 + 1.0) / (c1 + n_vocab)) AS lp
            FROM bg JOIN ctx USING (w1), v
        ), scored AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                   round(-avg(lp), 6) AS s
            FROM pairs JOIN logp USING (w1, w2) GROUP BY doc_id
        )
        SELECT d.doc_id, coalesce(s.n_bigrams, 0), s.s
        FROM documents d LEFT JOIN scored s USING (doc_id)
        """
    ).fetchall()
    expected = {r[0]: (r[1], r[2]) for r in rows}
    assert len(out) == len(expected)
    for k, (n, s) in expected.items():
        assert out[k][0] == n, k
        if s is None:
            assert out[k][1] is None, k
        else:
            assert out[k][1] == pytest.approx(s, abs=2e-6), k


def test_bigram_logprob_catches_word_salad(spark):
    """Scrambled text reuses corpus-typical WORDS but rare PAIRS — the
    bigram scorer separates it where the unigram scorer can't."""
    fluent = "the cat sat on the mat"
    docs = spark.createDataFrame(
        [(i, fluent) for i in range(1, 9)]
        + [(9, "mat the on sat cat the")],  # same tokens, scrambled order
        "doc_id long, text string",
    )
    uni = {
        r.doc_id: r.avg_neg_logprob
        for r in text.unigram_logprob_score(docs, "text", "doc_id").collect()
    }
    bi = {
        r.doc_id: r.avg_neg_logprob
        for r in text.bigram_logprob_score(docs, "text", "doc_id").collect()
    }
    assert uni[9] == pytest.approx(uni[1], abs=1e-6)  # unigram is blind
    assert bi[9] > bi[1]  # bigram is not


def test_bigram_logprob_pruned_equals_exact_when_k_covers_vocab(spark):
    """max_vocab_pairs >= |bigram vocab| keeps every pair in the broadcast
    table, so the pruned score is bit-identical to the exact one."""
    docs = spark.read.parquet(f"{SF0001}/documents.parquet").limit(200)
    exact = {
        r.doc_id: (r.n_bigrams, r.avg_neg_logprob)
        for r in text.bigram_logprob_score(docs, "text", "doc_id").collect()
    }
    pruned = {
        r.doc_id: (r.n_bigrams, r.avg_neg_logprob)
        for r in text.bigram_logprob_score(
            docs, "text", "doc_id", max_vocab_pairs=10_000_000
        ).collect()
    }
    assert pruned == exact


def test_bigram_logprob_pruned_scores_rare_pairs_conservatively(spark):
    """Below-k pruning treats out-of-table pairs as unseen (c12=0), so the
    pruned neg-logprob can only move UP (never flatters a document), and
    documents made entirely of top-k pairs keep their exact score."""
    fluent = "the cat sat on the mat"
    docs = spark.createDataFrame(
        [(i, fluent) for i in range(1, 9)] + [(9, "aardvark zyzzyva")],
        "doc_id long, text string",
    )
    exact = {
        r.doc_id: r.avg_neg_logprob
        for r in text.bigram_logprob_score(docs, "text", "doc_id").collect()
    }
    pruned = {
        r.doc_id: r.avg_neg_logprob
        for r in text.bigram_logprob_score(
            docs, "text", "doc_id", max_vocab_pairs=5
        ).collect()
    }
    for d in exact:
        assert pruned[d] >= exact[d] - 1e-9, d
    # the fluent docs' pairs all sit in the top-5 table -> exact score kept
    assert pruned[1] == exact[1]
    # the rare doc's single pair fell out of the table -> scored as unseen
    assert pruned[9] > exact[9]


def test_bigram_logprob_pruned_plan_is_broadcast_only(spark):
    """The pruned scoring path must not shuffle the pair stream: the only
    exchange below the per-doc agg is the bigram count agg itself — both
    probe tables join as BroadcastHashJoin."""
    docs = spark.createDataFrame(
        [(1, "a b c a b")], "doc_id long, text string"
    )
    out = text.bigram_logprob_score(
        docs, "text", "doc_id", max_vocab_pairs=100
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_bigram_logprob_short_docs_keep_rows(spark):
    docs = spark.createDataFrame(
        [(1, "solo"), (2, ""), (3, None), (4, "two tokens")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.n_bigrams, r.avg_neg_logprob)
        for r in text.bigram_logprob_score(docs, "text", "doc_id").collect()
    }
    assert len(out) == 4
    for d in (1, 2, 3):
        assert out[d] == (0, None)
    assert out[4][0] == 1 and out[4][1] is not None


# --- unicode robustness ------------------------------------------------------


def test_unicode_text_through_token_and_gram_ops(spark):
    docs = spark.createDataFrame(
        [
            (1, "héllo wörld héllo wörld naïve"),
            (2, "日本語のテキスト 日本語のテキスト"),  # CJK, space-separated
            (3, "emoji 🎉 party 🎉 emoji 🎉"),
        ],
        "doc_id long, text string",
    )
    prof = {
        r.doc_id: r
        for r in text.repetition_profile(docs, "text", "doc_id").collect()
    }
    assert prof[1].n_tokens == 5 and prof[2].n_tokens == 2
    assert prof[3].n_tokens == 6
    out = contamination.ngram_overlap(
        docs, docs.filter("doc_id = 1"), "text", "doc_id", n=2
    )
    got = {r.doc_id: r.contaminated for r in out.collect()}
    assert got[1] == 1 and got[2] == 0


def test_pack_sequences_length_sorted_reduces_overflow_waste(spark):
    """Length grouping: filling blocks in token-length order packs
    neighbors of similar size, so total overflow beyond the budget drops
    vs id-order filling (and determinism is preserved)."""
    df = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        (F.pmod(F.col("id") * 2654435761, F.lit(97)) + 1).alias("n_tok"),
    )

    def overflow(rows):
        by_seq: dict[tuple, int] = {}
        for r in rows:
            k = (r.block, r.seq_in_block)
            by_seq[k] = by_seq.get(k, 0) + r.n_tokens
        return sum(max(0, t - 100) for t in by_seq.values())

    plain = sampling.pack_sequences(
        df, "doc_id", F.col("n_tok"), budget=100, block_size=512
    ).collect()
    sorted_fill = sampling.pack_sequences(
        df, "doc_id", F.col("n_tok"), budget=100, block_size=512,
        length_sorted=True,
    ).collect()
    assert overflow(sorted_fill) < overflow(plain)
    # determinism under repartitioning
    again = sampling.pack_sequences(
        df.repartition(13), "doc_id", F.col("n_tok"), budget=100,
        block_size=512, length_sorted=True,
    ).collect()
    key = lambda rows: sorted((r.doc_id, r.block, r.seq_in_block) for r in rows)
    assert key(again) == key(sorted_fill)


def test_pack_sequences_integer_blocks_above_2_53(spark):
    """Block assignment must use integer `div`: double division rounds ids
    above 2^53, which can place adjacent huge ids in the wrong block. Two
    ids that differ by exactly block_size must land in ADJACENT blocks
    even at 2^60."""
    base = 1 << 60
    rows = [(base + i, 10) for i in range(4)] + [(base + 4096, 10)]
    docs = spark.createDataFrame(rows, ["doc_id", "n_tokens"])
    out = sampling.pack_sequences(
        docs, "doc_id", F.col("n_tokens"), budget=100, block_size=4096
    )
    collected = out.collect()
    got = {r["doc_id"] for r in collected}
    assert got == {r[0] for r in rows}  # every doc packed exactly once
    blocks = {r["doc_id"]: r["block"] for r in collected}
    # the +4096 doc is in the NEXT block: it cannot share a sequence with
    # the first four even though all five fit one 100-token budget
    assert blocks[base + 4096] == blocks[base] + 1
    assert blocks[base + 3] == blocks[base]


def test_pack_sequences_split_docs_mass_conservation(spark):
    """split_docs=True: per-doc chunk tokens sum to the doc's tokens,
    chunk count is ceil(n/budget) (empty docs keep ONE 0-token chunk),
    and no chunk exceeds the budget."""
    rows = [
        (0, 0),     # empty doc -> one 0-token chunk
        (1, 1),     # tiny
        (2, 64),    # exactly budget -> one full chunk
        (3, 65),    # budget+1 -> 64 + 1
        (4, 200),   # 64+64+64+8
        (5, 128),   # two exact chunks
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "n_tok"])
    out = sampling.pack_sequences(
        docs, "doc_id", F.col("n_tok"), budget=64, block_size=4096,
        split_docs=True,
    ).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    import math

    for doc_id, n_tok in rows:
        chunks = sorted(by_doc[doc_id], key=lambda r: r["chunk_idx"])
        assert [c["chunk_idx"] for c in chunks] == list(range(len(chunks)))
        assert len(chunks) == max(math.ceil(n_tok / 64), 1)
        assert sum(c["n_tokens"] for c in chunks) == n_tok  # mass conserved
        assert all(c["n_tokens"] <= 64 for c in chunks)
    # greedy overflow bound TIGHTENS under splitting: each sequence may
    # overflow by at most one chunk, and chunks are <= budget, so every
    # sequence total is < 2*budget (unsplit packing has no such bound —
    # doc 4 alone would blow a single sequence to 200)
    seq_rows: dict[tuple, list] = {}
    for r in out:
        seq_rows.setdefault((r["block"], r["seq_in_block"]), []).append(r)
    for rows_ in seq_rows.values():
        rows_.sort(key=lambda r: (r["doc_id"], r["chunk_idx"]))
        total = sum(r["n_tokens"] for r in rows_)
        assert total - rows_[-1]["n_tokens"] < 64  # fits before the overflow
        assert total < 2 * 64


def test_pack_sequences_split_docs_property(spark):
    """Randomized mass-conservation sweep across budgets (seeded)."""
    import math
    import random

    rng = random.Random(11)
    rows = [(i, rng.randrange(0, 500)) for i in range(80)]
    docs = spark.createDataFrame(rows, ["doc_id", "n_tok"])
    for budget in (17, 64, 499):
        out = sampling.pack_sequences(
            docs, "doc_id", F.col("n_tok"), budget=budget, block_size=32,
            split_docs=True,
        ).collect()
        got = {}
        for r in out:
            got[r["doc_id"]] = got.get(r["doc_id"], 0) + r["n_tokens"]
            assert r["n_tokens"] <= budget
        assert got == {i: n for i, n in rows}


# --- extended language ID -----------------------------------------------------

_LANG_FIXTURE = [
    ("en", "the cat sat on the mat and looked at the dog that was outside"),
    ("en", "she said that the results of the study were consistent with the theory"),
    ("de", "der hund und die katze sind nicht im haus aber ich bin hier"),
    ("de", "das ist ein gutes beispiel und der text ist nicht lang"),
    ("fr", "le chat est dans la maison et je ne sais pas les raisons"),
    ("fr", "les enfants sont dans une école et le professeur est content"),
    ("es", "el perro y los gatos están en una casa por la mañana"),
    ("es", "pero las personas dicen que es como una pequeña ciudad española"),
    ("it", "il gatto che dorme sono sicuro della sua felicità per sempre"),
    ("it", "non posso venire con te per il viaggio di domani"),
    ("pt", "um homem e uma mulher estavam ao lado dos carros em lisboa"),
    ("pt", "as ações dos governos não são boas para a população"),
    ("nl", "het huis van mijn ouders is niet groot maar ik vind het mooi"),
    ("nl", "dat is een goed idee en zijn plannen zijn voor morgen"),
    ("ms", "saya pergi ke pasar dengan kawan saya untuk membeli makanan ini"),
    ("ms", "buku yang saya baca itu adalah hadiah dan sangat menarik"),
    ("sv", "jag har en hund och en katt som bor i huset det är bra"),
    ("sv", "det är inte lätt att lära sig svenska av en bok"),
    ("tr", "bu bir kitap ve daha güzel bir hikaye gibi görünüyor"),
    ("tr", "en iyi olan şey ile daha çok çalışmak"),
    ("ru", "собака и кошка живут в доме на улице"),
    ("ru", "это очень хорошая книга про историю россии"),
    ("el", "το σπίτι είναι μεγάλο και όμορφο στην αθήνα"),
    ("ar", "البيت كبير وجميل في المدينة القديمة"),
    ("he", "הבית גדול ויפה בעיר העתיקה"),
    ("hi", "यह घर बहुत बड़ा और सुंदर है"),
    ("ko", "이 집은 매우 크고 아름답습니다"),
    ("ja", "この家はとても大きくて美しいです"),
    ("zh", "这个房子非常大而且很漂亮"),
    ("und", ""),
    ("und", "12345 67890 !!!"),
]


def test_lang_id_ngram_accuracy(spark):
    """Extended language ID must hit >= 90% on the labeled fixture (and
    exactly 'und' on empty/non-text), deterministically."""
    df = spark.createDataFrame(
        [(i, lang, s) for i, (lang, s) in enumerate(_LANG_FIXTURE)],
        ["i", "lang", "text"],
    )
    out = (
        text.lang_id_ngram(df, "text", "pred")
        .select("i", "lang", "pred")
        .collect()
    )
    wrong = [(r["lang"], r["pred"]) for r in out if r["lang"] != r["pred"]]
    acc = 1 - len(wrong) / len(out)
    assert acc >= 0.9, wrong
    und = {r["lang"]: r["pred"] for r in out if r["lang"] == "und"}
    assert set(und.values()) == {"und"}


def test_lang_id_ngram_partitioning_independent(spark):
    df = spark.createDataFrame(
        [(i, s) for i, (_, s) in enumerate(_LANG_FIXTURE)], ["i", "text"]
    )
    a = text.lang_id_ngram(df, "text", "p").select("i", "p").collect()
    b = (
        text.lang_id_ngram(df.repartition(7), "text", "p")
        .select("i", "p")
        .collect()
    )
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


# --- DSIR importance weights (round 10) ---------------------------------------


def test_dsir_target_like_docs_outscore(spark):
    from opendosm_parquet_to_sqlite_spark.operators.sampling import (
        dsir_weights,
    )

    raw = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),          # target-like
            (2, "quantum gauge lattice simulation"),  # off-target
            (3, "the dog sat on the rug"),          # partially target-like
            (4, ""),                                 # no evidence
        ],
        "doc_id long, text string",
    )
    tgt = spark.createDataFrame(
        [
            (100, "the cat sat on the mat and the cat purred"),
            (101, "a cat and a dog sat together"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in dsir_weights(raw, tgt, "text", "doc_id", 256).collect()
    }
    assert set(out) == {1, 2, 3, 4}  # every raw doc re-emits
    assert out[1].log_weight > out[3].log_weight > out[2].log_weight
    assert out[4].n_grams == 0 and out[4].log_weight == 0.0
    # unigrams + bigrams with multiplicity: 6 + 5 for doc 1
    assert out[1].n_grams == 11


def test_dsir_identical_corpora_score_zero_ish(spark):
    """raw == target → p̂_t == p̂_r bucket-for-bucket, so every ratio
    (and every doc score) is exactly 0 after quantization."""
    from opendosm_parquet_to_sqlite_spark.operators.sampling import (
        dsir_weights,
    )

    rows = [(i, f"doc number {i} shares this fixed template") for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dsir_weights(df, df, "text", "doc_id", 128).collect()
    assert all(r.log_weight == 0.0 for r in out)


def test_dsir_validation(spark):
    import pytest

    from opendosm_parquet_to_sqlite_spark.operators.sampling import (
        dsir_weights,
    )

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="n_buckets"):
        dsir_weights(df, df, "text", "doc_id", n_buckets=1)


# --- DSIR end-to-end selection (round 11) -------------------------------------


def _dsir_fixture(spark):
    raw = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),            # target-like
            (2, "quantum gauge lattice simulation"),   # off-target
            (3, "the dog sat on the rug"),             # partially like
            (4, "meson decay spectra analysis"),       # off-target
            (5, "a cat and a dog sat down"),           # target-like
        ],
        "doc_id long, text string",
    )
    tgt = spark.createDataFrame(
        [
            (100, "the cat sat on the mat and the cat purred"),
            (101, "a cat and a dog sat together"),
        ],
        "doc_id long, text string",
    )
    return raw, tgt


def test_dsir_select_top_slice_is_weight_order(spark):
    """budget mode (temperature=None): the selected set IS the top-k of
    dsir_weights under (log_weight DESC, doc_id ASC) — composition adds
    nothing beyond the slice; schema carries the corpus text."""
    from opendosm_parquet_to_sqlite_spark.operators.sampling import (
        dsir_select,
        dsir_weights,
    )

    raw, tgt = _dsir_fixture(spark)
    w = {r.doc_id: r.log_weight
         for r in dsir_weights(raw, tgt, "text", "doc_id", 256).collect()}
    expect = [d for d, _ in sorted(w.items(), key=lambda kv: (-kv[1], kv[0]))][:3]
    out = dsir_select(raw, tgt, "text", "doc_id", budget=3,
                      n_buckets=256).collect()
    assert sorted(r.doc_id for r in out) == sorted(expect)
    assert set(out[0].asDict()) == {"doc_id", "text", "n_grams", "log_weight"}
    # deterministic: second run identical
    again = dsir_select(raw, tgt, "text", "doc_id", budget=3,
                        n_buckets=256).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_dsir_select_threshold_mode_is_plain_filter(spark):
    """min_log_weight mode — the 100 TB path: exactly the docs scoring
    >= the threshold, no budget, no global ordering."""
    from opendosm_parquet_to_sqlite_spark.operators.sampling import (
        dsir_select,
        dsir_weights,
    )

    raw, tgt = _dsir_fixture(spark)
    w = {r.doc_id: r.log_weight
         for r in dsir_weights(raw, tgt, "text", "doc_id", 256).collect()}
    thr = sorted(w.values())[-2]  # keep the top two scores
    out = dsir_select(raw, tgt, "text", "doc_id", min_log_weight=thr,
                      n_buckets=256).collect()
    assert {r.doc_id for r in out} == {d for d, lw in w.items() if lw >= thr}


def test_dsir_select_temperature_mode(spark):
    """Gumbel/E-S resampling: exactly budget rows, deterministic under
    rerun, and in the T->0 limit the top-weight doc is always kept
    (the log-domain key is dominated by -log_weight/T)."""
    from opendosm_parquet_to_sqlite_spark.operators.sampling import (
        dsir_select,
        dsir_weights,
    )

    raw, tgt = _dsir_fixture(spark)
    w = {r.doc_id: r.log_weight
         for r in dsir_weights(raw, tgt, "text", "doc_id", 256).collect()}
    top = max(w, key=lambda d: (w[d], -d))
    out = dsir_select(raw, tgt, "text", "doc_id", budget=2,
                      temperature=1e-6, n_buckets=256).collect()
    assert len(out) == 2 and top in {r.doc_id for r in out}
    again = dsir_select(raw, tgt, "text", "doc_id", budget=2,
                        temperature=1e-6, n_buckets=256).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_dsir_select_validation(spark):
    import pytest

    from opendosm_parquet_to_sqlite_spark.operators.sampling import (
        dsir_select,
    )

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="budget"):
        dsir_select(df, df, "text", "doc_id")
    with pytest.raises(ValueError, match="budget"):
        dsir_select(df, df, "text", "doc_id", budget=1, min_log_weight=0.0)


def test_semantic_overlap_flags_planted_neighbor(spark):
    # bench vector b; candidate 1 = b slightly perturbed (cosine ~0.9999),
    # candidate 2 = orthogonal (cosine 0). Only the neighbor is flagged.
    dim = 8
    b = [1.0] * dim
    near = [1.0] * (dim - 1) + [1.01]
    ortho = [1.0, -1.0] * (dim // 2)
    bench = spark.createDataFrame([(100, b)], "vec_id long, embedding array<double>")
    cand = spark.createDataFrame(
        [(1, near), (2, ortho)], "vec_id long, embedding array<double>"
    )
    rows = {
        r["vec_id"]: r
        for r in contamination.semantic_overlap(
            cand, bench, threshold=0.95
        ).collect()
    }
    assert rows[1]["contaminated"] == 1 and rows[1]["max_cosine"] > 0.99
    assert rows[2]["contaminated"] == 0 and abs(rows[2]["max_cosine"]) < 1e-9


def test_semantic_overlap_null_vector_and_empty_bench(spark):
    bench = spark.createDataFrame(
        [(100, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    cand = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None)], "vec_id long, embedding array<double>"
    )
    rows = {
        r["vec_id"]: r
        for r in contamination.semantic_overlap(cand, bench).collect()
    }
    # NULL vector: no score, NOT contaminated (a NaN crossing Arrow as
    # double-NaN would order above every threshold — pinned here)
    assert rows[2]["max_cosine"] is None and rows[2]["contaminated"] == 0
    assert rows[1]["contaminated"] == 1  # self-identical, cosine 1.0
    empty = contamination.semantic_overlap(
        cand, bench.filter("vec_id < 0")
    ).collect()
    assert all(
        r["max_cosine"] is None and r["contaminated"] == 0 for r in empty
    )


def test_semantic_overlap_validations(spark):
    """Round-11 ADVICE: the driver-side benchmark collect must enforce
    the eval-suite-size contract (fail fast, not OOM), and a missing id
    column must raise ValueError — not a bare StopIteration."""
    bench = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in range(5)],
        "vec_id long, embedding array<double>",
    )
    cand = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="max_benchmark"):
        contamination.semantic_overlap(cand, bench, max_benchmark=3)
    with pytest.raises(ValueError, match="nope"):
        contamination.semantic_overlap(cand, bench, id_col="nope")
    # at/under the cap: untouched
    out = contamination.semantic_overlap(cand, bench, max_benchmark=5)
    assert out.count() == 1


def test_semantic_overlap_flag_consistent_with_rounded_value(spark):
    # the flag must be computed from the ROUNDED max_cosine (what the
    # caller sees), never from the raw pre-rounding value
    emb = spark.read.parquet(f"{SF0001}/embeddings.parquet")
    bench = emb.filter(F.col("vec_id") % 11 == 0)
    cand = emb.filter(F.col("vec_id") % 11 != 0)
    out = contamination.semantic_overlap(cand, bench, threshold=0.4)
    bad = out.filter(
        (F.col("contaminated") == 1) != (F.col("max_cosine") >= 0.4)
    ).count()
    assert bad == 0


# --- doremi_weights: iterative Group-DRO domain reweighting ------------------


def _doremi_numpy(feat_rows, base_rows, domains, B, n_rounds, lr_proxy,
                  lr_domain, smoothing):
    """NumPy restatement of the doremi_weights loop from the SAME collected
    feature/base tables — pins the iterative math (EG update, alpha-weighted
    Group-DRO proxy step, time-averaged iterate), not the hash featurizer
    (hashed_features has its own pins in test_classifier)."""
    import numpy as np

    d_idx = {d: i for i, d in enumerate(domains)}
    K = len(domains)
    docs = {}
    for doc_id, dom, ref, y in base_rows:
        docs[doc_id] = (dom, ref, y, {})
    for doc_id, b, x in feat_rows:
        if doc_id in docs:
            docs[doc_id][3][b] = x
    alpha = np.full(K, 1.0 / K)
    alpha_sum = np.zeros(K)
    w = np.zeros(B)
    excess = np.zeros(K)
    for _ in range(n_rounds):
        n_k = np.zeros(K)
        ex_sum = np.zeros(K)
        grad = np.zeros((K, B))
        for dom, ref, y, xs in docs.values():
            k = d_idx[dom]
            margin = sum(w[b] * x for b, x in xs.items())
            r = margin - y
            n_k[k] += 1
            ex_sum[k] += max(0.0, r * r - ref)
            for b, x in xs.items():
                grad[k, b] += 2.0 * r * x
        excess = ex_sum / n_k
        alpha = alpha * np.exp(lr_domain * excess)
        alpha = (1 - smoothing) * (alpha / alpha.sum()) + smoothing / K
        alpha_sum += alpha
        w = w - lr_proxy * (alpha / n_k) @ grad
    return alpha_sum / n_rounds, excess


def test_doremi_weights_numpy_parity_and_ordering(spark):
    """Planted two-domain corpus: domain b's targets are far from the
    zero-init proxy and its reference loss is tiny -> its excess loss
    dominates -> DoReMi upweights it. Weights/excess match the NumPy
    restatement of the identical loop to rounding."""
    from opendosm_parquet_to_sqlite_spark.operators.classifier import (
        hashed_features,
    )
    from opendosm_parquet_to_sqlite_spark.operators.sampling import (
        doremi_weights,
    )

    rows = []
    for i in range(8):
        rows.append((i, "a", f"alpha text common {i}", 0.2, 0.05))
    for i in range(8, 14):
        rows.append((i, "b", f"beta rare tokens {i}", 3.0, 0.01))
    rows.append((99, None, "dropped null domain", 100.0, 0.0))
    df = spark.createDataFrame(
        rows, "doc_id long, dom string, text string, y double, ref double"
    )
    B, R = 64, 4
    out = {
        r["dom"]: (r["weight"], r["excess"])
        for r in doremi_weights(
            df, "text", "dom", "doc_id", "ref", "y",
            n_buckets=B, n_rounds=R, lr_proxy=0.05, lr_domain=0.5,
        ).collect()
    }
    assert set(out) == {"a", "b"}          # NULL domain excluded
    assert out["b"][0] > out["a"][0]       # high-excess domain upweighted
    assert abs(out["a"][0] + out["b"][0] - 1.0) < 1e-6

    feat_rows = [
        (r["doc_id"], r["bucket"], r["x"])
        for r in hashed_features(df, "text", "doc_id", B).collect()
    ]
    base_rows = [
        (r["doc_id"], r["dom"], r["ref"], r["y"])
        for r in df.filter("dom is not null").collect()
    ]
    avg, excess = _doremi_numpy(
        feat_rows, base_rows, ["a", "b"], B, R, 0.05, 0.5, 1e-2
    )
    assert abs(out["a"][0] - avg[0]) < 1e-6
    assert abs(out["b"][0] - avg[1]) < 1e-6
    assert abs(out["a"][1] - excess[0]) < 1e-6
    assert abs(out["b"][1] - excess[1]) < 1e-6


def test_doremi_weights_validations(spark):
    from opendosm_parquet_to_sqlite_spark.operators.sampling import (
        doremi_weights,
    )

    df = spark.createDataFrame(
        [(1, "a", "x", 1.0, 0.0)],
        "doc_id long, dom string, text string, y double, ref double",
    )
    with pytest.raises(ValueError, match="domain"):
        doremi_weights(df, "text", "nope", "doc_id", "ref", "y")
    with pytest.raises(ValueError, match="n_rounds"):
        doremi_weights(df, "text", "dom", "doc_id", "ref", "y", n_rounds=0)
    with pytest.raises(ValueError, match="non-null"):
        doremi_weights(
            df.filter("doc_id < 0"), "text", "dom", "doc_id", "ref", "y"
        )
    # K-is-model-sized contract: a per-document domain column fails fast
    # instead of collecting the corpus to the driver
    many = spark.range(50).selectExpr(
        "id AS doc_id", "cast(id AS string) AS dom", "'x' AS text",
        "cast(1.0 as double) AS y", "cast(0.0 as double) AS ref",
    )
    with pytest.raises(ValueError, match="max_domains"):
        doremi_weights(
            many, "text", "dom", "doc_id", "ref", "y", max_domains=10
        )


@pytest.mark.slow
def test_doremi_mix_equals_two_step_composition(spark):
    """doremi_mix == doremi_weights -> renormalize -> domain_mix run by
    hand with the identical parameters (the composition adds plumbing,
    not different math), and the emitted sample's domain shares track
    the learned weights."""
    from opendosm_parquet_to_sqlite_spark.operators.sampling import (
        domain_mix,
        doremi_mix,
        doremi_weights,
    )

    rows = []
    for i in range(40):
        rows.append((i, "a", f"alpha text common {i}", 0.2, 0.05))
    for i in range(40, 70):
        rows.append((i, "b", f"beta rare tokens {i}", 3.0, 0.01))
    df = spark.createDataFrame(
        rows, "doc_id long, dom string, text string, y double, ref double"
    )
    kw = dict(n_buckets=64, n_rounds=3, lr_proxy=0.01, lr_domain=0.5)
    got = sorted(
        (r["doc_id"], r["dom"], r["copy_idx"])
        for r in doremi_mix(
            df, "text", "dom", "doc_id", "ref", "y", target_rows=50.0, **kw
        ).collect()
    )
    w = doremi_weights(
        df, "text", "dom", "doc_id", "ref", "y", ndigits=12, **kw
    ).collect()
    total = sum(r["weight"] for r in w)
    shares = {r["dom"]: r["weight"] / total for r in w}
    top = max(shares, key=lambda d: shares[d])
    shares[top] += 1.0 - sum(shares.values())
    expected = sorted(
        (r["doc_id"], r["dom"], r["copy_idx"])
        for r in domain_mix(
            df, "dom", "doc_id", shares, 50.0, namespace="doremi"
        ).collect()
    )
    assert got == expected and len(got) > 0
    # the upweighted domain (b: high excess) takes the larger share of
    # the emitted sample despite having fewer source rows
    from collections import Counter

    c = Counter(d for _, d, _ in got)
    assert shares["b"] > shares["a"]
    assert c["b"] > c["a"] * 0.8  # 30 source rows vs 40, replicated up


def test_doremi_mix_non_string_domain(spark):
    """Regression (ADVICE r12): doremi_weights keys its learned shares by
    the STRING-cast domain; doremi_mix must group the mix stage by the
    same representation, or an int domain column (e.g. source ids)
    matches no share and the composition silently returns empty."""
    from opendosm_parquet_to_sqlite_spark.operators.sampling import doremi_mix

    rows = []
    for i in range(30):
        rows.append((i, 7, f"alpha text common {i}", 0.2, 0.05))
    for i in range(30, 50):
        rows.append((i, 13, f"beta rare tokens {i}", 3.0, 0.01))
    df = spark.createDataFrame(
        rows, "doc_id long, dom int, text string, y double, ref double"
    )
    out = doremi_mix(
        df, "text", "dom", "doc_id", "ref", "y", target_rows=40.0,
        n_buckets=64, n_rounds=2, lr_proxy=0.01, lr_domain=0.5,
    ).collect()
    assert len(out) > 0
    doms = {r["dom"] for r in out}
    # string-cast domains, matching doremi_weights' key representation;
    # the upweighted domain (13: high excess) always emits, the
    # downweighted one may round to zero rows at this small target
    assert "13" in doms and doms <= {"7", "13"}
