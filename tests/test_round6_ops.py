"""Round-6 operators: URL hygiene, MAD outliers, histograms, containment.

Hand-computed pins on tiny in-memory frames; oracle parity at sf0.01 is
covered uniformly by tests/test_oracle_parity.py (shadow oracles).
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from opendosm_parquet_to_sqlite_spark.operators import (
    aggregates,
    features,
    neardup,
    web,
)


# --- url_features -----------------------------------------------------------


def test_url_features_counts_hosts_and_fingerprint(spark):
    df = spark.createDataFrame(
        [
            (1, "see https://A.example.org/x and http://b.test/y?q=1 "
                "plus https://a.example.org/z"),
            (2, "no links here"),
            (3, None),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in web.url_features(df, "text", "doc_id").collect()}
    r1 = out[1]
    assert r1["n_urls"] == 3
    # hosts lower-cased: a.example.org (x2 distinct once) + b.test
    assert r1["n_hosts"] == 2
    assert r1["n_secure"] == 2
    assert r1["max_url_len"] == len("https://A.example.org/x")
    exp_fp = hashlib.md5(b"a.example.org,b.test").hexdigest()
    assert r1["hosts_fp"] == exp_fp
    for did in (2, 3):
        r = out[did]
        assert (r["n_urls"], r["n_hosts"], r["n_secure"], r["max_url_len"]) == (
            0, 0, 0, 0
        )
        assert r["hosts_fp"] == hashlib.md5(b"").hexdigest()


def test_url_features_is_exchange_free(spark):
    df = spark.createDataFrame([(1, "x https://h.io/a")],
                               "doc_id long, text string")
    plan = web.url_features(df, "text", "doc_id")._jdf.queryExecution(
    ).executedPlan().toString()
    assert "Exchange" not in plan


def test_url_host_stats_min_docs_filter(spark):
    df = spark.createDataFrame(
        [
            (1, "https://shared.io/a https://shared.io/b http://only1.io/"),
            (2, "https://shared.io/c"),
        ],
        "doc_id long, text string",
    )
    rows = {r["host"]: r for r in
            web.url_host_stats(df, "text", "doc_id", min_docs=2).collect()}
    assert list(rows) == ["shared.io"]
    assert rows["shared.io"]["n_mentions"] == 3
    assert rows["shared.io"]["n_docs"] == 2


# --- flag_outliers_mad ------------------------------------------------------


def test_outlier_mad_flags_and_null_semantics(spark):
    # group g: values 1..5 plus a wild 100 -> median 3.5 of
    # [1,2,3,4,5,100]=3.5, residuals [2.5,1.5,.5,.5,1.5,96.5] median=1.5,
    # z(100) = 96.5/(1.4826*1.5) = 43.39... > 3.5
    rows = [("g", float(v)) for v in [1, 2, 3, 4, 5, 100]]
    rows.append(("g", None))          # NULL value -> NULL verdict
    rows.append((None, 7.0))          # NULL group key must survive
    rows.append((None, 8.0))
    rows.append(("const", 9.0))       # MAD == 0 -> NULL verdict
    rows.append(("const", 9.0))
    df = spark.createDataFrame(rows, "grp string, value double")
    out = features.flag_outliers_mad(df, "value", "grp", k=3.5).collect()
    assert len(out) == len(rows)
    by = {}
    for r in out:
        by.setdefault(r["grp"], []).append(r)
    flagged = [r for r in by["g"] if r["is_outlier"]]
    assert [r["value"] for r in flagged] == [100.0]
    assert all(
        r["robust_z"] is None and r["is_outlier"] is None
        for r in by["g"] if r["value"] is None
    )
    assert all(r["robust_z"] is None for r in by["const"])
    # NULL group got its own stats (median 7.5, MAD .5): z = ±0.674...
    zs = sorted(r["robust_z"] for r in by[None])
    assert zs[0] == pytest.approx(-0.674491, abs=1e-6)
    assert zs[1] == pytest.approx(0.674491, abs=1e-6)


def test_outlier_mad_global_no_groups(spark):
    df = spark.createDataFrame(
        [(float(v),) for v in [10, 10, 10, 10, 500]], "value double"
    )
    out = features.flag_outliers_mad(df, "value", None, k=3.5).collect()
    # MAD of [0,0,0,0,490] = 0 -> degenerate, all NULL (documented)
    assert all(r["robust_z"] is None for r in out)


# --- value_histogram --------------------------------------------------------


def test_value_histogram_bins_and_edges(spark):
    df = spark.createDataFrame(
        [("a", float(v)) for v in range(11)] + [("a", None), ("b", 4.0),
                                                ("b", 4.0)],
        "grp string, value double",
    )
    out = aggregates.value_histogram(df, "value", "grp", n_bins=5)
    rows = {(r["grp"], r["bin"]): r for r in out.collect()}
    # group a: lo=0, hi=10, w=2 -> bins 0..4; value 10 lands in bin 4
    assert rows[("a", 4)]["n"] == 3          # 8, 9, 10
    assert rows[("a", 0)]["n"] == 2          # 0, 1
    assert rows[("a", 0)]["bin_lo"] == 0.0
    assert rows[("a", 0)]["bin_hi"] == 2.0
    assert rows[("a", 4)]["bin_hi"] == 10.0
    assert sum(r["n"] for k, r in rows.items() if k[0] == "a") == 11  # NULL out
    # degenerate group b (min == max): everything in bin 0
    assert rows[("b", 0)]["n"] == 2
    assert len([k for k in rows if k[0] == "b"]) == 1


def test_value_histogram_mass_conservation(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    out = aggregates.value_histogram(df, "value", "event_type", n_bins=8)
    total = out.agg(F.sum("n")).collect()[0][0]
    n_input = df.filter(F.col("value").isNotNull()).count()
    assert total == n_input


# --- ngram containment ------------------------------------------------------


def test_containment_catches_embedded_short_doc(spark):
    long_doc = " ".join(f"w{i}" for i in range(40))
    short_doc = " ".join(f"w{i}" for i in range(10, 18))  # verbatim slice
    df = spark.createDataFrame(
        [(1, long_doc), (2, short_doc)], "doc_id long, text string"
    )
    cont = neardup.ngram_containment_pairs(
        df, "text", "doc_id", n=3, threshold=0.9
    ).collect()
    assert len(cont) == 1 and cont[0]["containment"] == 1.0
    # Jaccard on the same pair is 6/(38+6-6) ≈ 0.16 — below any useful
    # near-dup threshold: the case this operator exists for.
    jac = neardup.ngram_jaccard_pairs(
        df, "text", "doc_id", n=3, threshold=0.5
    ).collect()
    assert jac == []


def test_containment_metric_validation(spark):
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError):
        neardup.ngram_jaccard_pairs(df, "text", "doc_id", metric="dice")


# --- quality_audit ----------------------------------------------------------


def test_quality_audit_reasons_per_gate(spark):
    from opendosm_parquet_to_sqlite_spark.operators import corpus

    good = "the cat sat on a mat and the dog ran to the park in a fine day"
    rows = [
        (1, good),                                   # passes everything
        (2, "le la et le la et le chat " + good),    # french markers -> lang
        (3, "one two"),                              # too short -> length
        (4, "!!! ??? *** $$$ %%% ### @@@ &&& ((( )))"),  # punct -> quality
        (5, ("spam " * 40).strip()),                 # repetition (+quality)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in corpus.quality_audit(
        df, "text", "doc_id", min_quality=0.5, min_tokens=5,
        max_tokens=100_000, allowed_langs=["en", "und"],
    ).collect()}
    assert out[1]["keep"] and out[1]["reject_reasons"] == ""
    assert not out[2]["keep"] and "lang" in out[2]["reject_reasons"]
    assert "length" in out[3]["reject_reasons"]
    assert "quality" in out[4]["reject_reasons"]
    assert "repetition" in out[5]["reject_reasons"]
    # reasons are alphabetically ordered and comma-joined
    for r in out.values():
        parts = r["reject_reasons"].split(",") if r["reject_reasons"] else []
        assert parts == sorted(parts)
    # keep == AND of the four gate booleans, every row
    for r in out.values():
        assert r["keep"] == (r["quality_ok"] and r["length_ok"]
                             and r["repetition_ok"] and r["lang_ok"])


def test_quality_audit_no_allowed_langs_passes_lang_gate(spark):
    from opendosm_parquet_to_sqlite_spark.operators import corpus

    df = spark.createDataFrame(
        [(1, "le la et le la et le chat noir dort bien ici")],
        "doc_id long, text string",
    )
    out = corpus.quality_audit(df, "text", "doc_id",
                               allowed_langs=None).collect()[0]
    assert out["lang_ok"] is True
    assert "lang" not in out["reject_reasons"]


# --- url fuzz / approx / grouped top-k --------------------------------------


@pytest.mark.slow
def test_url_extraction_fuzz_matches_python_re(spark):
    import re
    from hypothesis import given, settings, strategies as st

    url_re = re.compile(r"https?://[^\s\"'<>]+")

    @settings(max_examples=15, deadline=None)
    @given(
        st.lists(
            st.text(
                alphabet=st.characters(blacklist_categories=["Cs"]),
                max_size=40,
            ).map(lambda s: s + " https://h" + "o.io/p "),
            min_size=1,
            max_size=4,
        )
    )
    def check(texts):
        rows = [(i, t) for i, t in enumerate(texts)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["doc_id"]: r["n_urls"]
               for r in __import__(
                   "opendosm_parquet_to_sqlite_spark.operators.web",
                   fromlist=["web"]).url_features(
                       df, "text", "doc_id").collect()}
        for i, t in rows:
            assert out[i] == len(url_re.findall(t)), (t,)

    check()


def test_url_host_stats_approx_close_to_exact(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    aug = docs.selectExpr(
        "doc_id",
        "concat(coalesce(text, ''), ' https://', source, '.ex.org/') AS text",
    )
    exact = {r["host"]: r["n_docs"] for r in
             web.url_host_stats(aug, "text", "doc_id").collect()}
    approx = {r["host"]: r["n_docs"] for r in
              web.url_host_stats(aug, "text", "doc_id",
                                 approx=True).collect()}
    assert set(exact) == set(approx)
    for h, n in exact.items():
        assert abs(approx[h] - n) <= max(2, 0.1 * n)


def test_top_terms_per_group_rank_and_ties(spark):
    from opendosm_parquet_to_sqlite_spark.operators import text as textops

    df = spark.createDataFrame(
        [
            (1, "a", "x x x y y z"),
            (2, "a", "z w"),
            (3, "b", "q q"),
        ],
        "doc_id long, src string, text string",
    )
    out = textops.top_terms_per_group(df, "text", "src", k=2).collect()
    a = sorted([(r["term"], r["n"], r["rank"]) for r in out if r["src"] == "a"])
    b = [(r["term"], r["n"], r["rank"]) for r in out if r["src"] == "b"]
    # src a: x=3 rank1, y=2 rank2 (z=2 ties y on count; 'y' < 'z' wins)
    assert ("x", 3, 1) in a and ("y", 2, 2) in a and len(a) == 2
    assert b == [("q", 2, 1)]


# --- tokenize_to_ids --------------------------------------------------------


def test_tokenize_to_ids_ranking_oov_and_empty(spark):
    from opendosm_parquet_to_sqlite_spark.operators import text as textops

    df = spark.createDataFrame(
        [
            (1, "b b b a a c"),   # counts: b=3, a=2, c=1
            (2, "a zz b"),        # zz falls outside vocab_size=2 -> OOV
            (3, ""),              # empty doc -> empty ids, 0 tokens
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in textops.tokenize_to_ids(
        df, "text", "doc_id", vocab_size=2).collect()}
    # vocab: b -> 1 (count 3), a -> 2 (count 2); c, zz -> 0
    assert out[1]["token_ids"] == "1,1,1,2,2,0"
    assert out[1]["n_tokens"] == 6 and out[1]["n_oov"] == 1
    assert out[2]["token_ids"] == "2,0,1"
    assert out[2]["n_oov"] == 1
    assert out[3]["token_ids"] == "" and out[3]["n_tokens"] == 0


def test_tokenize_to_ids_vocab_tie_break_deterministic(spark):
    from opendosm_parquet_to_sqlite_spark.operators import text as textops

    # equal counts: alphabetical order decides ids
    df = spark.createDataFrame([(1, "x y x y")], "doc_id long, text string")
    out = textops.tokenize_to_ids(df, "text", "doc_id",
                                  vocab_size=10).collect()[0]
    assert out["token_ids"] == "1,2,1,2"  # x < y


# --- funnel / cohort retention ----------------------------------------------


def test_funnel_ordered_semantics(spark):
    from datetime import datetime
    from opendosm_parquet_to_sqlite_spark.operators import temporal

    T = datetime
    rows = [
        # u1: full funnel in order
        (1, T(2024, 1, 1, 10), "A"), (1, T(2024, 1, 1, 11), "B"),
        (1, T(2024, 1, 1, 12), "C"),
        # u2: B before A -> stops at step 1 (earliest B precedes A)
        (2, T(2024, 1, 2, 9), "B"), (2, T(2024, 1, 2, 10), "A"),
        # u3: A only
        (3, T(2024, 1, 3, 8), "A"),
        # u4: never did A (only B, C) -> step 0
        (4, T(2024, 1, 4, 8), "B"), (4, T(2024, 1, 4, 9), "C"),
        # u5: A then C (skips B) -> step 1
        (5, T(2024, 1, 5, 8), "A"), (5, T(2024, 1, 5, 9), "C"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, ev string")
    out = {r["user_id"]: r for r in temporal.funnel_steps(
        df, "user_id", "ts", "ev", ["A", "B", "C"]).collect()}
    assert out[1]["max_step"] == 3
    assert out[1]["t_last"] == "2024-01-01 12:00:00"
    assert out[2]["max_step"] == 1
    assert out[3]["max_step"] == 1
    assert out[4]["max_step"] == 0 and out[4]["t_first"] is None
    assert out[5]["max_step"] == 1


def test_funnel_rejects_empty_steps(spark):
    import pytest as _pytest
    from opendosm_parquet_to_sqlite_spark.operators import temporal

    df = spark.createDataFrame([(1, None, "A")],
                               "user_id long, ts timestamp, ev string")
    with _pytest.raises(ValueError):
        temporal.funnel_steps(df, "user_id", "ts", "ev", [])


def test_cohort_retention_two_cohorts(spark):
    from datetime import datetime
    from opendosm_parquet_to_sqlite_spark.operators import temporal

    T = datetime
    rows = [
        # cohort week of Jan 1 (Mon): users 1, 2
        (1, T(2024, 1, 2, 10)), (2, T(2024, 1, 3, 10)),
        # user 1 returns in week+1; user 2 does not
        (1, T(2024, 1, 9, 10)),
        # cohort week of Jan 8: user 3, active same week only
        (3, T(2024, 1, 10, 10)),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = {(r["cohort"], r["offset"]): r for r in
           temporal.cohort_retention(df, "user_id", "ts",
                                     period="week").collect()}
    assert out[("2024-01-01", 0)]["n_active"] == 2
    assert out[("2024-01-01", 0)]["n_cohort"] == 2
    assert out[("2024-01-01", 1)]["n_active"] == 1
    assert out[("2024-01-01", 1)]["retention"] == 0.5
    assert out[("2024-01-08", 0)]["n_active"] == 1
    assert len(out) == 3


def test_transition_matrix_counts_and_probs(spark):
    from datetime import datetime
    from opendosm_parquet_to_sqlite_spark.operators import temporal

    T = datetime
    rows = [
        (1, 1, T(2024, 1, 1, 1), "A"), (1, 2, T(2024, 1, 1, 2), "B"),
        (1, 3, T(2024, 1, 1, 3), "A"), (1, 4, T(2024, 1, 1, 4), "C"),
        (2, 5, T(2024, 1, 1, 1), "A"), (2, 6, T(2024, 1, 1, 2), "B"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, ev string"
    )
    out = {(r["from_event"], r["to_event"]): r for r in
           temporal.transition_matrix(df, "user_id", "ts", "ev",
                                      tiebreak_col="event_id").collect()}
    # A -> B twice, A -> C never (C follows A via user1: A@3 -> C@4)
    assert out[("A", "B")]["n"] == 2
    assert out[("A", "C")]["n"] == 1
    assert out[("B", "A")]["n"] == 1
    # rows sum to 1 per from_event
    assert out[("A", "B")]["p"] + out[("A", "C")]["p"] == 1.0
    # no cross-user transition (user1's last C never pairs with user2's A)
    assert ("C", "A") not in out


@pytest.mark.slow
def test_funnel_fuzz_matches_python_reference(spark):
    from datetime import datetime, timedelta
    from hypothesis import given, settings, strategies as st
    from opendosm_parquet_to_sqlite_spark.operators import temporal

    STEPS = ["A", "B", "C"]

    def py_funnel(events):
        # reference: min ts per step, then the strict ordered chain
        mins = {}
        for ts, ev in events:
            if ev in STEPS and (ev not in mins or ts < mins[ev]):
                mins[ev] = ts
        if "A" not in mins:
            return 0
        step, prev = 1, mins["A"]
        for s in STEPS[1:]:
            if s in mins and mins[s] > prev:
                step, prev = step + 1, mins[s]
            else:
                break
        return step

    @settings(max_examples=10, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=30),
                st.sampled_from(["A", "B", "C", "X"]),
            ),
            min_size=1,
            max_size=12,
        )
    )
    def check(seq):
        base = datetime(2024, 1, 1)
        events = [(base + timedelta(minutes=m), e) for m, e in seq]
        df = spark.createDataFrame(
            [(1, ts, ev) for ts, ev in events],
            "user_id long, ts timestamp, ev string",
        )
        out = temporal.funnel_steps(df, "user_id", "ts", "ev", STEPS).collect()
        funnel_events = [(ts, e) for ts, e in events if e in STEPS]
        if not funnel_events:
            assert out == []
        else:
            assert out[0]["max_step"] == py_funnel(events), events

    check()


def test_group_percentiles_exact_and_approx(spark):
    df = spark.createDataFrame(
        [("a", float(v)) for v in range(1, 101)] + [("a", None)],
        "grp string, value double",
    )
    exact = {r["pct"]: r["value"] for r in aggregates.group_percentiles(
        df, "value", "grp", percentiles=[0.5, 0.99]).collect()}
    # 1..100: p50 = 50.5 (linear interpolation), p99 = 99.01
    assert exact[0.5] == 50.5
    assert exact[0.99] == 99.01
    approx = {r["pct"]: r["value"] for r in aggregates.group_percentiles(
        df, "value", "grp", percentiles=[0.5, 0.99], approx=True).collect()}
    assert abs(approx[0.5] - 50.5) <= 1.5
