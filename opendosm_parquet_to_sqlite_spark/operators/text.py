"""Text-analysis operators for training-data pipelines (north-star M5).

All hot-path logic is native Column expressions (JVM, codegen) — no Python
UDFs: tokenization via split, ratios via regexp counts, fingerprints via md5.
Every function is deterministic and mirrors 1:1 to ANSI SQL for the DuckDB
oracle.

Scale: each operator is a narrow map over the corpus — no shuffle at all
until an aggregation/grouping consumes the derived columns. 100 TB of text
streams through whole-stage codegen at scan speed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..caching import persist_tracked

# Tiny deterministic stopword marker sets per language for the n-gram/stopword
# language-ID heuristic. Chosen to be expressible identically in SQL.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of"],
    "fr": ["le", "la", "et"],
    "es": ["el", "los", "que"],
    "de": ["der", "und", "die"],
}

EN_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is"]


def spread_small_input(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition IFF the input has fewer partitions than the
    cluster has cores — the guard for compute-heavy narrow maps (gram
    construction: ~30 µs/gram of interpreted HOF work) over small or
    few-file sources, which Spark reads as one partition per ~128 MB split
    and would otherwise run on a single core. At real scale the scan
    already yields ≥ parallelism partitions and this is a metadata check,
    no shuffle; when it does fire, the repartition moves raw input rows
    ONCE, before the gram explosion multiplies the bytes."""
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization. split on \\s+ after trim; '' → empty array."""
    c = F.col(col) if isinstance(col, str) else col
    trimmed = F.trim(c)
    return F.when(trimmed == "", F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"\s+")
    )


def token_count(col: Column | str) -> Column:
    """Whitespace token count (BPE-ish proxy: see bpe_token_estimate)."""
    return F.size(tokens(col))


def bpe_token_estimate(col: Column | str) -> Column:
    """Cheap BPE-token-count estimate: word-ish chunks + punctuation runs.

    Counts regex matches of word/number/punct units — the standard
    pre-tokenizer shape — without a real merges table (not available here).
    """
    c = F.col(col) if isinstance(col, str) else col
    # count of alnum runs + count of non-space-non-alnum chars
    alnum_runs = F.size(
        F.filter(F.split(c, r"[^A-Za-z0-9]+"), lambda x: x != "")
    )
    punct_chars = F.length(F.regexp_replace(c, r"[A-Za-z0-9\s]", ""))
    return (alnum_runs + punct_chars).alias("bpe_tokens")


def char_count(col: Column | str) -> Column:
    return F.length(col)


def punct_ratio(col: Column | str) -> Column:
    """Fraction of characters that are not alphanumeric/whitespace."""
    c = F.col(col) if isinstance(col, str) else col
    n_punct = F.length(F.regexp_replace(c, r"[A-Za-z0-9\s]", ""))
    return F.round(n_punct / F.greatest(F.length(c), F.lit(1)), 6)


def stopword_ratio(col: Column | str, stopwords: list[str] | None = None) -> Column:
    """Fraction of tokens that are (lowercased) common English stopwords."""
    toks = tokens(col)
    sw = F.array(*[F.lit(s) for s in (stopwords or EN_STOPWORDS)])
    n_sw = F.size(F.filter(toks, lambda t: F.array_contains(sw, F.lower(t))))
    return F.round(n_sw / F.greatest(F.size(toks), F.lit(1)), 6)


def quality_score(col: Column | str) -> Column:
    """Composite doc-quality heuristic in [0,1]: favors mid-length docs with
    low punctuation noise and a sane stopword rate. Deterministic arithmetic
    only, so the oracle reproduces it exactly.
    """
    c = F.col(col) if isinstance(col, str) else col
    n_tok = token_count(c)
    length_component = F.least(n_tok / F.lit(64.0), F.lit(1.0))
    punct_component = F.lit(1.0) - F.least(punct_ratio(c) * 4, F.lit(1.0))
    sw = stopword_ratio(c)
    sw_component = F.lit(1.0) - F.least(F.abs(sw - F.lit(0.4)), F.lit(1.0))
    return F.round(
        (length_component + punct_component + sw_component) / 3.0, 6
    )


def lang_id(col: Column | str) -> Column:
    """Stopword-marker language ID: score = # marker hits per language,
    winner = highest score (ties broken by fixed language order), 'und' if
    zero hits everywhere. Pure CASE/array arithmetic → SQL-mirrorable.
    """
    toks_lower = F.transform(tokens(col), F.lower)

    def marker_hits(markers: list[str]) -> Column:
        arr = F.array(*[F.lit(m) for m in markers])
        return F.size(F.filter(toks_lower, lambda t: F.array_contains(arr, t)))

    scores = {lang: marker_hits(markers) for lang, markers in LANG_MARKERS.items()}
    langs = list(LANG_MARKERS)
    best = F.greatest(*[scores[lg] for lg in langs])
    out = F.lit("und")
    # fixed priority order: first language reaching the max wins
    for lg in reversed(langs):
        out = F.when(scores[lg] == best, F.lit(lg)).otherwise(out)
    return F.when(best == 0, F.lit("und")).otherwise(out)


# --- extended language ID (script ranges + Cavnar-Trenkle-style profiles) ----
#
# Hand-built from public knowledge: Unicode script blocks plus each
# language's highest-frequency function words (the top of its
# Cavnar-Trenkle n-gram rank profile collapses to exactly these) and
# orthography-unique characters. Word lists are deliberately chosen to be
# DISJOINT where languages share vocabulary (es/pt "que" appears for both
# with lower weight via shared markers being omitted).

_SCRIPT_RANGES: list[tuple[str, str]] = [
    ("ru", "[Ѐ-ӿ]"),  # Cyrillic
    ("el", "[Ͱ-Ͽ]"),  # Greek
    ("ar", "[؀-ۿ]"),  # Arabic
    ("he", "[֐-׿]"),  # Hebrew
    ("hi", "[ऀ-ॿ]"),  # Devanagari
    ("ko", "[가-힯]"),  # Hangul syllables
    ("ja", "[぀-ヿ]"),  # Hiragana + Katakana
    ("zh", "[一-鿿]"),  # CJK unified (kanji-only ja loses to zh —
    #                             resolvable only with a real classifier)
]

_LATIN_PROFILES: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "that", "with", "was"],
    "de": ["der", "und", "die", "ist", "nicht", "das", "ein", "ich"],
    "fr": ["le", "les", "et", "est", "dans", "une", "je", "pas"],
    "es": ["el", "los", "una", "por", "es", "las", "pero", "como"],
    "it": ["che", "il", "di", "per", "sono", "della", "non", "con"],
    "pt": ["um", "uma", "os", "das", "dos", "ao", "em", "se"],
    "nl": ["het", "een", "van", "niet", "dat", "zijn", "voor", "ik"],
    "ms": ["yang", "dan", "untuk", "dengan", "ini", "adalah", "itu", "di"],
    "sv": ["och", "att", "det", "som", "en", "av", "har", "inte"],
    "tr": ["bir", "ve", "bu", "da", "gibi", "daha", "olan", "en"],
}

# orthography-unique characters, weighted 3x (one diacritic is worth
# three function-word hits — far more specific)
_DIACRITIC_HINTS: dict[str, str] = {
    "es": "[ñ¿¡]",
    "de": "[ß]",
    "pt": "[ãõ]",
    "sv": "[å]",
    "tr": "[ğışİ]",
    "fr": "[œ]",
}


def lang_id_ngram(
    df: "DataFrame", text_col: str, out_col: str = "lang_pred"
) -> "DataFrame":
    """Extended language ID over ~18 languages: Unicode-script detection
    for non-Latin scripts (ru/el/ar/he/hi/ko/ja/zh), then weighted
    function-word + diacritic profile scoring for 10 Latin-script
    languages. 'und' when nothing matches.  Returns df + `out_col`.

    Entirely native regexp_count expressions (~25 compiled regexes per
    row) — no Python, no shuffle, a pure narrow map that runs at scan
    speed on 100 TB.  STAGED as three projections rather than one Column
    on purpose: a single expression tree inlines the normalization into
    every score term (expression CSE does not cross regexp boundaries),
    and the resulting monolithic codegen method breaks Janino's 64 KB
    limit — Spark then silently falls back to INTERPRETED eval for the
    stage (observed: InternalCompilerException 'Code grows beyond
    64 KB').  With the normalization bound as a real attribute, each
    score expression stays small, the method splitter works, and the
    whole map stays inside whole-stage codegen.  CollapseProject keeps
    the stages separate because the intermediate columns are non-cheap
    and multiply referenced.  Accuracy floor pinned on a labeled fixture
    in tests/test_mixing.py; the 4-language SQL-mirrored lang_id stays
    untouched for the oracle contract.
    """
    c = F.col(text_col)
    # one normalization: lowercase, every non-letter/digit run -> single
    # space, padded — so marker words match with lookaround space guards
    # regardless of punctuation, in any script
    norm = F.concat(
        F.lit(" "),
        F.regexp_replace(F.lower(c), r"[^\p{L}\p{Nd}]+", " "),
        F.lit(" "),
    )
    stage1 = df.withColumns(
        {
            "__norm": norm,
            "__latin": F.regexp_count(c, F.lit("[A-Za-z]")),
            **{
                f"__sc_{lang}": F.regexp_count(c, F.lit(rng))
                for lang, rng in _SCRIPT_RANGES
            },
        }
    )
    score_cols: dict[str, Column] = {}
    for lang, words in _LATIN_PROFILES.items():
        pat = "(?<= )(" + "|".join(words) + ")(?= )"
        score = F.regexp_count(F.col("__norm"), F.lit(pat))
        if lang in _DIACRITIC_HINTS:
            score = score + 3 * F.regexp_count(
                F.col("__norm"), F.lit(_DIACRITIC_HINTS[lang])
            )
        score_cols[f"__s_{lang}"] = score
    stage2 = stage1.withColumns(score_cols)
    langs = list(_LATIN_PROFILES)
    scores = {lg: F.col(f"__s_{lg}") for lg in langs}
    best = F.greatest(*[scores[lg] for lg in langs])
    latin_winner = F.lit("und")
    for lg in reversed(langs):
        latin_winner = F.when(scores[lg] == best, F.lit(lg)).otherwise(
            latin_winner
        )
    latin_winner = F.when(best == 0, F.lit("und")).otherwise(latin_winner)
    # script cascade: kana is decisive for ja (han chars are shared with
    # zh); each other script wins when it out-masses the Latin content
    out = latin_winner
    for lang in ("zh", "hi", "he", "ar", "el", "ru", "ko"):
        out = F.when(
            F.col(f"__sc_{lang}") * 2 > F.col("__latin"), F.lit(lang)
        ).otherwise(out)
    out = F.when(F.col("__sc_ja") >= 2, F.lit("ja")).otherwise(out)
    temp = ["__norm", "__latin"] + [
        f"__sc_{lang}" for lang, _ in _SCRIPT_RANGES
    ] + list(score_cols)
    return stage2.withColumn(out_col, out).drop(*temp)


def fingerprint(col: Column | str) -> Column:
    """Document fingerprint: md5 over the normalized token stream
    (lowercase, collapsed whitespace) — whitespace-insensitive identity,
    the cheap/portable stand-in for a rolling Rabin hash."""
    c = F.col(col) if isinstance(col, str) else col
    normalized = F.array_join(F.transform(tokens(c), F.lower), " ")
    return F.md5(normalized)


def gram_join(toks: Column, n: int) -> Column:
    """Order-preserving word n-grams (with multiplicity, tail entries
    dropped) built by CHAINED zip_with over shifted slices.

    PERF — why not transform(sequence(0, size-n), i -> slice(toks, …)):
    projecting the split into a column first does NOT protect it — Catalyst
    CollapseProject inlines the tokenize expression back into the lambda,
    and HOF lambdas re-evaluate captured OUTER expressions per ELEMENT (no
    CSE across the lambda boundary), turning the pass into O(tokens²)
    re-splitting (measured 23 µs/gram; 6 s for 250k grams at sf0.1).
    zip_with's ARGUMENTS are evaluated once per ROW regardless of inlining
    — the lambdas touch only their element variables — so the chain costs
    O(n) tokenizations per row + a cheap interpreted concat per element
    (measured ~6× faster end-to-end, and it stays safe if a future
    refactor passes a raw expression instead of an attribute).

    concat (not concat_ws) propagates the null padding zip_with adds past
    the shorter shifted array, so partial tail grams null out and are
    filtered — never silently emitted as (n-1)-grams.
    """
    grams = toks
    for k in range(2, n + 1):
        shifted = F.slice(
            toks, k, F.greatest(F.size(toks) - k + 1, F.lit(0))
        )
        grams = F.zip_with(
            grams, shifted, lambda g, t: F.concat(g, F.lit(" "), t)
        )
    return F.filter(grams, lambda g: g.isNotNull())


def ngram_list(toks: Column, n: int) -> Column:
    """NON-distinct word n-grams in document order (cf. the distinct
    variant neardup.shingles_from_tokens — repetition metrics need the
    multiplicities that dedup deliberately throws away). Docs shorter
    than n tokens yield an empty list."""
    if n == 1:
        return toks
    return gram_join(toks, n)


def repetition_profile(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_top_token_frac: float = 0.2,
    max_top_bigram_frac: float = 0.18,
    min_distinct_ratio: float = 0.5,
) -> DataFrame:
    """Gopher-style repetition metrics per document (Rae et al. 2021 §A1.1:
    excess repetition is the strongest cheap signal of boilerplate/spam):

      distinct_ratio   = distinct tokens / total tokens
      top_token_frac   = occurrences of the most frequent token / total
      top_bigram_frac  = occurrences of the most frequent bigram / total
      repetition_ok    = 1 iff all three are inside their thresholds

    Shape: one explode per doc into (doc, gram) rows, hash-aggregated
    twice — (doc, gram) counts then per-doc max/sum — all partial-agg
    (map-side combined) exchanges keyed by doc_id-prefixed keys, so the
    corpus text itself is never shuffled, only gram counts. Empty docs
    report 0 ratios and fail the gate (nothing to train on).
    """
    df = spread_small_input(df)
    toked = df.select(
        F.col(id_col).alias("doc_id"),
        tokens(F.col(text_col)).alias("__toks"),
    )
    grams = toked.select(
        "doc_id",
        F.explode_outer(ngram_list(F.col("__toks"), 1)).alias("tok"),
        )
    bigrams = toked.select(
        "doc_id", F.explode(ngram_list(F.col("__toks"), 2)).alias("big")
    )

    def _per_doc(g: DataFrame, unit: str) -> DataFrame:
        counts = g.groupBy("doc_id", unit).agg(F.count(F.lit(1)).alias("c"))
        return counts.groupBy("doc_id").agg(
            F.sum(F.when(F.col(unit).isNotNull(), F.col("c"))).alias(
                f"__n_{unit}"
            ),
            F.count(F.when(F.col(unit).isNotNull(), True)).alias(
                f"__d_{unit}"
            ),
            F.max(F.when(F.col(unit).isNotNull(), F.col("c"))).alias(
                f"__m_{unit}"
            ),
        )

    tok_stats = _per_doc(grams, "tok")
    big_stats = _per_doc(bigrams, "big")
    joined = tok_stats.join(big_stats, "doc_id", "left")
    n = F.coalesce("__n_tok", F.lit(0))
    nb = F.coalesce("__n_big", F.lit(0))
    distinct_ratio = F.when(
        n > 0, F.round(F.col("__d_tok") / n, 6)
    ).otherwise(F.lit(0.0))
    top_tok = F.when(n > 0, F.round(F.col("__m_tok") / n, 6)).otherwise(
        F.lit(0.0)
    )
    top_big = F.when(nb > 0, F.round(F.col("__m_big") / nb, 6)).otherwise(
        F.lit(0.0)
    )
    ok = (
        (n > 0)
        & (distinct_ratio >= min_distinct_ratio)
        & (top_tok <= max_top_token_frac)
        & (top_big <= max_top_bigram_frac)
    )
    return joined.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        distinct_ratio.alias("distinct_ratio"),
        top_tok.alias("top_token_frac"),
        top_big.alias("top_bigram_frac"),
        ok.cast("int").alias("repetition_ok"),
    )


def term_stats(
    df: DataFrame, text_col: str, id_col: str, min_term_freq: int = 1
) -> DataFrame:
    """Corpus vocabulary statistics: (term, term_freq, doc_freq) for
    lowercased whitespace tokens — the tokenizer-training / stopword-mining
    pre-pass. One explode + one hash aggregate; doc_freq via
    count(DISTINCT id) per term. min_term_freq prunes the long tail
    DETERMINISTICALLY (a top-k cut would tie-break arbitrarily)."""
    terms = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.transform(tokens(text_col), F.lower)).alias("term"),
    )
    out = terms.groupBy("term").agg(
        F.count(F.lit(1)).alias("term_freq"),
        F.count_distinct("doc_id").alias("doc_freq"),
    )
    return out.filter(F.col("term_freq") >= min_term_freq)


def unigram_logprob_score(
    df: DataFrame,
    text_col: str,
    id_col: str,
    smoothing: float = 1.0,
) -> DataFrame:
    """Perplexity-style quality signal without an external LM: score each
    document by the mean negative log-probability of its tokens under the
    CORPUS'S OWN unigram distribution (add-k smoothed). Documents full of
    corpus-typical words score low (fluent/common); documents of rare junk
    score high — the cheap stand-in for the LM-perplexity filter in
    CCNet-style pipelines when no model is available.

    Output: (doc_id, n_tokens, avg_neg_logprob) — filter on a corpus
    percentile downstream.

    Shape: one vocab aggregation (term counts — partial-agg exchange on
    terms), broadcast of the log-prob table (vocabulary-sized, NOT
    corpus-sized — at web scale prune to the top-k vocab + a default
    rare-term mass first), one probe join, one per-doc mean. Deterministic
    arithmetic (log of exact integer ratios, rounded at the end), so the
    whole thing is SQL-mirrorable.
    """
    terms = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.transform(tokens(F.col(text_col)), F.lower)).alias(
            "term"
        ),
    )
    vocab = terms.groupBy("term").agg(F.count(F.lit(1)).alias("tf"))
    totals = vocab.agg(
        F.sum("tf").alias("n_total"), F.count(F.lit(1)).alias("n_vocab")
    )
    logp = F.broadcast(
        vocab.crossJoin(F.broadcast(totals)).select(
            "term",
            (
                F.log(
                    (F.col("tf") + F.lit(smoothing))
                    / (F.col("n_total") + F.lit(smoothing) * F.col("n_vocab"))
                )
            ).alias("__logp"),
        )
    )
    scored = terms.join(logp, "term")
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(-F.avg("__logp"), 6).alias("avg_neg_logprob"),
        )
    )


def bigram_logprob_score(
    df: DataFrame,
    text_col: str,
    id_col: str,
    smoothing: float = 1.0,
    max_vocab_pairs: int | None = None,
) -> DataFrame:
    """Fluency-aware upgrade of `unigram_logprob_score`: score each document
    by the mean negative log-probability of its adjacent token PAIRS under
    the corpus's own add-k-smoothed bigram model,
    P(w2|w1) = (c(w1,w2)+k) / (c(w1,·)+k·V), V = |continuation vocab|.
    Scrambled-word-salad junk has corpus-typical unigrams but rare bigrams,
    so this catches what the unigram scorer can't — the cheap stand-in for
    the KenLM-perplexity filter in CCNet-style pipelines.

    Output: (doc_id, n_bigrams, avg_neg_logprob); docs with <2 tokens keep
    a row with n_bigrams=0 and a NULL score (nothing silently disappears).

    Shape: adjacent pairs are formed ARRAY-SIDE (zip_with of two slices —
    a narrow map, no window/exchange to order tokens) and PERSISTED once
    (the pair stream feeds the count agg, the vocab count, and the per-doc
    scoring join — without the persist the token-scale explode lineage
    would be recomputed for each).  Exact path (`max_vocab_pairs=None`):
    the count table is NOT forced broadcast — bigram vocabulary grows
    ~quadratically with unigram vocabulary, so at 100 TB the scoring join
    is a shuffle hash join on (w1, w2).  Pruned path (`max_vocab_pairs=k`):
    keep only the k most frequent bigrams (deterministic tie-break on the
    pair), BROADCAST that table plus the unigram-context table, and score
    any pair outside it with its context's rare-pair default mass
    log(k_smooth / (c1 + k_smooth·V)) — i.e. as if c12 were 0.  That drops
    the gram-scale scoring exchange entirely (the one remaining exchange
    is the count aggregation itself); when k covers the whole bigram vocab
    the pruned score is bit-identical to the exact one.  Deterministic
    arithmetic (log of exact integer ratios), mirrorable in SQL.
    """
    toks = F.transform(tokens(F.col(text_col)), F.lower)
    with_toks = df.select(
        F.col(id_col).alias("doc_id"), toks.alias("__toks")
    )
    pairs = persist_tracked(
        with_toks.filter(F.size("__toks") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "zip_with("
                    "  slice(__toks, 1, size(__toks) - 1),"
                    "  slice(__toks, 2, size(__toks) - 1),"
                    "  (a, b) -> struct(a AS w1, b AS w2))"
                )
            ).alias("__bg"),
        )
        .select(
            "doc_id", F.col("__bg.w1").alias("w1"), F.col("__bg.w2").alias("w2")
        )
    )
    bg = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    ctx = bg.groupBy("w1").agg(F.sum("c12").alias("c1"))
    v = pairs.agg(F.count_distinct("w2").alias("n_vocab"))
    if max_vocab_pairs is None:
        logp = (
            bg.join(ctx, "w1")
            .crossJoin(F.broadcast(v))
            .select(
                "w1",
                "w2",
                F.log(
                    (F.col("c12") + F.lit(smoothing))
                    / (F.col("c1") + F.lit(smoothing) * F.col("n_vocab"))
                ).alias("__logp"),
            )
        )
        scored = pairs.join(logp, ["w1", "w2"])
    else:
        # Top-k bigrams by count (ties broken on the pair itself so the
        # kept set is deterministic), then both probe tables broadcast:
        # bg_top is k rows, ctx is unigram-vocab-sized — model-sized, not
        # corpus-sized. Pairs that miss bg_top take the rare-pair default
        # for their observed context (c12 treated as 0).
        bg_top = bg.orderBy(
            F.col("c12").desc(), F.col("w1"), F.col("w2")
        ).limit(int(max_vocab_pairs))
        scored = (
            pairs.join(F.broadcast(bg_top), ["w1", "w2"], "left")
            .join(F.broadcast(ctx), "w1")
            .crossJoin(F.broadcast(v))
            .select(
                "doc_id",
                F.log(
                    (F.coalesce(F.col("c12"), F.lit(0)) + F.lit(smoothing))
                    / (F.col("c1") + F.lit(smoothing) * F.col("n_vocab"))
                ).alias("__logp"),
            )
        )
    per_doc = (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(-F.avg("__logp"), 6).alias("avg_neg_logprob"),
        )
    )
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_bigrams"), F.lit(0).cast("long")).alias(
                "n_bigrams"
            ),
            "avg_neg_logprob",
        )
    )


def remove_boilerplate_lines(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_doc_count: int = 5,
    delimiter: str = "\n",
    strategy: str = "narrow",
) -> DataFrame:
    """CCNet-style line-level boilerplate removal: drop every line whose
    normalized form (lower+trim) appears in at least `min_doc_count`
    DISTINCT documents — cookie banners, nav menus, license footers — the
    cleaning stage that sits between raw web extraction and document-level
    dedup (line-level repetition is invisible to whole-doc digests).
    Blank lines are never counted and never removed; document order is
    preserved; every input document keeps a row (a fully-boilerplate doc
    comes back with empty text, nothing silently disappears).

    Output: (doc_id, text_clean, n_lines_kept, n_lines_removed).

    Shape, narrow strategy (default): one exploded-key aggregation finds
    the boilerplate set (count_distinct partial-aggregates map-side; the
    exchange carries normalized line keys, not documents), the set is
    collapsed to a single sorted array and broadcast via a 1-row
    crossJoin (the repo's broadcast-stats idiom), and removal is a purely
    NARROW array filter over each document — the corpus text itself is
    never shuffled.  array_contains is a linear probe per line, so this
    is the right plan while the boilerplate set is set-like (≲10^5
    entries — the head of the line-frequency distribution, which is the
    definition of boilerplate).  strategy='shuffle' is the escape hatch
    for pathological boilerplate sets: posexplode → broadcast anti-join
    per line → doc-keyed regroup (one corpus-text exchange); both
    strategies are row-identical (pinned in tests).
    """
    if strategy not in ("narrow", "shuffle"):
        raise ValueError(f"strategy must be narrow|shuffle, got {strategy!r}")
    import re as _re

    split_re = _re.escape(delimiter)
    lines = F.split(F.coalesce(F.col(text_col), F.lit("")), split_re)
    key = lambda c: F.lower(F.trim(c))  # noqa: E731

    exploded = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(lines).alias("__line"),
    ).select("doc_id", key(F.col("__line")).alias("__k"))
    bp = (
        exploded.filter(F.col("__k") != "")
        .groupBy("__k")
        .agg(F.count_distinct("doc_id").alias("__df"))
        .filter(F.col("__df") >= int(min_doc_count))
    )

    if strategy == "narrow":
        bp_arr = bp.agg(
            F.coalesce(
                F.sort_array(F.collect_list("__k")),
                F.array().cast("array<string>"),
            ).alias("__bp")
        )
        kept = F.filter(
            lines,
            lambda x: (key(x) == "")
            | ~F.array_contains(F.col("__bp"), key(x)),
        )
        return (
            df.crossJoin(F.broadcast(bp_arr))
            .select(
                F.col(id_col).alias("doc_id"),
                F.array_join(kept, delimiter).alias("text_clean"),
                F.size(kept).cast("long").alias("n_lines_kept"),
                (F.size(lines) - F.size(kept))
                .cast("long")
                .alias("n_lines_removed"),
            )
        )

    pos = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(lines).alias("__idx", "__line"),
    )
    kept_rows = pos.join(
        F.broadcast(bp),
        (key(F.col("__line")) == F.col("__k")) & (key(F.col("__line")) != ""),
        "left_anti",
    )
    regrouped = kept_rows.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("__idx", "__line"))
                ),
                lambda s: s["__line"],
            ),
            delimiter,
        ).alias("text_clean"),
        F.count(F.lit(1)).alias("n_lines_kept"),
    )
    totals = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(lines).cast("long").alias("__n_all"),
    )
    return (
        totals.join(regrouped, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("text_clean"), F.lit("")).alias("text_clean"),
            F.coalesce(F.col("n_lines_kept"), F.lit(0))
            .cast("long")
            .alias("n_lines_kept"),
            (F.col("__n_all") - F.coalesce(F.col("n_lines_kept"), F.lit(0)))
            .cast("long")
            .alias("n_lines_removed"),
        )
    )


def top_terms_per_group(
    df: DataFrame,
    text_col: str,
    group_col: str,
    k: int = 10,
) -> DataFrame:
    """Top-k most frequent terms PER GROUP (per source / domain / language)
    — the per-domain vocabulary view a mixture audit reads next to
    domain_mix (a corpus-global top list hides that one domain's "click
    here" dominates another's "theorem").

    Ties break deterministically: (count DESC, term ASC), so rank and the
    returned set are stable under any partitioning.

    Output: group_col, term, n (count), rank (1-based).

    Shape: explode → (group, term) partial-combined HashAggregate → rank
    window planned as WindowGroupLimit: each partition keeps only its
    local top-k per group BEFORE the group-keyed exchange, so the window
    exchange carries ≤ partitions·groups·k rows regardless of vocabulary
    size — the same pre-exchange pruning sample_per_group relies on.
    """
    from pyspark.sql.window import Window

    terms = df.select(
        F.col(group_col).alias("grp"),
        F.explode(F.transform(tokens(text_col), F.lower)).alias("term"),
    )
    counts = terms.groupBy("grp", "term").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("grp").orderBy(F.desc("n"), F.asc("term"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("grp").alias(group_col), "term", "n",
                F.col("rank").cast("long").alias("rank"))
    )


def tokenize_to_ids(
    df: DataFrame,
    text_col: str,
    id_col: str,
    vocab_size: int = 1000,
) -> DataFrame:
    """Vocabulary-indexed tokenization: build a corpus top-V vocabulary
    (rank by count DESC, term ASC — fully deterministic) and rewrite each
    document as token ids, OOV → 0. The step between curation and
    sequence packing: downstream training consumes ids, not strings.

    Output: doc_id, `token_ids` (comma-joined id string — string, not
    array, so the DuckDB oracle compares byte-identically), `n_tokens`,
    `n_oov`.

    Shape: the vocabulary is an aggregate of (term, count) pairs cut to
    V by a TakeOrdered-style rank — model-sized by construction, so it
    BROADCASTS to the probe join. Documents posexplode to (doc, pos,
    term), probe the broadcast vocab (no text ever shuffles past this
    probe), and reassemble per doc via sort_array over (pos, id) structs
    — ONE doc-keyed exchange carrying (doc_id, pos, id) longs. At
    100 TB: token-scale longs through one exchange, vocabulary-scale
    strings through the broadcast; nothing corpus-sized hits the driver.
    """
    from pyspark.sql.window import Window

    toked = df.select(
        F.col(id_col).alias("doc_id"),
        F.transform(tokens(F.col(text_col)), F.lower).alias("__toks"),
    )
    terms = toked.select(F.explode("__toks").alias("term"))
    # top-V cut via orderBy+limit → TakeOrderedAndProject (per-partition
    # heaps + driver merge of V rows) — the raw vocabulary is heavy-tailed
    # and possibly huge; only the V survivors ever sit in one place. The
    # id-assigning window then runs over exactly V rows.
    top_v = (
        terms.groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("term"))
        .limit(vocab_size)
    )
    w = Window.orderBy(F.desc("n"), F.asc("term"))
    vocab = top_v.withColumn("tok_id", F.row_number().over(w)).select(
        "term", "tok_id"
    )
    pos = toked.select(
        "doc_id", F.posexplode_outer("__toks").alias("pos", "term")
    )
    mapped = pos.join(F.broadcast(vocab), "term", "left").select(
        "doc_id",
        "pos",
        F.when(F.col("pos").isNotNull(),
               F.coalesce("tok_id", F.lit(0))).alias("tok_id"),
    )
    return (
        mapped.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("pos").isNotNull(),
                                F.struct("pos", "tok_id"),
                            )
                        )
                    ),
                    lambda s: s["tok_id"].cast("string"),
                ),
                ",",
            ).alias("token_ids"),
            F.count(F.col("pos")).cast("long").alias("n_tokens"),
            F.sum(
                F.when(F.col("pos").isNotNull() & (F.col("tok_id") == 0), 1)
                .otherwise(0)
            ).cast("long").alias("n_oov"),
        )
    )


def normalize_text(
    df: DataFrame,
    text_col: str,
    out_col: str = "text_canon",
    fp_col: str = "canon_fp",
) -> DataFrame:
    """Unicode canonicalization for dedup robustness: the SAME visible
    string can arrive as different byte sequences (é as U+00E9 vs
    e+U+0301; zero-width joiners pasted from web text; case and run-on
    whitespace variants) and every digest-keyed operator in this repo —
    dedup_exact, unique_key_enforce, ingest_increment — would treat them
    as distinct documents. Canonical form: Unicode NFC → lowercase (JVM
    lower(), which matches DuckDB's and keeps ß unchanged — unlike
    Python casefold, documented difference) → strip zero-width/BOM
    characters → collapse whitespace runs → trim. Emits the normalized
    text plus its md5 (`fp_col`), the drop-in key for exact dedup.

    Shape: NFC is the ONLY non-JVM step (Spark has no native Unicode
    normalizer) — an Arrow-batched pandas_udf around stdlib
    unicodedata; everything after is native regexp/lower/md5 inside
    whole-stage codegen. Narrow projection, zero exchanges; NULL text
    stays NULL (and NULL fp), so no row silently appears or vanishes.
    """
    from pyspark.sql.functions import pandas_udf

    # no type hints: `from __future__ import annotations` stringifies
    # them, which Spark's hint inference cannot resolve here — pass
    # series-to-series explicitly
    def _nfc(vs):
        import unicodedata

        return vs.map(
            lambda s: unicodedata.normalize("NFC", s)
            if s is not None
            else None,
        )

    nfc = pandas_udf(_nfc, "string")

    canon = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.lower(nfc(F.col(text_col))),
                "[\\u200B\\u200C\\u200D\\uFEFF]",
                "",
            ),
            "\\s+",
            " ",
        )
    )
    return df.withColumn(out_col, canon).withColumn(
        fp_col, F.md5(F.col(out_col))
    )


def vocab_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    text_col: str,
    min_freq: int = 2,
) -> DataFrame:
    """Vocabulary drift between two corpus slices: how much of slice B's
    token MASS falls outside slice A's (min-freq-pruned) vocabulary —
    the tokenizer-health companion to psi_drift (numeric features) and
    embedding_drift (vectors). A rising OOV share is the earliest
    symptom of a source change the downstream tokenizer was not fitted
    for: new language, new markup, encoding corruption, spam injection.

    Output (one row): oov_token_share (6 dp — share of B's token
    occurrences whose type is not in A's vocab), n_new_types (distinct
    unseen types in B), vocab_size_a, n_tokens_a, n_tokens_b.

    Shape: each side is one token explode + (token)-keyed partial-
    combined count; the pruned A-vocab joins B's TYPE table (type-
    count-sized, not token-stream-sized) with a broadcast left-anti;
    the final row folds the type tables. Raw text never shuffles.
    """
    ta = (
        df_a.select(F.explode(tokens(F.col(text_col))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("ca"))
    )
    vocab_a = ta.filter(F.col("ca") >= int(min_freq)).select("tok")
    tb = (
        df_b.select(F.explode(tokens(F.col(text_col))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cb"))
    )
    oov = tb.join(F.broadcast(vocab_a), "tok", "left_anti")
    stats_a = ta.agg(
        F.coalesce(F.sum("ca"), F.lit(0)).alias("n_tokens_a"),
        F.coalesce(
            F.sum(F.when(F.col("ca") >= int(min_freq), 1)), F.lit(0)
        ).alias("vocab_size_a"),
    )
    stats_b = tb.agg(F.coalesce(F.sum("cb"), F.lit(0)).alias("n_tokens_b"))
    stats_oov = oov.agg(
        F.coalesce(F.sum("cb"), F.lit(0)).alias("__oov_mass"),
        F.count(F.lit(1)).alias("n_new_types"),
    )
    return (
        stats_oov.crossJoin(F.broadcast(stats_a))
        .crossJoin(F.broadcast(stats_b))
        .select(
            F.round(
                F.when(
                    F.col("n_tokens_b") > 0,
                    F.col("__oov_mass") / F.col("n_tokens_b"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("oov_token_share"),
            F.col("n_new_types").cast("long"),
            F.col("vocab_size_a").cast("long"),
            F.col("n_tokens_a").cast("long"),
            F.col("n_tokens_b").cast("long"),
        )
    )


def scan_bytes(df: DataFrame) -> int | None:
    """Total bytes of the file scan feeding `df` — driver-side metadata
    only (leaf-file listing + FileStatus), NO Spark job. The free input
    for size-adaptive plan choices: `df.inputFiles()` resolves the plan's
    file sources and the Hadoop FS answers lengths from its (already
    populated) listing cache. Returns None when the plan has no file
    scan (in-memory / RDD / JDBC frames) or the FS refuses — callers
    must treat None as "size UNKNOWN" and take the safe (non-broadcast)
    path or defer to autoBroadcastJoinThreshold, never as "small"."""
    try:
        files = df.inputFiles()
        if not files:
            return None
        sc = df.sparkSession.sparkContext
        jvm = sc._jvm
        conf = sc._jsc.hadoopConfiguration()
        total = 0
        for p in files:
            path = jvm.org.apache.hadoop.fs.Path(p)
            total += path.getFileSystem(conf).getFileStatus(path).getLen()
        return total
    except Exception:  # noqa: BLE001 — a size probe must never fail a plan
        return None


# Broadcast the PMI marginal tables only when the corpus scan is at most
# this many bytes. Vocab is sub-linear in corpus size (Heaps' law), so a
# ≤4 GB corpus has at most a few tens of millions of types — comfortably
# broadcastable — while a 100 TB corpus's vocab (hundreds of millions of
# types, GBs serialized) must take the shuffled-join path.
PMI_BROADCAST_MAX_SCAN_BYTES = 4 * 1024**3


def collocations_pmi(
    df: DataFrame,
    text_col: str,
    min_pair_count: int = 5,
    ndigits: int = 6,
    broadcast_marginals: bool | None = None,
) -> DataFrame:
    """Bigram collocation mining by pointwise mutual information:
    PMI(w1,w2) = ln( p(w1,w2) / (p(w1,·)·p(·,w2)) ) with probabilities
    over the corpus's adjacent-pair stream — the multiword-expression
    detector ("new york", "machine learning") whose output seeds
    tokenizer merge rules and phrase-aware dedup shingles.

    Marginals are computed FROM the bigram count table (sum over one
    coordinate), not by re-scanning tokens: one token-scale explode+agg,
    then everything downstream is bigram-vocab-sized.  The count floor
    kills the PMI-loves-hapax pathology (a pair seen once between two
    rare words maxes PMI); it also caps the output at the
    frequent-bigram table.  Exact integer ratios into one ln() —
    deterministic, SQL-mirrorable.

    `broadcast_marginals` (None = auto): the two marginal tables are
    unigram-vocab-sized — tiny next to the bigram table but unbounded in
    the absolute (Heaps' law still reaches hundreds of millions of types
    at 100 TB). Auto mode broadcasts them when the corpus scan is
    ≤ PMI_BROADCAST_MAX_SCAN_BYTES (a free driver-side file-metadata
    check via scan_bytes — no gate job, no barrier; round-12 triage
    measured the shuffled marginal joins as the whole 1.97x-of-baseline
    bench regression at sf0.1, and an eager count-based gate gave half
    the win back as a materialization barrier) and falls back to
    shuffled joins above it or when the scan size is unknowable-and-
    large is impossible (in-memory frames count as small).

    Output: (w1, w2, pair_count BIGINT, pmi) — pmi rounded to `ndigits`.
    """
    toks = F.transform(tokens(F.col(text_col)), F.lower)
    with_toks = df.select(toks.alias("__toks"))
    pairs = (
        with_toks.filter(F.size("__toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "zip_with("
                    "  slice(__toks, 1, size(__toks) - 1),"
                    "  slice(__toks, 2, size(__toks) - 1),"
                    "  (a, b) -> struct(a AS w1, b AS w2))"
                )
            ).alias("__bg")
        )
        .select(F.col("__bg.w1").alias("w1"), F.col("__bg.w2").alias("w2"))
    )
    bg = persist_tracked(
        pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    )
    left = bg.groupBy("w1").agg(F.sum("c12").alias("c1"))
    right = bg.groupBy("w2").agg(F.sum("c12").alias("c2"))
    if broadcast_marginals is None:
        size = scan_bytes(df)
        # Unknown size (None: no file scan behind the plan — in-memory,
        # RDD-backed, or JDBC frames) must NOT force a vocab-sized
        # broadcast: such a frame can still be huge. Leave the hint off
        # and let Spark's autoBroadcastJoinThreshold / AQE decide from
        # actual runtime sizes (ADVICE r12).
        broadcast_marginals = (
            size is not None and size <= PMI_BROADCAST_MAX_SCAN_BYTES
        )
    if broadcast_marginals:
        left, right = F.broadcast(left), F.broadcast(right)
    total = bg.agg(F.sum("c12").alias("n_pairs"))
    kept = bg.filter(F.col("c12") >= int(min_pair_count))
    return (
        kept.join(left, "w1")
        .join(right, "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1",
            "w2",
            F.col("c12").cast("long").alias("pair_count"),
            F.round(
                F.log(
                    F.col("c12").cast("double")
                    * F.col("n_pairs").cast("double")
                    / (
                        F.col("c1").cast("double")
                        * F.col("c2").cast("double")
                    )
                ),
                ndigits,
            ).alias("pmi"),
        )
    )


def vocab_coverage(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_freq: int = 5,
    ndigits: int = 6,
) -> DataFrame:
    """Per-document out-of-vocabulary rate against the corpus's own
    frequency-thresholded vocabulary — the tokenizer-health twin of
    unigram_logprob_score (that one weights by how common the known
    tokens are; this one measures how much of the document the
    vocabulary covers AT ALL — the signal that catches wrong-language,
    OCR-noise, and encoding-mojibake docs whose tokens simply don't
    exist in the corpus vocabulary).

    vocab = {term : corpus frequency >= min_freq};
    oov_rate(doc) = fraction of the doc's tokens outside vocab.

    Same tokenization as the rest of the text stack (whitespace split,
    lowercased).  Empty/NULL-text documents emit no row (no tokens —
    same convention as unigram_logprob_score).

    Output: (doc_id, n_tokens BIGINT, oov_rate) rounded.

    Shape: one term partial-agg builds the vocab (vocabulary-sized, NOT
    corpus-sized — cap with min_freq; at web scale also top-k it), one
    BROADCAST probe join (left: OOV terms must survive), one per-doc
    agg.  The token stream shuffles once (the per-doc agg); text never
    shuffles.  Fully SQL-expressible → hash-checked vs DuckDB.
    """
    terms = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.transform(tokens(F.col(text_col)), F.lower)).alias(
            "term"
        ),
    )
    vocab = (
        terms.groupBy("term")
        .agg(F.count(F.lit(1)).alias("__tf"))
        .filter(F.col("__tf") >= int(min_freq))
        .select("term", F.lit(1).alias("__in_vocab"))
    )
    probed = terms.join(F.broadcast(vocab), "term", "left")
    return probed.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.round(
            F.avg(
                F.when(F.col("__in_vocab").isNull(), 1.0).otherwise(0.0)
            ),
            ndigits,
        ).alias("oov_rate"),
    )


def compression_ratio(
    df: DataFrame,
    text_col: str,
    id_col: str,
    level: int = 6,
    ndigits: int = 6,
) -> DataFrame:
    """Per-document zlib compressibility — the model-free repetition /
    junk signal the Gopher-style quality pipelines threshold on from
    both ends: near-1 ratios are incompressible noise (random strings,
    base64 blobs, mojibake) and very low ratios are highly repetitive
    boilerplate/spam — natural prose sits in a middle band.  Complements
    text_repetition (explicit n-gram repeats) with a single holistic
    number, and costs one pass with no vocabulary.

        ratio = len(zlib.compress(utf8, level)) / len(utf8)

    zlib at a fixed level is bit-deterministic (same bytes in, same
    bytes out, any platform), so the score is reproducible across runs
    and engines — but no SQL engine exposes it, so this op is pinned by
    pytest ordering properties instead of a DuckDB hash (registered
    rows-only).  NULL text → NULL ratio (row kept); empty text → NULL
    (no bytes to measure, and 0/0 must not fabricate a score).

    Output: input columns + n_bytes BIGINT + `ratio` (rounded).

    Shape: ONE Arrow-batched pandas_udf projection (stdlib zlib over
    each batch), zero exchanges — the scan's narrow map.  Ratios can be
    computed per partition at any scale; nothing global.
    """
    from pyspark.sql.functions import pandas_udf

    lvl = int(level)
    if not 1 <= lvl <= 9:
        raise ValueError(f"level must be in [1,9], got {level}")

    def _ratio(vs):
        import zlib

        def one(s):
            if s is None:
                return None
            b = s.encode("utf-8")
            if not b:
                return None
            return len(zlib.compress(b, lvl)) / len(b)

        return vs.map(one)

    ratio_udf = pandas_udf(_ratio, "double")
    b = F.octet_length(F.col(text_col)).cast("long")
    return df.select(
        *df.columns,
        F.when(F.col(text_col).isNull(), None).otherwise(b).alias("n_bytes"),
        F.round(ratio_udf(F.col(text_col)), ndigits).alias("ratio"),
    )


def readability_scores(
    df: DataFrame,
    text_col: str,
    id_col: str,
    ndigits: int = 6,
) -> DataFrame:
    """Flesch reading-ease + Flesch-Kincaid grade per document — the
    classic readability screens used as curation features (a pretraining
    mix balances easy/hard text; an instruction set gates on audience
    level). Deterministic, dictionary-free:

        words     = whitespace tokens
        sentences = max(1, runs of [.!?])     (an unpunctuated doc is
                                               one sentence, not 1/0)
        syllables = runs of [aeiouyAEIOUY]    (the standard vowel-group
                                               proxy; consonant-only
                                               tokens contribute 0 —
                                               documented approximation)

        ease  = 206.835 − 1.015·(words/sentences) − 84.6·(syll/words)
        grade = 0.39·(words/sentences) + 11.8·(syll/words) − 15.59

    Character classes are explicit (no \\d/\\b/\\w) so Java regex and
    RE2 read them identically — the pii/lang-ID discipline. Zero-word
    and NULL docs drop. Pure narrow map, zero exchanges, codegen'd
    regexp_count — streams at scan speed. Fully SQL-expressible →
    hash-checked vs DuckDB.

    Output: (id, n_words, n_sentences, n_syllables, flesch_ease,
    fk_grade).
    """
    c = F.col(text_col)
    words = F.size(F.split(F.trim(c), "[ \\t\\n\\r]+"))
    sentences = F.greatest(
        F.lit(1), F.regexp_count(c, F.lit("[.!?]+"))
    )
    syllables = F.regexp_count(c, F.lit("[aeiouyAEIOUY]+"))
    base = df.filter(c.isNotNull() & (F.length(F.trim(c)) > 0)).select(
        F.col(id_col),
        words.cast("long").alias("n_words"),
        sentences.cast("long").alias("n_sentences"),
        syllables.cast("long").alias("n_syllables"),
    )
    wps = F.col("n_words") / F.col("n_sentences")
    spw = F.col("n_syllables") / F.col("n_words")
    return base.select(
        id_col,
        "n_words",
        "n_sentences",
        "n_syllables",
        F.round(
            F.lit(206.835) - 1.015 * wps - 84.6 * spw, ndigits
        ).alias("flesch_ease"),
        F.round(
            0.39 * wps + 11.8 * spw - F.lit(15.59), ndigits
        ).alias("fk_grade"),
    )
