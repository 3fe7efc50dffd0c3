"""Near-duplicate text detection: n-gram Jaccard (exact), MinHash+LSH,
SimHash (north-star M5 dedup family).

Design for 100 TB:
- The exact path (ngram_jaccard_pairs) is an inverted index with in-bucket
  pair explosion — pairs are generated ONLY for documents sharing at least
  one shingle, never a crossJoin, and never a self-join (which would compute
  the shingling pipeline once per side). Hot shingles (stopword n-grams) are
  the quadratic hazard; `max_doc_freq` drops shingles whose posting list
  exceeds a cap, which bounds fanout (standard prefix-filtering trade-off).
- MinHash compresses each document to a k-int signature (k·8 bytes vs the
  full text) before any shuffle; LSH banding turns near-dup search into an
  equi-join on (band, band_hash). This is the scale path: shuffle volume is
  O(docs · k), candidate verification is confined to colliding buckets.
- SimHash compresses to one 64-bit int; hamming-distance pairs come from
  banding the 64 bits into chunks (pigeonhole: dist ≤ d ⇒ some chunk of
  d+1 chunks is identical).

All hashing is xxhash64 (JVM-native, seedable by prefixing). The exact
Jaccard path is oracle-checkable in ANSI SQL; MinHash/SimHash outputs depend
on the engine's hash function, so the driver records rows-only checks for
them (their *verified* outputs are still exact-Jaccard-filtered).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..caching import persist_tracked
from .text import gram_join, ngram_list as text_ngram_list, spread_small_input, tokens


def shingles_from_tokens(toks: Column, n: int) -> Column:
    """Distinct word n-grams from a token-array column (set semantics —
    dedup/minhash; for multiplicity-preserving grams see text.ngram_list).
    Built with the zip_with chain (text.gram_join) — immune to the
    CollapseProject/HOF re-tokenization trap documented there.
    """
    if n == 1:
        return F.array_distinct(toks)
    return F.array_distinct(gram_join(toks, n))


def with_shingles(
    df: DataFrame, text_col: str, id_col: str, n: int = 3
) -> DataFrame:
    """(doc_id, sh: array<string>) — tokens materialized before shingling.

    Uses the guarded tokenizer (text.tokens): empty/whitespace-only docs
    yield ZERO tokens, so n=1 shingling cannot emit a '' shingle that would
    pair every empty doc with every other empty doc.

    Deliberately does NOT spread_small_input here: the dedup pipelines
    built on this (jaccard/minhash/corpus_clean) shuffle right after the
    gram pass, and measurement shows the extra exchange + planning cost
    outweighs the parallelism gain inside composed plans. Pure-scan
    consumers (contamination, repetition) spread at their own entry."""
    toked = df.select(
        F.col(id_col).alias("doc_id"),
        tokens(F.col(text_col)).alias("__toks"),
    )
    return toked.select(
        "doc_id", shingles_from_tokens(F.col("__toks"), n).alias("sh")
    )


def intra_bucket_pairs(
    grouped: DataFrame, list_col: str = "ds", pair_col: str = "p"
) -> DataFrame:
    """Explode each bucket's sorted member list into ordered (a, b) pairs.

    One-sided pair generation replaces the classic posting-list SELF-JOIN:
    the upstream pipeline (shingling, hashing) is computed ONCE instead of
    once per join side, and no join at all is executed — pairs come from a
    nested transform over the in-bucket array. Buckets must be pre-sorted so
    a < b holds.
    """
    ds = F.col(list_col)
    pairs = F.flatten(
        F.transform(
            ds,
            lambda x, i: F.transform(
                F.slice(ds, i + 2, F.size(ds)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    return grouped.select(F.explode(pairs).alias(pair_col))


def drop_oversized_buckets(
    rows: DataFrame, key_cols: list[str], max_size: int
) -> DataFrame:
    """Anti-join away bucket keys whose membership exceeds max_size BEFORE
    any collect_list — the banding analog of the Jaccard hot-shingle
    pre-filter. The size check is a count aggregate (map-side combined:
    bytes cross the exchange, never member lists) and the oversized-key
    set is tiny by construction → broadcast anti-join.

    Why dropping is sound: a bucket of m docs yields an m-length array in
    ONE aggregation buffer and m²/2 pairs from ONE task — at near-dup
    thresholds a bucket only degenerates like that when the corpus holds
    a mass-duplicate cluster, which EXACT dedup owns (run it first, as
    corpus_clean does). The cap protects the job instead of OOMing it;
    pass None to disable."""
    big = (
        rows.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("__bs"))
        .filter(F.col("__bs") > max_size)
        .select(*key_cols)
    )
    return rows.join(F.broadcast(big), key_cols, "left_anti")


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
    metric: str = "jaccard",
) -> DataFrame:
    """Exact Jaccard-similar pairs over word n-gram shingle sets.

    Inverted-index formulation with NO self-join: postings group by shingle
    into sorted member lists; in-bucket pair explosion yields |A∩B| counts
    directly (pairs appear once per shared shingle). Set sizes ride along in
    the bucket structs, so J = inter/(|A|+|B|-inter) needs zero extra joins.
    Two shuffles total (by shingle, by pair), single shingle computation.

    max_doc_freq drops hot shingles (posting list > cap) — the quadratic
    fanout control at corpus scale. Semantics with a cap: Jaccard over the
    FILTERED shingle universe (hot shingles leave both the intersections and
    the set sizes), i.e. exact Jaccard of the filtered sets — well-defined,
    cap-parameterized, and oracle-expressible (HAVING count(*) <= cap).
    A shingle in f docs contributes f² candidate pairs, so one stopword
    trigram appearing in 10⁶ docs would otherwise emit 10¹² pairs from a
    single reducer key.

    metric: "jaccard" scores inter/(|A|+|B|-inter); "containment" scores
    inter/min(|A|,|B|) — the asymmetric overlap coefficient, which rates a
    short document fully quoted inside a long one at 1.0 where Jaccard
    dilutes it toward |A|/|B| (the quote/wrapper-inclusion case every
    C4-style pipeline needs a containment sweep for).  Identical plan —
    only the final scoring expression differs; docs whose filtered shingle
    set is empty cannot appear (no postings → no pairs), so the min()
    denominator is never 0.
    """
    if metric not in ("jaccard", "containment"):
        raise ValueError(f"unknown metric {metric!r}")
    # Per-doc (uncapped) set sizes ride inside the bucket structs. With a
    # cap, hot shingles are identified by a doc-frequency COUNT first (a
    # partial-aggregated exchange of (shingle, count) — bytes, not posting
    # lists), and posts are anti-joined against the hot set BEFORE any
    # collect_list, so no aggregation buffer ever holds more than
    # max_doc_freq structs. The previous shape collected the FULL posting
    # list per shingle and dropped hot ones afterwards — a 10⁶-doc stopword
    # shingle still built a 10⁶-struct array in a single task. The embedded
    # per-doc sizes are corrected by a per-doc hot-shingle count — EMPTY
    # whenever the cap never bites.
    #
    # Shingles are collapsed to 64-bit hashes BEFORE the bucket shuffle:
    # 8-byte keys instead of n-gram strings halve the exchange and make the
    # in-bucket sorts long-compares (measured 2x end-to-end at sf0.1). A
    # hash collision merging two shingles is p ≈ k²/2⁶⁵ — irrelevant next
    # to the threshold granularity.
    # NOTE (round-13 opt): fan_out before the tokenize/shingle chain was
    # MEASURED SLOWER here (dedup_ngram_jaccard 1.44 -> 1.96 s median):
    # the extra round-robin exchange + 32-way consumer stages cost more
    # than the serial explode they replace, exactly as the with_shingles
    # docstring records for the composed dedup plans. Left un-spread.
    docs_sh = with_hashed_shingles(df, text_col, id_col, n).select(
        "doc_id", "sh", F.size("sh").alias("n_sh")
    )
    if max_doc_freq is not None:
        # Three consumers (freq, hot_counts, buckets) share the tokenize+
        # shingle+hash pipeline; persist the COMPACT pre-explode form so it
        # runs once. MEMORY_AND_DISK + LRU eviction bounds the footprint;
        # long-lived sessions release via caching.release_cached().
        docs_sh = persist_tracked(docs_sh)
    posts = docs_sh.select("doc_id", "n_sh", F.explode("sh").alias("shingle"))
    if max_doc_freq is not None:
        # Doc-freq per shingle: map-side combine means the exchange carries
        # one (shingle, partial_count) per mapper, never a posting list.
        # The hot set (freq > cap) is tiny by construction → broadcast to
        # both the per-doc correction count and the posting anti-join.
        hot = (
            posts.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_doc_freq)
            .select("shingle")
        )
        hot_counts = (
            posts.join(F.broadcast(hot), "shingle", "leftsemi")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_hot"))
        )
        posts = posts.join(F.broadcast(hot), "shingle", "left_anti")
    buckets = posts.groupBy("shingle").agg(
        F.sort_array(F.collect_list(F.struct("doc_id", "n_sh"))).alias("ds")
    )
    pairs = intra_bucket_pairs(buckets.select("ds"))
    inter = pairs.groupBy(
        F.col("p.a.doc_id").alias("id_a"),
        F.col("p.a.n_sh").alias("na"),
        F.col("p.b.doc_id").alias("id_b"),
        F.col("p.b.n_sh").alias("nb"),
    ).agg(F.count(F.lit(1)).alias("inter"))
    if max_doc_freq is not None:
        ha = hot_counts.select(
            F.col("doc_id").alias("id_a"), F.col("n_hot").alias("__hot_a")
        )
        hb = hot_counts.select(
            F.col("doc_id").alias("id_b"), F.col("n_hot").alias("__hot_b")
        )
        inter = (
            inter.join(ha, "id_a", "left")
            .join(hb, "id_b", "left")
            .withColumn("na", F.col("na") - F.coalesce("__hot_a", F.lit(0)))
            .withColumn("nb", F.col("nb") - F.coalesce("__hot_b", F.lit(0)))
        )
    if metric == "containment":
        score = F.col("inter") / F.least(F.col("na"), F.col("nb"))
    else:
        score = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        inter.select(
            "id_a",
            "id_b",
            F.round(score, 6).alias(metric),
        )
        .filter(F.col(metric) >= threshold)
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact containment-similar pairs: overlap coefficient
    inter/min(|A|,|B|) over word n-gram shingle sets — catches a short
    doc embedded verbatim in a long one, which Jaccard scores near
    |short|/|long| and misses.  Same inverted-index plan as
    ngram_jaccard_pairs (two shuffles, hot-shingle cap, no self-join);
    see that docstring for the shape and cap semantics."""
    return ngram_jaccard_pairs(
        df, text_col, id_col, n=n, threshold=threshold,
        max_doc_freq=max_doc_freq, metric="containment",
    )


def with_hashed_shingles(
    df: DataFrame, text_col: str, id_col: str, n: int = 3
) -> DataFrame:
    """(doc_id, sh: array<long>) — each shingle collapsed to a 64-bit hash.

    Downstream set algebra (minhash, intersection) runs on longs instead of
    n-gram strings: ~8 bytes per element in every shuffle and O(1) compares.
    64-bit collisions are negligible at any realistic shingle cardinality
    (p ≈ k²/2⁶⁵).
    """
    sh = with_shingles(df, text_col, id_col, n)
    return sh.select(
        "doc_id", F.transform("sh", lambda s: F.xxhash64(s)).alias("sh")
    )


def _signatures_from_hashed_sets(sets: DataFrame, num_hashes: int) -> DataFrame:
    """(doc_id, sh: array<long>) → (doc_id, signature: array<long>)."""
    posts = sets.select("doc_id", F.explode("sh").alias("h"))
    aggs = [
        F.min(F.xxhash64(F.lit(i), F.col("h"))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    sig = posts.groupBy("doc_id").agg(*aggs)
    return sig.select(
        "doc_id",
        F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("signature"),
    )


def _band_rows(sig: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """(doc_id, band, bucket) — each signature split into `bands` hashed
    band keys (variadic xxhash64 over the band's slots, long-only)."""
    return sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[
                                F.element_at(
                                    F.col("signature"), b * rows_per_band + j + 1
                                )
                                for j in range(rows_per_band)
                            ]
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")


def build_neardup_index(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
) -> tuple[DataFrame, DataFrame]:
    """Persistable MinHash dedup index: (band_table, shingle_sets).

    band_table: (doc_id, band, bucket) — the LSH postings; write it
    partitioned/bucketed by (band, bucket) and new data probes it with an
    equi-join, never touching the corpus text again. shingle_sets:
    (doc_id, sh array<long>) for the exact-verify stage. Both are plain
    DataFrames — save as parquet, reload anywhere. This is the
    incremental-ingest shape: indexing N new docs costs O(N), not
    O(corpus), per batch.

    The build parameters (n, num_hashes, bands) are stamped into the band
    column's schema METADATA — Spark field metadata survives a parquet
    round-trip, so probe_neardup_index can detect a parameter mismatch
    (which would otherwise silently produce near-empty candidate sets)
    instead of collapsing recall.
    """
    sets = with_hashed_shingles(df, text_col, id_col, n)
    sig = _signatures_from_hashed_sets(sets, num_hashes)
    assert num_hashes % bands == 0
    band_table = _band_rows(sig, bands, num_hashes // bands)
    band_table = band_table.withColumn(
        "band",
        F.col("band").alias(
            "band", metadata={"n": n, "num_hashes": num_hashes, "bands": bands}
        ),
    )
    return band_table, sets


def probe_neardup_index(
    new_docs: DataFrame,
    index_bands: DataFrame,
    index_sets: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dups of new_docs AGAINST the index: (new_id, index_id, jaccard).

    New docs are shingled/hashed/banded with the SAME parameters, band
    rows equi-join the index postings, and only colliding pairs are
    exact-verified against the stored shingle sets. Cost scales with the
    probe batch + collisions — the indexed corpus is never rescanned.

    If the index carries build-parameter metadata (build_neardup_index
    stamps it; it survives parquet), a mismatch with this call's
    (n, num_hashes, bands) raises ValueError — a silent mismatch would
    hash bands differently and return near-empty candidates (recall
    collapse with no error).
    """
    assert num_hashes % bands == 0
    meta = index_bands.schema["band"].metadata or {}
    if meta:
        got = (meta.get("n"), meta.get("num_hashes"), meta.get("bands"))
        want = (n, num_hashes, bands)
        if got != want:
            raise ValueError(
                f"index was built with (n, num_hashes, bands)={got}, "
                f"probe called with {want} — parameters must match"
            )
    new_sets = persist_tracked(
        with_hashed_shingles(new_docs, text_col, id_col, n)
    )
    new_sig = _signatures_from_hashed_sets(new_sets, num_hashes)
    new_bands = _band_rows(new_sig, bands, num_hashes // bands)
    candidates = (
        new_bands.select(F.col("doc_id").alias("new_id"), "band", "bucket")
        .join(
            index_bands.select(
                F.col("doc_id").alias("index_id"), "band", "bucket"
            ),
            ["band", "bucket"],
        )
        .select("new_id", "index_id")
        .distinct()
    )
    na = new_sets.select(F.col("doc_id").alias("new_id"), F.col("sh").alias("sh_a"))
    ib = index_sets.select(
        F.col("doc_id").alias("index_id"), F.col("sh").alias("sh_b")
    )
    return (
        candidates.join(na, "new_id")
        .join(ib, "index_id")
        .select(
            "new_id",
            "index_id",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    verify_exact: bool = True,
    max_bucket_size: int | None = 1024,
) -> DataFrame:
    """MinHash + LSH banding near-dup pairs, optionally exact-verified.

    Band r = num_hashes/bands rows; docs colliding on any band's hash are
    candidates (P[collide] = 1-(1-J^r)^bands). Candidates are then verified
    with exact shingle Jaccard (cheap: only colliding pairs), so the output
    is exact-above-threshold with LSH recall.

    max_bucket_size drops degenerate band buckets BEFORE their member
    lists are collected (see drop_oversized_buckets) — mass-duplicate
    clusters belong to exact dedup, not an m² pair explosion.
    """
    assert num_hashes % bands == 0, "bands must divide num_hashes"
    rows_per_band = num_hashes // bands
    # The hashed shingle sets feed BOTH the signatures and the exact-verify
    # join; persist so the tokenize→shingle→hash DAG executes once, not
    # three times (signature pass + two verify sides). MEMORY_AND_DISK by
    # default, so oversized corpora spill instead of OOMing.
    sets = with_hashed_shingles(df, text_col, id_col, n)
    if verify_exact:
        sets = persist_tracked(sets)
    sig = _signatures_from_hashed_sets(sets, num_hashes)
    band_rows = _band_rows(sig, bands, rows_per_band)

    if max_bucket_size is not None:
        band_rows = drop_oversized_buckets(
            band_rows, ["band", "bucket"], max_bucket_size
        )
    cand_buckets = band_rows.groupBy("band", "bucket").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ds")
    )
    candidates = (
        intra_bucket_pairs(cand_buckets.select("ds"))
        .select(F.col("p.a").alias("id_a"), F.col("p.b").alias("id_b"))
        .distinct()
    )
    if not verify_exact:
        return candidates

    # Verify ONLY the candidate pairs: join each side to its (hashed) shingle
    # set and compute exact Jaccard with array_intersect — O(candidates), not
    # the full inverted-index pass (which would defeat the point of LSH).
    sa = sets.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    sb = sets.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    verified = (
        candidates.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                6,
            ).alias("jaccard"),
        )
    )
    return verified.filter(F.col("jaccard") >= threshold)


def simhash(df: DataFrame, text_col: str, id_col: str, n: int = 1) -> DataFrame:
    """64-bit SimHash per document from token (or n-gram) hashes.

    bit b of the hash = sign of Σ_tokens (bit b set ? +1 : -1). Expressed as
    64 conditional-sum aggregates over the exploded token hashes — all
    JVM-side, one shuffle of (doc_id, token_hash).

    The 63-accumulator partial aggregation runs map-side on the scan's
    partitioning — fan_out spreads a provably-small scan first so the
    fold parallelizes (no-op at real scale; guide §2.5).
    """
    from ..parallelism import fan_out

    df = fan_out(df.select(F.col(id_col), F.col(text_col)))
    toks = with_shingles(df, text_col, id_col, n).select(
        "doc_id", F.explode("sh").alias("tok")
    ).withColumn("h", F.xxhash64(F.col("tok")))
    aggs = [
        F.sum(
            F.when(F.col("h").bitwiseAND(F.lit(1 << b)) != 0, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(63)  # bit 63 is the sign bit; skip to stay positive
    ]
    sums = toks.groupBy("doc_id").agg(*aggs)
    fp = F.lit(0).cast("long")
    for b in range(63):
        fp = fp + F.when(F.col(f"b{b}") > 0, F.lit(1 << b)).otherwise(0)
    return sums.select("doc_id", fp.alias("simhash"))


def hamming_chunk_rows(
    fp: DataFrame,
    id_col: str,
    fp_col: str,
    max_hamming: int,
    bits: int,
) -> DataFrame:
    """Explode each fingerprint into its (chunk, key) pigeonhole rows —
    (id, fp, chunk, key), one row per chunk. The shared banding-key
    producer behind hamming_band_pairs (in-corpus pair search). Chunk
    widths: ceil(bits/(d+1)), last
    chunk clipped; a full-64-bit chunk takes no mask (1<<64 would
    overflow a long literal), shiftrightunsigned keeps the sign bit a
    data bit."""
    chunks = max_hamming + 1
    width = (bits + chunks - 1) // chunks  # ceil
    bands = []
    for c in range(chunks):
        lo = c * width
        w = min(width, bits - lo)  # last chunk may be narrower
        key = F.shiftrightunsigned(F.col(fp_col), lo)
        if lo + w < 64:  # a full-long chunk needs no mask
            key = key.bitwiseAND(F.lit((1 << w) - 1))
        bands.append(F.struct(F.lit(c).alias("chunk"), key.alias("key")))
    return fp.select(
        id_col, fp_col, F.explode(F.array(*bands)).alias("cb")
    ).select(id_col, fp_col, "cb.chunk", "cb.key")


def hamming_band_pairs(
    fp: DataFrame,
    id_col: str = "doc_id",
    fp_col: str = "simhash",
    max_hamming: int = 3,
    bits: int = 63,
    max_bucket_size: int | None = 1024,
) -> DataFrame:
    """Pairs with hamming(fp) ≤ max_hamming over ANY 64-bit-or-less
    fingerprint column, via chunk-banding.

    Pigeonhole: split `bits` bits into (max_hamming+1) chunks; any pair
    within distance d shares at least one identical chunk → equi-join on
    chunks, then exact hamming verify with bit_count(xor). This is the
    shared candidate machinery behind text SimHash (bits=63, sign bit
    unused) and the media perceptual hashes (bits=64 dHash / band-energy
    fingerprints, operators/mediadedup.py) — the fingerprint producer
    differs per modality, the at-scale pair search does not.

    max_bucket_size drops degenerate chunk buckets before their member
    lists are collected (drop_oversized_buckets — same rationale as the
    MinHash path). Output: (id_a, id_b, hamming), id_a < id_b, distinct.

    64-bit note: a full-64-bit fingerprint is stored as a signed long; the
    per-chunk extraction uses shiftrightunsigned so the sign bit behaves
    as a data bit, and the LAST chunk's mask is clipped so no 1<<64 Python
    literal reaches the plan. bit_count(xor) is sign-correct by definition.
    """
    ham = F.bit_count(F.col(f"p.a.{fp_col}").bitwiseXOR(F.col(f"p.b.{fp_col}")))
    banded = hamming_chunk_rows(fp, id_col, fp_col, max_hamming, bits)
    if max_bucket_size is not None:
        banded = drop_oversized_buckets(banded, ["chunk", "key"], max_bucket_size)
    hash_buckets = banded.groupBy("chunk", "key").agg(
        F.sort_array(F.collect_list(F.struct(id_col, fp_col))).alias("ds")
    )
    return (
        intra_bucket_pairs(hash_buckets.select("ds"))
        .select(
            F.col(f"p.a.{id_col}").alias("id_a"),
            F.col(f"p.b.{id_col}").alias("id_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    n: int = 1,
    max_bucket_size: int | None = 1024,
) -> DataFrame:
    """Pairs with hamming(simhash) ≤ max_hamming via chunk-banding — the
    63-bit text instantiation of hamming_band_pairs (see there for the
    pigeonhole argument and the bucket cap)."""
    sh = simhash(df, text_col, id_col, n)
    return hamming_band_pairs(
        sh,
        id_col="doc_id",
        fp_col="simhash",
        max_hamming=max_hamming,
        bits=63,
        max_bucket_size=max_bucket_size,
    )


def span_stats(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 8,
    hashed: bool = True,
) -> DataFrame:
    """Per-document cross-corpus repeated-span statistics — the shingle
    approximation of suffix-array exact-substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): a span is
    an n-token window, and a span is DUPLICATED iff the same n-gram occurs
    in at least one OTHER document (within-doc repetition is deliberately
    out of scope — text.repetition_profile owns that signal).

    Returns (doc_id, n_spans, n_dup_spans, dup_span_ratio):
      n_spans        = max(tokens - n + 1, 0)   (all spans, multiplicity)
      n_dup_spans    = spans whose n-gram is cross-doc duplicated,
                       counted WITH multiplicity (each boilerplate copy
                       counts — the quantity a span-remover would cut)
      dup_span_ratio = n_dup_spans / n_spans (0 for docs shorter than n)

    Shape: tokenize -> multiplicity n-grams -> (doc, gram) partial-agg ->
    gram doc-freq agg -> inner join of the (small) duplicated-gram set
    back onto the pairs -> per-doc sum. The (doc, gram) pair frame feeds
    BOTH the doc-freq agg and the final join, so it is persist_tracked
    (the same DAG-reuse valve as the capped Jaccard path). With
    hashed=True (the 100 TB default) grams collapse to 64-bit xxhash64
    BEFORE the first exchange — shuffle bytes are 8/gram instead of raw
    n-token strings; collision odds ~k²/2⁶⁵ are noise. hashed=False keeps
    raw gram strings for engine-portable hash parity (the shadow-oracle
    path; semantically identical absent collisions, pinned by pytest).
    """
    toked = spread_small_input(df).select(
        F.col(id_col).alias("doc_id"),
        tokens(F.col(text_col)).alias("__toks"),
    )
    gram = F.explode(text_ngram_list(F.col("__toks"), n)).alias("g")
    pairs = toked.select("doc_id", gram)
    if hashed:
        pairs = pairs.select("doc_id", F.xxhash64("g").alias("g"))
    pairs = persist_tracked(
        pairs.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
    )
    dup_grams = (
        pairs.groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= 2)
        .select("g")
    )
    dup_counts = (
        pairs.join(dup_grams, "g")
        .groupBy("doc_id")
        .agg(F.sum("c").alias("n_dup_spans"))
    )
    spans = toked.select(
        "doc_id",
        F.greatest(F.size("__toks") - F.lit(n - 1), F.lit(0))
        .cast("long")
        .alias("n_spans"),
    )
    return spans.join(dup_counts, "doc_id", "left").select(
        "doc_id",
        "n_spans",
        F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias("n_dup_spans"),
        F.when(
            F.col("n_spans") > 0,
            F.round(F.coalesce("n_dup_spans", F.lit(0)) / F.col("n_spans"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_span_ratio"),
    )


def levenshtein_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_dist: int = 8,
    prefix_len: int = 12,
    key_len: int = 48,
    max_block: int | None = None,
) -> DataFrame:
    """Blocked edit-distance near-dup pairs: candidate pairs share an exact
    normalized prefix (the BLOCK), and survive if the Levenshtein distance
    between their normalized key strings (first `key_len` chars) is at most
    `max_dist`.  Edit distance catches the near-dup class the set-based
    family (Jaccard/MinHash/SimHash) is weakest on — small in-place
    character edits (typo noise, OCR damage) that leave most shingles
    intact but also matter when shingles are long relative to the edit.

    Blocking is the standard entity-resolution move: Levenshtein is
    O(key_len²) per PAIR, so the all-pairs product must never form.  An
    exact-prefix block admits only pairs whose first `prefix_len`
    normalized chars agree — a deliberate recall trade (an edit inside the
    prefix splits the pair into different blocks; shorten `prefix_len` or
    add a second pass on reversed keys to recover those).  Within a block
    the pair join is a self equi-join on the prefix with `id_a < id_b`.

    `max_block` caps block width the same way `max_doc_freq` caps hot
    shingles in jaccard_pairs: blocks wider than the cap are dropped
    ENTIRELY before the self-join (an anti-join on a counted block list),
    because a viral prefix (boilerplate openers) would otherwise
    reintroduce the quadratic hazard.  Dropped blocks cost recall, not
    correctness, and the cap makes worst-case pair volume
    ≤ max_block² / 2 per block by construction.

    Output: id_a, id_b, dist (long) — one row per surviving pair.

    Shape: narrow normalize/prefix projection → (optional) block-count
    agg + anti-join → one prefix-keyed exchange for the self-join →
    per-pair levenshtein + filter.  The text never shuffles beyond the
    `key_len`-char keys; distance runs JVM-side (built-in levenshtein,
    whole-stage codegen), zero Python.

    Round-11 scale fix (sf1 probe: 39.7× for 10× data before, 3.9×
    after): the block exchange carries an EXPLICIT partition count.
    The key rows are tiny in BYTES (~60 B each) but the in-block pair
    scan is heavy in CPU, and AQE's byte-based coalescing was
    serializing the whole sf1 candidate scan onto the input parquet's
    3 partitions.  A user-numbered repartition is exempt from AQE
    coalescing, and the self-join reuses the one exchange for both
    sides.  (A character-frequency L1 lower-bound prefilter was tried
    and REJECTED: the zip_with/aggregate higher-order functions fall
    out of whole-stage codegen and cost 4× more than the codegen'd
    levenshtein they would prune.)
    """
    key = F.lower(F.trim(F.col(text_col))).substr(1, key_len)
    keyed = df.select(
        F.col(id_col).alias("__id"),
        key.alias("__key"),
        key.substr(1, prefix_len).alias("__blk"),
    ).filter(F.length("__key") > 0)
    if max_block is not None:
        hot = (
            keyed.groupBy("__blk")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > int(max_block))
            .select("__blk")
        )
        keyed = keyed.join(hot, "__blk", "left_anti")
    try:
        _nparts = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
    except ValueError:
        _nparts = 32
    keyed = keyed.repartition(_nparts, "__blk")
    a = keyed.select(
        F.col("__blk"),
        F.col("__id").alias("id_a"),
        F.col("__key").alias("__key_a"),
    )
    b = keyed.select(
        F.col("__blk"),
        F.col("__id").alias("id_b"),
        F.col("__key").alias("__key_b"),
    )
    pairs = a.join(b, "__blk").filter(F.col("id_a") < F.col("id_b"))
    dist = F.levenshtein("__key_a", "__key_b")
    return (
        pairs.filter(dist <= int(max_dist))
        .select("id_a", "id_b", dist.cast("long").alias("dist"))
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints [Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm]: hash every k-gram, then keep the
    MINIMUM hash of each sliding window of `window` consecutive k-gram
    hashes. Guarantee: any shared run of ≥ window+k−1 tokens between two
    documents produces at least one IDENTICAL selected fingerprint —
    local fingerprinting with a density bound (~2/(window+1) of grams
    selected), unlike MinHash (whole-doc similarity, no locality) or
    text_fingerprint (every gram, no sparsification).

    The "hash" is the md5 STRING of the k-gram with lexicographic min —
    deliberately engine-portable (identical in DuckDB), so the whole
    selection is hash-checkable; a production variant would swap in
    xxhash64 for 8-byte fingerprints, changing WHICH grams are selected
    but not the guarantee.

    Output: (doc_id, fp) — distinct selected fingerprints per document.
    Shape: gram posexplode → ONE doc-keyed exchange + in-partition sort
    → ROWS-frame window min + count → start-position filter → distinct.
    The exchange carries (doc_id, pos, 32-byte hash) rows — never text.
    An all-array formulation (transform over sequence of slices) was
    measured 40× slower here: Catalyst inlines the whole
    tokens→grams→md5 array expression into EVERY window's slice (the
    CollapseProject/HOF re-evaluation trap text.gram_join documents),
    turning O(grams·window) into O(grams²·window) work per doc. The
    row-window form evaluates each gram hash exactly once. Empty/short
    docs (< window+k−1 tokens) emit no rows.
    """
    from pyspark.sql import Window as W

    from .text import spread_small_input

    toked = spread_small_input(df).select(
        F.col(id_col).alias("doc_id"),
        tokens(F.col(text_col)).alias("__toks"),
    )
    grams = toked.select(
        "doc_id",
        F.posexplode(text_ngram_list(F.col("__toks"), k)).alias(
            "__pos", "__gram"
        ),
    ).select("doc_id", "__pos", F.md5("__gram").alias("__h"))
    frame = (
        W.partitionBy("doc_id").orderBy("__pos").rowsBetween(0, window - 1)
    )
    whole = W.partitionBy("doc_id")
    wmin = grams.select(
        "doc_id",
        "__pos",
        F.min("__h").over(frame).alias("fp"),
        F.count(F.lit(1)).over(whole).alias("__n"),
    )
    return (
        wmin.filter(F.col("__pos") <= F.col("__n") - window)
        .select("doc_id", "fp")
        .distinct()
    )


def winnow_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
    window: int = 4,
    min_shared: int = 2,
    max_doc_freq: int | None = 20,
) -> DataFrame:
    """Local-overlap candidate pairs from winnowed fingerprints: docs
    sharing ≥ min_shared selected fingerprints — the copied-passage
    detector (quotes, mirrored paragraphs, boilerplate reuse) that
    whole-document Jaccard dilutes away on long documents.

    Same inverted-index discipline as ngram_jaccard_pairs: fingerprints
    hotter than max_doc_freq are dropped BEFORE pair explosion (the f²
    fanout control; a fingerprint shared by 10k docs is boilerplate, not
    plagiarism), bucket member lists explode to ordered (id_a < id_b)
    pairs, one (pair)-keyed count. Output: (id_a, id_b, n_shared).

    Shape: two exchanges total — by fingerprint, then by pair — both
    carrying 32-byte keys + counts, never text.
    """
    fps = winnow_fingerprints(df, text_col, id_col, k=k, window=window)
    buckets = fps.groupBy("fp").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ids")
    )
    if max_doc_freq is not None:
        buckets = buckets.filter(F.size("ids") <= int(max_doc_freq))
    pairs = buckets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ids"),
                    lambda a, i: F.transform(
                        F.slice(
                            F.col("ids"), i + 2, F.size(F.col("ids"))
                        ),
                        lambda b: F.struct(
                            a.alias("id_a"), b.alias("id_b")
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select("p.id_a", "p.id_b")
    return (
        pairs.groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= int(min_shared))
    )


def exact_span_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_len: int = 8,
    k: int = 5,
    window: int = 4,
    min_shared: int = 2,
    max_doc_freq: int | None = 20,
    max_token_freq: int | None = 64,
) -> DataFrame:
    """EXACT longest repeated token span per candidate pair — the precise
    rung above span_dedup's shingle approximation (that docstring names
    this op as the known next step).

    Two layers:

    1. CANDIDATES: winnow_pairs (MOSS) — any pair sharing a run of
       ≥ window+k−1 tokens is guaranteed a shared selected fingerprint,
       so long-overlap pairs cannot be missed; min_shared trims noise.
    2. EXACT SPAN, natively (no Python, no suffix automaton needed in a
       distributed setting): join the two documents' token POSITIONS on
       token equality, group matches by diagonal (pos_a − pos_b) — a
       shared substring is exactly a run of consecutive pos_a on one
       diagonal — and find each diagonal's longest run with the
       gaps-and-islands trick (pos_a − row_number is constant within a
       consecutive run). The per-pair maximum (ties → smallest start_a,
       then start_b) is the longest common substring, EXACT by
       construction, with both start offsets.

    Output: (id_a, id_b, start_a, start_b, span_len), one row per
    candidate pair whose longest exact shared span reaches min_len.
    Token positions are 0-based.

    Completeness contract: spans ≥ window+k−1 tokens are guaranteed to
    surface their pair as a candidate (the winnowing guarantee); the
    reported span for any surfaced pair is exact. Pairs whose overlap
    is shorter than the guarantee may not surface — by design, this is
    a COPIED-PASSAGE detector, not an all-pairs LCS.

    Scale shape: the position join is pair-graph-sized, never
    corpus²-sized — positions attach to the winnow candidate pairs by
    doc-keyed equi-joins, and only (id, pos, token) rows shuffle, never
    documents. The quadratic hazard is a token repeated m× in BOTH
    documents (m² matched positions on m diagonals); max_token_freq
    drops positions of tokens occurring more than the cap times within
    a document (drop_oversized_buckets), bounding per-pair fanout at
    cap² per distinct token — hyper-repeated tokens are boilerplate,
    and runs composed of them are exact-dedup territory, not passage
    reuse. The DuckDB shadow oracle restates BOTH layers verbatim
    (md5 winnowing is engine-portable; the span layer is plain SQL),
    so the whole operator is hash-checkable end to end.
    """
    from pyspark.sql import Window as W

    pairs = winnow_pairs(
        df,
        text_col,
        id_col,
        k=k,
        window=window,
        min_shared=min_shared,
        max_doc_freq=max_doc_freq,
    ).select("id_a", "id_b")
    pos = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokens(F.col(text_col))).alias("p", "tok"),
    )
    if max_token_freq is not None:
        pos = drop_oversized_buckets(pos, ["doc_id", "tok"], max_token_freq)
    a = pos.select(
        F.col("doc_id").alias("id_a"), F.col("p").alias("pa"), "tok"
    )
    b = pos.select(
        F.col("doc_id").alias("id_b"), F.col("p").alias("pb"), "tok"
    )
    matches = pairs.join(a, "id_a").join(b, ["id_b", "tok"]).select(
        "id_a", "id_b", "pa", "pb", (F.col("pa") - F.col("pb")).alias("diag")
    )
    run_w = W.partitionBy("id_a", "id_b", "diag").orderBy("pa")
    islands = matches.withColumn(
        "isl", F.col("pa") - F.row_number().over(run_w)
    )
    runs = islands.groupBy("id_a", "id_b", "diag", "isl").agg(
        F.min("pa").alias("start_a"),
        F.min("pb").alias("start_b"),
        F.count(F.lit(1)).alias("span_len"),
    )
    best_w = W.partitionBy("id_a", "id_b").orderBy(
        F.col("span_len").desc(), F.col("start_a").asc(), F.col("start_b").asc()
    )
    return (
        runs.withColumn("__r", F.row_number().over(best_w))
        .filter((F.col("__r") == 1) & (F.col("span_len") >= int(min_len)))
        .select("id_a", "id_b", "start_a", "start_b", "span_len")
    )


def repeated_spans_within(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_len: int = 8,
    k: int = 5,
    max_token_freq: int | None = 64,
) -> DataFrame:
    """WITHIN-document exact repeated token spans — the internal half of
    Lee et al. 2022's substring dedup (cross-doc half: exact_span_pairs).
    A doc that repeats its own boilerplate internally gets every maximal
    internal repeat ≥ min_len surfaced as (doc_id, start_a, start_b,
    span_len) with start_a < start_b and tokens[start_a, start_a+len) ==
    tokens[start_b, start_b+len) exactly.

    Two layers, both engine-restatable:

    1. CANDIDATE DOCS: a doc qualifies iff some k-gram hash occurs ≥ 2
       times inside it — one doc-keyed partial-combined count over the
       gram table. Any internal exact repeat of length ≥ max(min_len, k)
       contains a repeated k-gram, so the gate is COMPLETE for every
       repeat shape, overlapping tandem runs included. (The round-10
       verdict sketched a winnow self-pair gate instead; winnowing's
       sparsification makes that gate lossy for tandem repeats with
       period < window — e.g. a 2-token phrase echoed five times — so
       the gram-frequency gate is used: strictly more complete, one
       cheap agg, and restated verbatim in DuckDB.)
    2. EXACT SPANS: the doc's token positions self-join on token
       equality with pb > pa — the pair-join of exact_span_pairs with
       both sides the same document — grouped by diagonal (pb − pa),
       gaps-and-islands longest-run per diagonal. A run of length L on
       diagonal d means the text at start_b repeats the text d tokens
       earlier; EVERY maximal run ≥ min_len is emitted (not just the
       per-doc best: each is an independent internal duplication).
       Overlapping occurrences compose correctly: a tandem repeat of
       period p < L surfaces as one run on diagonal p whose cut
       [start_b, start_b+L) leaves exactly the first period — the
       keep-first contract, with no special casing.

    Scale shape: the self-join fans out only inside candidate docs (the
    gate semi-join), and max_token_freq bounds per-token fanout at cap²
    exactly as in exact_span_pairs — hyper-repeated single tokens are
    exact-dedup territory. Only (doc_id, pos, token) rows shuffle,
    never text; everything is doc-keyed, so the exchange count does not
    grow with corpus size. Zero Python.
    """
    from pyspark.sql import Window as W

    toked = df.select(
        F.col(id_col).alias("doc_id"),
        tokens(F.col(text_col)).alias("__toks"),
    )
    grams = toked.select(
        "doc_id",
        F.explode(text_ngram_list(F.col("__toks"), k)).alias("__gram"),
    ).select("doc_id", F.md5("__gram").alias("__h"))
    cand = (
        grams.groupBy("doc_id", "__h")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") >= 2)
        .select("doc_id")
        .distinct()
    )
    pos = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokens(F.col(text_col))).alias("p", "tok"),
    )
    if max_token_freq is not None:
        pos = drop_oversized_buckets(pos, ["doc_id", "tok"], max_token_freq)
    pos = pos.join(cand, "doc_id", "left_semi")
    a = pos.select("doc_id", F.col("p").alias("pa"), "tok")
    b = pos.select("doc_id", F.col("p").alias("pb"), "tok")
    matches = (
        a.join(b, ["doc_id", "tok"])
        .filter(F.col("pb") > F.col("pa"))
        .select(
            "doc_id", "pa", "pb", (F.col("pb") - F.col("pa")).alias("diag")
        )
    )
    run_w = W.partitionBy("doc_id", "diag").orderBy("pa")
    islands = matches.withColumn(
        "isl", F.col("pa") - F.row_number().over(run_w)
    )
    return (
        islands.groupBy("doc_id", "diag", "isl")
        .agg(
            F.min("pa").alias("start_a"),
            F.min("pb").alias("start_b"),
            F.count(F.lit(1)).alias("span_len"),
        )
        .filter(F.col("span_len") >= int(min_len))
        .select("doc_id", "start_a", "start_b", "span_len")
    )


def remove_repeated_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_len: int = 8,
    k: int = 5,
    window: int = 4,
    min_shared: int = 2,
    max_doc_freq: int | None = 20,
    max_token_freq: int | None = 64,
    within_doc: bool = False,
) -> DataFrame:
    """Corpus-level repeated-span REMOVAL — the actual dedup TRANSFORM of
    Lee et al. 2022's substring method (the step span_dedup/
    exact_span_pairs only MEASURE): every surfaced cross-doc duplicated
    span is excised from all-but-one occurrence and the cleaned corpus is
    re-emitted.

    Policy (deterministic, engine-restatable): for each candidate pair
    (id_a < id_b) whose longest exact shared span reaches `min_len`
    (exact_span_pairs — winnow candidates, diagonal gaps-and-islands
    exact span), the span is CUT from the HIGHER-id member at
    [start_b, start_b + span_len); the lower-id member keeps its copy.
    Chains compose: in an m-doc clique every member except the smallest
    id gets cut, so exactly one occurrence survives. A doc cut by
    several pairs loses the union of its cut intervals — overlap is
    handled by the per-token interval test, no interval merge pass
    needed.

    One PASS removes each pair's LONGEST shared span (that is
    exact_span_pairs' per-pair contract); corpora with several disjoint
    long duplicated spans per pair converge by re-running the transform
    on its own output — each pass is one more winnow+span round, the
    distributed analog of suffix-array multi-hit extraction.

    `within_doc=True` (opt-in) additionally excises INTERNAL repeats:
    every maximal within-document repeated span ≥ min_len found by
    repeated_spans_within loses its later occurrence — the same
    keep-first policy applied inside one document, completing Lee et
    al.'s substring dedup (their suffix-array treats both cases; the
    default here stays cross-doc-only so the hash-pinned single-pass
    plan shape is unchanged). The two cut lists simply union: the
    per-token interval test already handles overlap between a cross-doc
    cut and an internal one.

    Output: (doc_id, <text_col>, n_removed) — every input doc re-emitted.
    Uncut docs keep their text VERBATIM (n_removed = 0); cut docs are
    rebuilt from their kept tokens joined by single spaces (whitespace
    inside a cut doc normalizes — the same canonical form the token
    positions are defined over).

    Shape: the span search is exact_span_pairs' shape unchanged; the cut
    application adds ONE doc-keyed aggregation of the pair-sized cut
    list and ONE doc-keyed left join onto the corpus, then a narrow
    higher-order-function rebuild (filter-with-index + exists over the
    per-doc cut array) — no posexplode of the corpus, no second corpus
    exchange, zero Python. Fully SQL-expressible → hash-checkable
    against a DuckDB restatement (UNNEST-with-ordinality + anti-range
    semantics restate filter/exists exactly).
    """
    spans = exact_span_pairs(
        df,
        text_col,
        id_col,
        min_len=min_len,
        k=k,
        window=window,
        min_shared=min_shared,
        max_doc_freq=max_doc_freq,
        max_token_freq=max_token_freq,
    )
    cuts = spans.select(
        F.col("id_b").alias("doc_id"),
        F.col("start_b").alias("lo"),
        (F.col("start_b") + F.col("span_len") - 1).alias("hi"),
    )
    if within_doc:
        internal = repeated_spans_within(
            df,
            text_col,
            id_col,
            min_len=min_len,
            k=k,
            max_token_freq=max_token_freq,
        )
        cuts = cuts.unionByName(
            internal.select(
                "doc_id",
                F.col("start_b").alias("lo"),
                (F.col("start_b") + F.col("span_len") - 1).alias("hi"),
            )
        )
    cut_lists = cuts.groupBy("doc_id").agg(
        F.sort_array(F.collect_list(F.struct("lo", "hi"))).alias("__cuts")
    )
    base = df.select(F.col(id_col).alias("doc_id"), F.col(text_col))
    joined = base.join(cut_lists, "doc_id", "left")
    toks = tokens(F.col(text_col))
    kept = F.filter(
        toks,
        lambda t, i: ~F.exists(
            F.col("__cuts"),
            lambda c: (i >= c["lo"]) & (i <= c["hi"]),
        ),
    )
    cleaned = F.when(F.col("__cuts").isNull(), F.col(text_col)).otherwise(
        F.array_join(kept, " ")
    )
    n_removed = F.when(
        F.col("__cuts").isNull(), F.lit(0)
    ).otherwise(F.size(toks) - F.size(kept))
    return joined.select(
        "doc_id",
        cleaned.alias(text_col),
        n_removed.cast("long").alias("n_removed"),
    )


def remove_repeated_spans_iterated(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_passes: int = 3,
    min_len: int = 8,
    **kwargs,
) -> DataFrame:
    """remove_repeated_spans run to CONVERGENCE — each pass excises every
    pair's longest shared span, so a corpus whose pairs share SEVERAL
    disjoint long spans needs one pass per span rank (the single-pass
    contract documents this; here it is made executable).

    Driver-side loop of fully lazy passes: after each pass the
    accumulated corpus is persisted, ONE scalar agg over that persisted
    frame reads the cumulative Σ n_removed (materializing the cache in
    the same job), and the pass's own contribution is the delta against
    the previous cumulative total — so each pass's winnow+span search
    (the dominant cost) executes exactly once, feeding both the
    convergence check and the next pass from the cache. The loop stops
    at a zero delta or at `max_passes` (a cap, not a target — real
    corpora converge in 1-2 passes because winnow candidates need
    ≥ window+k−1 token overlap). `n_removed` accumulates ACROSS passes,
    so mass conservation holds for the composition exactly as for one
    pass.

    At 100 TB: each pass costs one winnow+span search; the convergence
    check is a 1-row aggregate, not a collect of data. Prefer the
    single-pass form inside fixed-shape pipelines (its oracle is
    hash-checked); use this wrapper for offline corpus releases where
    full excision matters more than plan fixity.
    """
    from ..caching import persist_tracked

    cur = df.select(F.col(id_col).alias("doc_id"), text_col).withColumn(
        "n_removed", F.lit(0).cast("long")
    )
    prev_total = 0
    for _ in range(max(int(max_passes), 1)):
        cleaned = remove_repeated_spans(
            cur, text_col, "doc_id", min_len=min_len, **kwargs
        )
        nxt = persist_tracked(
            cleaned.join(
                cur.select("doc_id", F.col("n_removed").alias("__prev")),
                "doc_id",
            ).select(
                "doc_id",
                text_col,
                (F.col("n_removed") + F.col("__prev")).alias("n_removed"),
            )
        )
        # read the cumulative total from the PERSISTED frame — this
        # materializes the cache and yields the pass delta without a
        # second execution of the pass's span search (the unpersisted
        # `cleaned` would replay winnow+span once for the check and
        # again when the next pass reads nxt)
        total = int(nxt.agg(F.sum("n_removed")).first()[0] or 0)
        cur = nxt
        if total - prev_total == 0:
            break
        prev_total = total
    return cur
