"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes
byte-identical parquet files. Outputs are cached under a directory keyed by
the generator version and seed, so a run only pays for generation the first
time it sees a seed, and generation is never inside a timed region.

Each generator also writes `properties.json` next to its files: the input
properties the workload was chosen for (observations per pair, dirty-dim
rates, day count, near-duplicate fraction, PII rate), measured on the
generated data rather than restated from the parameters.
"""

from __future__ import annotations

import json
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when any generator's output changes, so stale caches are not reused.
VERSION = 4

# Scale. A real PriceCatcher month has ~2M price rows over ~3k premises and
# ~800 items, each (premise, item) pair observed several times in the month.
# The premise and item counts are kept; the items each premise sells are cut
# to ~10 (a real premise reports on the order of 100), which scales the month
# down to ~1/11 (~180k rows) so a build fits a few times into one run. The
# observations per pair (1 + Poisson(OBS_EXTRA), ~6) are kept at the full-scale
# ratio of 2M rows over ~300k pairs, so dedup keeps the same share (~1/6) of
# the rows it would keep on a real month.
MONTH = "2024-01"
DAYS = 30
N_PREMISES = 3000
N_ITEMS = 800
ITEMS_PER_PREMISE = (5, 15)  # uniform range, inclusive-exclusive
OBS_EXTRA = 5.0
N_STATES = 16
N_DISTRICTS = 64
N_ITEM_GROUPS = 5
N_JUNK_PREMISES = 5  # rows whose premise_code is NULL: the cleanse skips them
BASE_DAYS = 20  # daily_topup: days drained into the base artifact at set-up

PREMISE_TYPES = ["Pasar Raya", "Kedai Runcit", "Pasar Basah", "Hypermarket",
                 "Kedai Serbaneka", "Stesen Minyak"]
UNITS = ["1kg", "500g", "1l", "500ml", "1 biji", "10 biji", "1 ekor",
         "400g", "2kg", "1 tin"]

CORPUS_DOCS = 500
CORPUS_SOURCES = {"web": 0.6, "books": 0.3, "code": 0.1}
NEARDUP_FRAC = 0.10
EXACTDUP_FRAC = 0.03
PII_RATE = 0.05
CONTAMINATED_FRAC = 0.01
STOPWORDS = ["the", "a", "of", "and", "to", "in", "is"]


def _publish(tmp: Path, final: Path) -> Path:
    """Move a fully written directory into place; a concurrent or crashed
    writer never leaves a half-written cache entry behind."""
    if final.exists():
        shutil.rmtree(tmp)
    else:
        tmp.replace(final)
    return final


def _entry(cache_dir: Path, kind: str, seed: int) -> tuple[Path, Path | None]:
    final = cache_dir / f"{kind}-v{VERSION}-s{seed}"
    if (final / "properties.json").is_file():
        return final, None
    tmp = cache_dir / f".{final.name}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    return final, tmp


def _padded(rng: np.random.Generator, values: list[str], pad_rate: float) -> list[str]:
    pad = rng.random(len(values)) < pad_rate
    return [f"  {v} " if p else v for v, p in zip(values, pad)]


def _nulled(rng: np.random.Generator, values: list, null_rate: float) -> list:
    null = rng.random(len(values)) < null_rate
    return [None if n else v for v, n in zip(values, null)]


def month_trio(cache_dir: Path, seed: int) -> Path:
    """The raw PriceCatcher trio for one month, served as
    `<dir>/pricecatcher/{pricecatcher_<month>,lookup_premise,lookup_item}.parquet`,
    plus the same month's prices split into one file per day under
    `<dir>/days/`. Dims carry the dirty data of FIXTURES.md section A:
    float-typed premise codes (some needing rounding), NULL codes that the
    cleanse must skip, NULL strings, padded strings."""
    final, tmp = _entry(Path(cache_dir), "month", seed)
    if tmp is None:
        return final
    rng = np.random.default_rng([seed, 1])

    # --- dims -----------------------------------------------------------
    district_state = rng.integers(0, N_STATES, N_DISTRICTS)
    prem_district = rng.integers(0, N_DISTRICTS, N_PREMISES)
    codes = np.arange(1, N_PREMISES + 1, dtype=np.float64)
    off = rng.random(N_PREMISES)
    codes = codes + np.where(off < 0.01, 0.4, np.where(off < 0.02, -0.4, 0.0))
    prem_codes = list(codes) + [None] * N_JUNK_PREMISES
    n_prem_rows = N_PREMISES + N_JUNK_PREMISES
    states = [f"State {int(district_state[d]):02d}" for d in prem_district]
    districts = [f"District {int(d):02d}" for d in prem_district]
    junk = ["Ghost"] * N_JUNK_PREMISES
    premises = pa.table({
        "premise_code": pa.array(prem_codes, pa.float64()),
        "premise": _nulled(rng, _padded(rng, [f"Kedai {i}" for i in range(N_PREMISES)] + junk, 0.1), 0.02),
        "address": _nulled(rng, _padded(rng, [f"{i} Jalan {i % 97}" for i in range(n_prem_rows)], 0.1), 0.05),
        "premise_type": _nulled(rng, _padded(rng, [PREMISE_TYPES[i] for i in rng.integers(0, len(PREMISE_TYPES), n_prem_rows)], 0.05), 0.01),
        "state": _nulled(rng, _padded(rng, states + junk, 0.05), 0.01),
        "district": _nulled(rng, _padded(rng, districts + junk, 0.05), 0.02),
    })
    items = pa.table({
        "item_code": pa.array([str(i) for i in range(1, N_ITEMS + 1)]),
        "item": _nulled(rng, _padded(rng, [f"Barang {i}" for i in range(1, N_ITEMS + 1)], 0.1), 0.01),
        "unit": _nulled(rng, [UNITS[i] for i in rng.integers(0, len(UNITS), N_ITEMS)], 0.01),
        "item_group": _nulled(rng, [f"Group {i}" for i in rng.integers(0, N_ITEM_GROUPS, N_ITEMS)], 0.01),
        "item_category": _nulled(rng, [f"Category {i:02d}" for i in rng.integers(0, 20, N_ITEMS)], 0.01),
    })

    # --- facts: each premise sells a popularity-skewed subset of items ------
    popularity = 1.0 / np.arange(1, N_ITEMS + 1) ** 0.8
    popularity /= popularity.sum()
    per_premise = rng.integers(*ITEMS_PER_PREMISE, N_PREMISES)
    pair_prem, pair_item = [], []
    for p, k in enumerate(per_premise):
        chosen = rng.choice(N_ITEMS, size=int(k), replace=False, p=popularity)
        pair_prem.append(np.full(int(k), p + 1))
        pair_item.append(chosen + 1)
    pair_prem = np.concatenate(pair_prem)
    pair_item = np.concatenate(pair_item)
    n_pairs = len(pair_prem)
    obs = 1 + rng.poisson(OBS_EXTRA, n_pairs)
    row_prem = np.repeat(pair_prem, obs)
    row_item = np.repeat(pair_item, obs)
    day = rng.integers(0, DAYS, len(row_prem))
    # a same-day second observation with another price for ~1% of pairs:
    # exercises the price tie-break of the champion rule
    dup = rng.random(n_pairs) < 0.01
    dup_idx = np.flatnonzero(dup)
    first_row = np.concatenate([[0], np.cumsum(obs)[:-1]])[dup_idx]
    row_prem = np.concatenate([row_prem, pair_prem[dup_idx]])
    row_item = np.concatenate([row_item, pair_item[dup_idx]])
    day = np.concatenate([day, day[first_row]])
    minute = rng.integers(6 * 60, 22 * 60, len(row_prem))
    base_price = rng.uniform(0.5, 100.0, N_ITEMS + 1)
    price = np.round(base_price[row_item] * rng.uniform(0.8, 1.2, len(row_prem)), 2)
    order = np.lexsort((minute, day))  # files are written in time order
    row_prem, row_item, day, minute, price = (
        a[order] for a in (row_prem, row_item, day, minute, price)
    )
    start = np.datetime64(f"{MONTH}-01T00:00", "us")
    ts = start + day.astype("timedelta64[D]") + minute.astype("timedelta64[m]")
    prices = pa.table({
        "date": pa.array(ts, pa.timestamp("us")),
        "premise_code": pa.array(row_prem.astype(str)),
        "item_code": pa.array(row_item.astype(str)),
        "price": pa.array([f"{x:.2f}" for x in price]),
    })

    served = tmp / "pricecatcher"
    served.mkdir()
    pq.write_table(prices, served / f"pricecatcher_{MONTH}.parquet")
    pq.write_table(premises, served / "lookup_premise.parquet")
    pq.write_table(items, served / "lookup_item.parquet")
    days_dir = tmp / "days"
    days_dir.mkdir()
    bounds = np.searchsorted(day, np.arange(DAYS + 1))
    for d in range(DAYS):
        pq.write_table(
            prices.slice(bounds[d], bounds[d + 1] - bounds[d]),
            days_dir / f"prices_{MONTH}-{d + 1:02d}.parquet",
        )

    def null_rate(col: str) -> float:
        return round(premises.column(col).null_count / premises.num_rows, 4)

    props = {
        "month": MONTH,
        "days": DAYS,
        "base_days": BASE_DAYS,
        "price_rows": prices.num_rows,
        "pairs": n_pairs,
        "obs_per_pair": round(prices.num_rows / n_pairs, 3),
        "same_day_dup_pairs": int(dup.sum()),
        "premises_rows": premises.num_rows,
        "premises_skipped_null_code": N_JUNK_PREMISES,
        "premises_rounded_codes": int((off < 0.02).sum()),
        "premise_null_rates": {c: null_rate(c) for c in ("premise", "address", "premise_type", "state", "district")},
        "items_rows": items.num_rows,
        "item_null_rate": round(items.column("item").null_count / items.num_rows, 4),
        "rows_per_day": [int(b - a) for a, b in zip(bounds[:-1], bounds[1:])],
    }
    (tmp / "properties.json").write_text(json.dumps(props, indent=1))
    return _publish(tmp, final)


def _sentence(rng: np.random.Generator, vocab: np.ndarray, n: int) -> list[str]:
    words = list(vocab[rng.integers(0, len(vocab), n)])
    for pos in np.flatnonzero(rng.random(n) < 0.4):
        words[pos] = STOPWORDS[rng.integers(0, len(STOPWORDS))]
    return words


def corpus(cache_dir: Path, seed: int) -> Path:
    """A `(doc_id, source, text)` corpus at `<dir>/docs.parquet` with a
    stated near-duplicate fraction, exact-duplicate fraction, PII rate and
    source mix. Docs whose doc_id % 97 == 0 are the eval holdout (the
    `--prepare-corpus` default); a few candidates copy a passage of a
    holdout doc so decontamination has work to do."""
    final, tmp = _entry(Path(cache_dir), "corpus", seed)
    if tmp is None:
        return final
    rng = np.random.default_rng([seed, 2])
    vocab = np.array([f"w{i}" for i in range(4000)])
    names = list(CORPUS_SOURCES)
    sources = rng.choice(len(names), CORPUS_DOCS, p=list(CORPUS_SOURCES.values()))
    texts: list[str] = []
    kinds = {"neardup": 0, "exactdup": 0, "pii": 0, "contaminated": 0}
    for i in range(CORPUS_DOCS):
        u = rng.random()
        if i > 10 and u < NEARDUP_FRAC:
            words = texts[int(rng.integers(0, i))].split()
            for pos in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[pos] = str(vocab[rng.integers(0, len(vocab))])
            kinds["neardup"] += 1
        elif i > 10 and u < NEARDUP_FRAC + EXACTDUP_FRAC:
            words = texts[int(rng.integers(0, i))].split()
            kinds["exactdup"] += 1
        else:
            words = _sentence(rng, vocab, int(rng.integers(60, 140)))
        if rng.random() < PII_RATE:
            words.insert(int(rng.integers(0, len(words))), f"user{i}@mail{i % 7}.com")
            words.insert(int(rng.integers(0, len(words))), f"+60-{100 + i % 900}-{1000 + i % 9000}")
            kinds["pii"] += 1
        texts.append(" ".join(words))
    holdout = [i for i in range(CORPUS_DOCS) if i % 97 == 0]
    for i in rng.choice(CORPUS_DOCS, int(CORPUS_DOCS * CONTAMINATED_FRAC), replace=False):
        if i % 97 == 0:
            continue
        src = texts[holdout[int(rng.integers(0, len(holdout)))]].split()
        texts[i] = texts[i] + " " + " ".join(src[:12])
        kinds["contaminated"] += 1
    table = pa.table({
        "doc_id": pa.array(np.arange(CORPUS_DOCS, dtype=np.int64)),
        "source": pa.array([names[s] for s in sources]),
        "text": pa.array(texts),
    })
    pq.write_table(table, tmp / "docs.parquet")
    props = {
        "docs": CORPUS_DOCS,
        "holdout_docs": len(holdout),
        "source_mix": {n: round(float((sources == k).mean()), 4) for k, n in enumerate(names)},
        "neardup_frac": round(kinds["neardup"] / CORPUS_DOCS, 4),
        "exactdup_frac": round(kinds["exactdup"] / CORPUS_DOCS, 4),
        "pii_rate": round(kinds["pii"] / CORPUS_DOCS, 4),
        "contaminated_frac": round(kinds["contaminated"] / CORPUS_DOCS, 4),
    }
    (tmp / "properties.json").write_text(json.dumps(props, indent=1))
    return _publish(tmp, final)
