"""The composed end-to-end PriceCatcher pipeline — the reference's product.

Reference: main() at /root/reference/src/main.rs:159-328. Stages, in order:

1. catalog discovery → month keys          (src/main.rs:68-93)
2. month selection (--latest / pick)       (src/main.rs:169-189)
3. fetch 3 parquets through the cache      (src/main.rs:214-239)
4. early exit when every source was fresh  (src/main.rs:241-244)
5. cleanse-load the three tables           (src/main.rs:21-58,247-249)
6. flagship latest-per-(premise,item)      (src/main.rs:252-278)
7. SQLite artifact + index DDL             (src/main.rs:192-208,280-311)
8. zip packaging                           (src/main.rs:312-325)
9. ship gate, then publish .db and .zip    (no counterpart: the reference
                                           overwrites its outputs in place)

Spark-first differences: the load+cleanse+dedup is ONE lazy DataFrame plan
per table (no per-row inserts, no collect-and-reinsert round trip); indexes
are created after load, not before; the early-exit uses status code 0
semantics (the reference exits 1 — a failure code — on success).

Everything network-y is injectable so the whole pipeline unit-tests offline
(tests/test_pipeline.py drives it on a synthetic fixture trio and checks
the produced .db against a DuckDB oracle of the same transform).
"""

from __future__ import annotations

import logging
import os
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import cleanse, dedup
from ..schemas import (
    PRICECATCHER_ITEMS,
    PRICECATCHER_PREMISES,
    PRICECATCHER_PRICES,
)
from ..sinks.sqlite import (
    REFERENCE_INDEXES,
    index_name,
    verify_sqlite_artifact,
    write_sqlite,
)
from ..sinks.zipsink import zip_artifact
from ..sources.cache import SourceCache, pricecatcher_urls
from ..sources.catalog import discover_months, pick_month
from ..sources.parquet import _verify_schema

log = logging.getLogger(__name__)


@dataclass
class PipelineResult:
    month: str
    skipped: bool  # all sources fresh → nothing rebuilt (src/main.rs:241-244)
    db_path: Path | None = None
    zip_path: Path | None = None
    row_counts: dict[str, int] = field(default_factory=dict)


# --- stage 5: cleanse-load (the reference's push_* handlers, columnar) --------


def cleanse_prices(raw: DataFrame) -> DataFrame:
    """push_price (src/main.rs:21-28): date→'YYYY-MM-DD' string, strict i64
    codes, strict f64 price. Strict = ANSI cast, which throws on malformed
    input exactly where the reference unwrap-panics."""
    return raw.select(
        cleanse.trim_str(cleanse.date_trunc10("date")).alias("date"),
        cleanse.cast_strict_long("premise_code").alias("premise_code"),
        cleanse.cast_strict_long("item_code").alias("item_code"),
        cleanse.cast_strict_double("price").alias("price"),
    )


def cleanse_premises(raw: DataFrame) -> DataFrame:
    """push_premise (src/main.rs:30-46): premise_code parses permissively as
    f64→round→i64, rows that fail to parse are SKIPPED (src/main.rs:44);
    every string dimension is null→'UNKNOWN' then trimmed."""
    code = cleanse.round_f64_to_i64("premise_code")
    return raw.select(
        code.alias("premise_code"),
        cleanse.clean_string("premise").alias("premise"),
        cleanse.clean_string("address").alias("address"),
        cleanse.clean_string("premise_type").alias("premise_type"),
        cleanse.clean_string("state").alias("state"),
        cleanse.clean_string("district").alias("district"),
    ).filter(F.col("premise_code").isNotNull())


def cleanse_items(raw: DataFrame) -> DataFrame:
    """push_item (src/main.rs:48-58): strict i64 key, cleansed strings."""
    return raw.select(
        cleanse.cast_strict_long("item_code").alias("item_code"),
        cleanse.clean_string("item").alias("item"),
        cleanse.clean_string("unit").alias("unit"),
        cleanse.clean_string("item_group").alias("item_group"),
        cleanse.clean_string("item_category").alias("item_category"),
    )


def build_tables(
    spark: SparkSession,
    prices_path: str | Path,
    premises_path: str | Path,
    items_path: str | Path,
) -> dict[str, DataFrame]:
    """Paths → the three cleansed output tables, with the flagship dedup
    applied to prices. Pure lazy plans — nothing executes until the sink.

    The dimension keys carry the reference's UNIQUE INDEX contract
    (src/main.rs:198,204). write_sqlite enforces it when it builds those
    indexes, so a duplicate or NULL key aborts build_artifact like the
    reference's insert unwrap (src/main.rs:42,57).

    Each file's column names/order are verified against the declared
    PRICECATCHER_* contract before any transform — the reference reads
    columns by POSITION with schemas living only in comments
    (src/main.rs:20,30,48), so an upstream reorder would silently corrupt
    its output; here it aborts loudly at plan time. Source value types stay
    file-native (codes often arrive as strings/floats); the cleanse stack
    owns the casts to the contract types.
    """
    prices_raw = spark.read.parquet(str(prices_path))
    premises_raw = spark.read.parquet(str(premises_path))
    items_raw = spark.read.parquet(str(items_path))
    _verify_schema(PRICECATCHER_PRICES, prices_raw.schema, "prices")
    _verify_schema(PRICECATCHER_PREMISES, premises_raw.schema, "premises")
    _verify_schema(PRICECATCHER_ITEMS, items_raw.schema, "items")
    prices = cleanse_prices(prices_raw)
    premises = cleanse_premises(premises_raw)
    items = cleanse_items(items_raw)
    # Flagship (src/main.rs:252-278), deterministic semantics: max date per
    # (premise_code, item_code), price as the documented tie-break.
    latest = dedup.latest_per_group_maxby(
        prices, ["premise_code", "item_code"], "date", tiebreak_cols=["price"]
    )
    return {"prices": latest, "premises": premises, "items": items}


def build_artifact(
    tables: dict[str, DataFrame],
    out_dir: str | Path,
    month: str,
) -> tuple[Path, Path, dict[str, int]]:
    """Tables → pricecatcher_{month}.db (+ reference index DDL) →
    pricecatcher.zip. Returns (db, zip, row counts).

    Both files are written under temporary names in out_dir and pass the
    ship gate (row counts as inserted, the nine reference indexes,
    integrity_check) before they replace the published pair, .db first.
    A build that fails at any step leaves the last good .db and .zip as
    they were.
    """
    out_dir = Path(out_dir)
    db = out_dir / f"pricecatcher_{month}.db"
    z = out_dir / "pricecatcher.zip"
    tmp_db, tmp_zip = (p.with_name(f".{p.name}.{os.getpid()}.tmp") for p in (db, z))
    try:
        counts = write_sqlite(tables, tmp_db, indexes=REFERENCE_INDEXES)
        names = [
            index_name(t, c) for t, specs in REFERENCE_INDEXES.items() for c, _ in specs
        ]
        gate = verify_sqlite_artifact(str(tmp_db), counts, names)
        if not gate["ok"]:
            raise RuntimeError(f"artifact failed its ship gate: {gate}")
        zip_artifact(tmp_db, tmp_zip, arcname="pricecatcher.db")
        os.replace(tmp_db, db)
        os.replace(tmp_zip, z)
    finally:
        tmp_db.unlink(missing_ok=True)
        tmp_zip.unlink(missing_ok=True)
    return db, z, counts


def run_pipeline(
    spark: SparkSession,
    out_dir: str | Path,
    cache_dir: str | Path,
    month: str | None = None,
    latest: bool = True,
    base_url: str = "https://storage.data.gov.my",
    catalog_fetch=None,
    force: bool = False,
) -> PipelineResult:
    """The full reference main(): catalog → cache → early-exit → build.

    month=None discovers the catalog and picks (latest or interactive is a
    CLI concern — here latest). catalog_fetch is injectable for tests.
    force=True rebuilds even when every source was a cache hit.
    """
    if month is None:
        months = discover_months(fetch=catalog_fetch)
        month = pick_month(months, latest=latest)
    cache = SourceCache(cache_dir)
    paths, all_fresh = cache.get_all(pricecatcher_urls(month, base=base_url))
    if all_fresh and not force:
        log.info("Data up-to-date — skipping rebuild (src/main.rs:241-244)")
        return PipelineResult(month=month, skipped=True)
    tables = build_tables(
        spark,
        prices_path=paths[f"pricecatcher_{month}.parquet"],
        premises_path=paths["lookup_premise.parquet"],
        items_path=paths["lookup_item.parquet"],
    )
    db, z, counts = build_artifact(tables, out_dir, month)
    return PipelineResult(
        month=month, skipped=False, db_path=db, zip_path=z, row_counts=counts
    )
