"""The composed end-to-end PriceCatcher pipeline — the reference's product.

Reference: main() at /root/reference/src/main.rs:159-328. Stages, in order:

1. catalog discovery → month keys          (src/main.rs:68-93; the CLI,
                                           __main__.py, before run_pipeline)
2. month selection (--latest / pick)       (src/main.rs:169-189; the CLI)
3. fetch 3 parquets through the cache      (src/main.rs:214-239)
4. early exit when the published .db and   (src/main.rs:241-244, which
   .zip are both newer than every cached   exits when every download
   source (make's rule)                    was a cache hit instead)
5. cleanse-load the three tables           (src/main.rs:21-58,247-249)
6. flagship latest-per-(premise,item)      (src/main.rs:252-278)
7. SQLite artifact + index DDL             (src/main.rs:192-208,280-311)
8. zip packaging                           (src/main.rs:312-325)
9. ship gate, then publish .db and .zip    (no counterpart: the reference
                                           overwrites its outputs in place)

Spark-first differences: the load+cleanse+dedup is ONE lazy DataFrame plan
per table (no per-row inserts, no collect-and-reinsert round trip); indexes
are created after load, not before; the early exit looks at what was
published, not at what was downloaded, and uses status code 0 semantics
(the reference exits 1 — a failure code — on success).

Everything network-y is injectable so the whole pipeline unit-tests offline
(tests/test_pipeline.py drives it on a synthetic fixture trio and checks
the produced .db against a DuckDB oracle of the same transform).
"""

from __future__ import annotations

import logging
import os
from collections.abc import Iterable
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..operators import cleanse, dedup
from ..schemas import (
    PRICECATCHER_ITEMS,
    PRICECATCHER_PREMISES,
    PRICECATCHER_PRICES,
)
from ..sinks.sqlite import verify_sqlite_artifact, write_sqlite
from ..sinks.zipsink import zip_artifact
from ..sources.cache import SourceCache, pricecatcher_urls
from ..sources.parquet import _verify_schema, footer_schema

log = logging.getLogger(__name__)


@dataclass
class PipelineResult:
    month: str
    skipped: bool  # published pair newer than every source → nothing rebuilt
    db_path: Path | None = None
    zip_path: Path | None = None
    row_counts: dict[str, int] = field(default_factory=dict)


# --- stage 5: cleanse-load (the reference's push_* handlers, columnar) --------


def cleanse_prices(raw: DataFrame) -> DataFrame:
    """push_price (src/main.rs:21-28): date→'YYYY-MM-DD' string, strict i64
    codes, strict f64 price. Strict = ANSI cast, which throws on malformed
    input exactly where the reference unwrap-panics.

    A NULL key fails the run too (the reference's unwrap panics on it): the
    cast passes NULL through, max_by would keep one row per NULL-keyed
    group, and SQLite's UNIQUE index treats NULLs as distinct, so the
    top-up's ON CONFLICT would append such a row on every replay."""

    def key(name: str):
        code = cleanse.cast_strict_long(name)
        return F.when(
            code.isNull(), F.raise_error(F.lit(f"NULL {name} in prices"))
        ).otherwise(code).alias(name)

    return raw.select(
        cleanse.trim_str(cleanse.date_trunc10("date")).alias("date"),
        key("premise_code"),
        key("item_code"),
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

    Each file's schema comes from its parquet footer, read on the driver
    (sources.parquet.footer_schema), and is handed to spark.read.schema, so
    planning runs no Spark job. Its column names/order are verified against
    the declared PRICECATCHER_* contract before any transform — the
    reference reads columns by POSITION with schemas living only in
    comments (src/main.rs:20,30,48), so an upstream reorder would silently
    corrupt its output; here it aborts loudly at plan time. Source value
    types stay file-native (codes often arrive as strings/floats); the
    cleanse stack owns the casts to the contract types.
    """
    ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") == "true"

    def read(path: str | Path, declared: StructType, table: str) -> DataFrame:
        schema = footer_schema(path, prefer_timestamp_ntz=ntz)
        _verify_schema(declared, schema, table)
        return spark.read.schema(schema).parquet(str(path))

    prices_raw = read(prices_path, PRICECATCHER_PRICES, "prices")
    premises_raw = read(premises_path, PRICECATCHER_PREMISES, "premises")
    items_raw = read(items_path, PRICECATCHER_ITEMS, "items")
    prices = cleanse_prices(prices_raw)
    premises = cleanse_premises(premises_raw)
    items = cleanse_items(items_raw)
    # Flagship (src/main.rs:252-278), deterministic semantics: max date per
    # (premise_code, item_code), price as the documented tie-break.
    latest = dedup.latest_per_group_maxby(
        prices, ["premise_code", "item_code"], "date", tiebreak_cols=["price"]
    )
    return {"prices": latest, "premises": premises, "items": items}


def published_pair(out_dir: str | Path, month: str) -> tuple[Path, Path]:
    """The two files a month build publishes: (.db, .zip)."""
    out_dir = Path(out_dir)
    return out_dir / f"pricecatcher_{month}.db", out_dir / "pricecatcher.zip"


def build_artifact(
    tables: dict[str, DataFrame],
    out_dir: str | Path,
    month: str,
) -> tuple[Path, Path, dict[str, int]]:
    """Tables → pricecatcher_{month}.db (+ reference index DDL) →
    pricecatcher.zip. Returns (db, zip, row counts).

    Both files are written under temporary names in out_dir and pass the
    ship gate (row counts as inserted, integrity_check; write_sqlite has
    already raised if an index could not be built) before they replace
    the published pair, .db first. A build that fails at any step leaves
    the last good .db and .zip as they were.
    """
    db, z = published_pair(out_dir, month)
    tmp_db, tmp_zip = (p.with_name(f".{p.name}.{os.getpid()}.tmp") for p in (db, z))
    try:
        counts = write_sqlite(tables, tmp_db)
        gate = verify_sqlite_artifact(str(tmp_db), counts)
        if not gate["ok"]:
            raise RuntimeError(f"artifact failed its ship gate: {gate}")
        zip_artifact(tmp_db, tmp_zip)
        os.replace(tmp_db, db)
        os.replace(tmp_zip, z)
    finally:
        tmp_db.unlink(missing_ok=True)
        tmp_zip.unlink(missing_ok=True)
    return db, z, counts


def _newer_than(targets: Iterable[Path], sources: Iterable[Path]) -> bool:
    """make's rule: every target exists and its mtime is strictly greater
    than every source's."""
    try:
        oldest = min(t.stat().st_mtime_ns for t in targets)
    except FileNotFoundError:
        return False
    return all(oldest > s.stat().st_mtime_ns for s in sources)


def run_pipeline(
    spark: SparkSession,
    out_dir: str | Path,
    cache_dir: str | Path,
    month: str,
    base_url: str = "https://storage.data.gov.my",
    force: bool = False,
) -> PipelineResult:
    """The reference main() for one month: cache → early-exit → build.

    Choosing the month (catalog discovery, latest or interactive pick) is
    the CLI's job.

    The published pair, not the download cache, decides the early exit,
    by make's rule: skip only when the .db and the .zip both exist and
    each was modified strictly after every cached source. A tie rebuilds.
    So a build that failed after its download, a deleted .db or .zip, or
    a source downloaded after the pair was built all rebuild on the next
    run, online or offline. force=True rebuilds regardless.
    """
    cache = SourceCache(cache_dir)
    paths = {
        name: cache.get(name, url).path
        for name, url in pricecatcher_urls(month, base=base_url).items()
    }
    if not force and _newer_than(published_pair(out_dir, month), paths.values()):
        log.info("Data up-to-date — skipping rebuild")
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
