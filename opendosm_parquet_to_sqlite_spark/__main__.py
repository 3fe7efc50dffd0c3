"""CLI entry point: `python -m opendosm_parquet_to_sqlite_spark [--latest]`.

Mirrors the reference binary's interface (src/main.rs:159-189): pick a
PriceCatcher month, build the SQLite artifact, package the zip. The flags:

  --latest | --month KEY | --choice N   which month (newest by default)
  --out-dir DIR                         where the .db and .zip go
  --cache-dir DIR                       the revalidating download cache
  --base-url URL                        where the three sources are served
  --force                               rebuild even if the artifact is current

The build is skipped when the published .db and .zip are both newer than
every cached source. Exit code 0 then (the reference skips when every
download was a cache hit and exits 1 there — a failure code for a success
condition, src/main.rs:243).
"""

from __future__ import annotations

import argparse
import logging
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="opendosm_parquet_to_sqlite_spark")
    sel = p.add_mutually_exclusive_group()
    sel.add_argument("--latest", action="store_true", help="pick the newest month")
    sel.add_argument("--month", help="explicit month key, e.g. 2024-01")
    sel.add_argument("--choice", type=int, help="catalog index (0-based)")
    p.add_argument("--out-dir", default="./out")
    p.add_argument("--cache-dir", default="./__cached__")
    p.add_argument("--base-url", default="https://storage.data.gov.my")
    p.add_argument(
        "--force", action="store_true",
        help="rebuild even if the .db and .zip are newer than every source",
    )
    args = p.parse_args(argv)

    logging.basicConfig(level=logging.INFO)
    from .plans.pipeline import run_pipeline
    from .session import get_spark
    from .sources.catalog import discover_months, pick_month

    month = args.month
    if month is None:
        months = discover_months()
        month = pick_month(months, choice=args.choice)

    spark = get_spark(app_name="pricecatcher-etl")
    result = run_pipeline(
        spark,
        out_dir=args.out_dir,
        cache_dir=args.cache_dir,
        month=month,
        base_url=args.base_url,
        force=args.force,
    )
    if result.skipped:
        print("Data up-to-date — artifact not rebuilt.")
        return 0
    print(f"built {result.db_path} ({result.row_counts}) → {result.zip_path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
