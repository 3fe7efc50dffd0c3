"""Incremental PriceCatcher artifact maintenance — the streaming twin of
plans.pipeline.

The reference rebuilds its whole SQLite artifact from scratch every day
(script.sh:2-4 → src/main.rs:252-278 drop-and-rebuild). Streaming version:
price files land in a directory; each run reads ONLY the new files
(file-source checkpoint), takes the latest price per (premise, item) within
each microbatch, and merges those champions into the SQLite file with a
guarded UPSERT that replaces a stored row only when the new (date, price)
orders above it. Work per run is proportional to the delta, not the
history.

The SQLite file is the only state. The champion rule, max over
(date, price), is associative, commutative and idempotent, so a
microbatch can be merged on its own: no Spark state store keeps a second
copy of the champions, and a replayed microbatch (a crash between the
SQLite commit and the checkpoint commit, or a deleted checkpoint) changes
nothing. The target may be a prices-only file or the shipped month
artifact; the merge adds the (premise_code, item_code) unique index it
needs to either.

The merge runs driver-side because SQLite is single-writer; the rows
crossing the driver are the microbatch's champions, streamed in bounded
chunks, never the full table.
"""

from __future__ import annotations

import sqlite3
from pathlib import Path

from pyspark.sql import SparkSession
from pyspark.sql.types import StructType

from ..operators import dedup
from ..plans.pipeline import cleanse_prices
from ..sinks.sqlite import _insert_rows, table_ddl
from .incremental import read_stream_parquet, run_available_now

_KEY = ["premise_code", "item_code"]
# The key the UPSERT needs; the month build leaves it out (it would only
# grow the shipped file), so the first top-up of an artifact adds it.
_KEY_INDEX = (
    'CREATE UNIQUE INDEX IF NOT EXISTS "idx_prices_premise_code_item_code" '
    'ON "prices" ("premise_code", "item_code")'
)

# Spark's max_by over struct(date, price) orders a NULL field lowest; a
# SQLite comparison with NULL is NULL, so the guard spells NULLs out.
_MERGE = """
INSERT INTO "prices" ("date", "premise_code", "item_code", "price")
VALUES (?, ?, ?, ?)
ON CONFLICT ("premise_code", "item_code") DO UPDATE
SET "date" = excluded."date", "price" = excluded."price"
WHERE excluded."date" > "prices"."date"
   OR ("prices"."date" IS NULL AND excluded."date" IS NOT NULL)
   OR (excluded."date" IS "prices"."date"
       AND (excluded."price" > "prices"."price"
            OR ("prices"."price" IS NULL AND excluded."price" IS NOT NULL)))
"""


def stream_prices_to_sqlite(
    spark: SparkSession,
    prices_dir: str | Path,
    db_path: str | Path,
    checkpoint_dir: str | Path,
    source_schema: StructType,
) -> Path:
    """Merge newly landed price files into the SQLite file; returns its path.

    Safe to call repeatedly (cron-style): a run with no new files touches
    nothing. The champion rule matches the batch pipeline exactly
    (max date, price tie-break), so a from-scratch batch rebuild and any
    sequence of incremental runs over the same files converge to identical
    `prices` rows (pinned in tests/test_streaming_pipeline.py). Each
    microbatch is one SQLite transaction: a merge that fails part-way
    leaves the file as it was, and the next run retries the same files.
    """
    db_path = Path(db_path)
    db_path.parent.mkdir(parents=True, exist_ok=True)
    prices = cleanse_prices(read_stream_parquet(spark, str(prices_dir), source_schema))

    def merge(batch_df, _batch_id: int) -> None:
        latest = dedup.latest_per_group_maxby(batch_df, _KEY, "date", ["price"])
        # isolation_level=None: the DDL and the merge share one explicit
        # transaction in the default rollback journal, so a failure at any
        # statement rolls all of them back.
        con = sqlite3.connect(db_path, isolation_level=None)
        try:
            con.execute("BEGIN")
            con.execute(table_ddl("prices", latest.schema))
            con.execute(_KEY_INDEX)
            _insert_rows(con, _MERGE, latest.toLocalIterator(prefetchPartitions=True))
            con.execute("COMMIT")
        finally:
            con.close()

    run_available_now(prices, str(checkpoint_dir), merge, output_mode="append")
    return db_path
