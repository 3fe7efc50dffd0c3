"""SQLite artifact sink: writes the reference's artifact and nothing more
general.

The artifact is the reference's three tables, prices, premises and items,
with its nine indexes (src/main.rs:192-207). This module is the one place
that knows that layout: write_sqlite builds REFERENCE_INDEXES for every
table it writes (and raises if one cannot be built), and table_ddl maps
only the three column types the cleanse stack produces (long, double,
string).

Reference: the in-memory DB is exported to a file via the C-level
sqlite3_backup API, 1000 pages/step (/root/reference/src/main.rs:284-311),
after per-row prepared-statement inserts (src/main.rs:22-27). Here
write_sqlite writes the artifact directly: each table crosses to the driver
as Arrow (toArrow) and is inserted BATCH_ROWS rows per executemany, so the
driver holds one table's Arrow columns plus one batch of Python tuples.
(SQLite is a single-writer format — a distributed writer cannot append to
one .db.)

The indexes are created AFTER load (the reference creates them before
inserting — strictly slower).
"""

from __future__ import annotations

import sqlite3
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

# The column types of the cleansed tables: cleanse_prices, cleanse_premises
# and cleanse_items cast every column to one of these, whatever the source
# type, so no other type can reach the sink.
_SQLITE_TYPES = {"long": "INTEGER", "double": "REAL", "string": "TEXT"}


def table_ddl(table: str, schema: StructType) -> str:
    """CREATE TABLE IF NOT EXISTS for a cleansed table's schema. Every
    writer of a table takes its DDL from here, so a table has one schema
    whichever path created it. A column of any type the cleanse stack does
    not produce raises TypeError."""
    cols = []
    for f in schema.fields:
        spark_type = f.dataType.typeName()
        if spark_type not in _SQLITE_TYPES:
            raise TypeError(
                f"{table}.{f.name} is {spark_type}; the artifact holds only "
                f"{', '.join(_SQLITE_TYPES)} columns"
            )
        cols.append(f'"{f.name}" {_SQLITE_TYPES[spark_type]}')
    return f'CREATE TABLE IF NOT EXISTS "{table}" ({", ".join(cols)})'


# Rows per executemany call in _insert_rows.
BATCH_ROWS = 10_000


def _insert_rows(con: sqlite3.Connection, sql: str, df: DataFrame) -> None:
    """executemany `sql` over the rows of `df`, moved to the driver as one
    Arrow table and turned into Python tuples BATCH_ROWS rows at a time."""
    for batch in df.toArrow().to_batches(BATCH_ROWS):
        con.executemany(sql, zip(*(col.to_pylist() for col in batch.columns)))


def write_sqlite(tables: dict[str, DataFrame], db_path: str | Path) -> dict[str, int]:
    """Write the reference's artifact: each of `tables` (keyed by the
    reference's table names) into one fresh SQLite file, followed by that
    table's REFERENCE_INDEXES. Returns the number of rows inserted per
    table. It writes no other layout.

    Each table moves to the driver as Arrow (toArrow) and is inserted
    BATCH_ROWS rows per executemany, so the driver holds one table's Arrow
    columns plus one batch of Python values. Measured for prices, the
    largest table: 1.0 MB of Arrow for 28k champion rows on the benchmark
    month, 11.9 MB for 327k rows at real-month scale (2M source rows), and
    about 1.3 MB for one batch of Python values.

    The indexes are built after every table is loaded. A unique index
    makes its column a key: a duplicate or a NULL in it raises
    ValueError("unique key violated ..."). The duplicate is caught by
    CREATE UNIQUE INDEX itself, the reference's own failure point
    (src/main.rs:42,57); SQLite's UNIQUE admits repeated NULLs, so those
    are looked up through the new index.

    The file is written fresh with the journal off, so it has no free
    pages and needs no VACUUM.
    """
    db_path = Path(db_path)
    db_path.parent.mkdir(parents=True, exist_ok=True)
    if db_path.exists():
        db_path.unlink()
    counts: dict[str, int] = {}
    con = sqlite3.connect(db_path)
    try:
        con.execute("PRAGMA journal_mode=OFF")  # fresh artifact, no readers
        con.execute("PRAGMA synchronous=OFF")
        for table, df in tables.items():
            con.execute(table_ddl(table, df.schema))
            placeholders = ", ".join("?" for _ in df.schema.fields)
            insert = f'INSERT INTO "{table}" VALUES ({placeholders})'
            before = con.total_changes
            _insert_rows(con, insert, df)
            con.commit()
            counts[table] = con.total_changes - before
        for table in tables:
            for col, unique in REFERENCE_INDEXES[table]:
                _create_index(con, table, col, unique)
        con.commit()
    finally:
        con.close()
    return counts


def _create_index(
    con: sqlite3.Connection, table: str, col: str, unique: bool
) -> None:
    uq = "UNIQUE " if unique else ""
    try:
        con.execute(
            f'CREATE {uq}INDEX "{index_name(table, col)}" ON "{table}" ("{col}")'
        )
    except sqlite3.IntegrityError as e:
        raise ValueError(
            f"unique key violated on {table}.{col}: {e} "
            "(reference aborts via unique-index insert, src/main.rs:42,57)"
        ) from e
    if unique and con.execute(
        f'SELECT 1 FROM "{table}" WHERE "{col}" IS NULL LIMIT 1'
    ).fetchone():
        raise ValueError(f"unique key violated on {table}.{col}: NULL key")


def index_name(table: str, col: str) -> str:
    return f"idx_{table}_{col}"


# The reference's index set (src/main.rs:192-207), keyed by its table names.
REFERENCE_INDEXES: dict[str, list[tuple[str, bool]]] = {
    "prices": [("premise_code", False), ("item_code", False)],
    "premises": [
        ("premise_code", True),
        ("premise_type", False),
        ("state", False),
        ("district", False),
    ],
    "items": [
        ("item_code", True),
        ("item_group", False),
        ("item_category", False),
    ],
}


def verify_sqlite_artifact(db_path: str, expected_tables: dict[str, int]) -> dict:
    """Ship-gate for a produced artifact: row counts per table match
    expectations and PRAGMA integrity_check passes — the checklist a
    consumer runs before replacing last month's .db (the reference ships
    artifacts with no verification at all; a truncated upload or a crashed
    VACUUM is silently served). The indexes need no check here:
    write_sqlite raises if any of them cannot be built.

    Returns {"ok": bool, "counts": {...}, "integrity": str} — callers gate
    on ok.
    """
    con = sqlite3.connect(db_path)
    try:
        counts = {}
        for t in expected_tables:
            counts[t] = con.execute(
                f'SELECT count(*) FROM "{t}"'
            ).fetchone()[0]
        integrity = con.execute("PRAGMA integrity_check").fetchone()[0]
    finally:
        con.close()
    ok = counts == dict(expected_tables) and integrity == "ok"
    return {"ok": ok, "counts": counts, "integrity": integrity}
