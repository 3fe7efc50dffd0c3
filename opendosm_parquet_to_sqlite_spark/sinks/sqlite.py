"""SQLite artifact sink.

Reference: the in-memory DB is exported to a file via the C-level
sqlite3_backup API, 1000 pages/step (/root/reference/src/main.rs:284-311),
after per-row prepared-statement inserts (src/main.rs:22-27). Here the
artifact is written directly:

- write_sqlite: driver write streamed via toLocalIterator — the driver
  holds at most one Spark partition at a time, never the full table.
  (SQLite is a single-writer format — a distributed writer cannot append
  to one .db.) Route truly fact-scale exports to write_sqlite_sharded.
- write_sqlite_sharded: the 100 TB story — each Spark partition writes its
  OWN .db shard via foreachPartition (executor-local sqlite3), giving
  embarrassingly-parallel export; consumers ATTACH shards or query the union.

Index DDL mirrors src/main.rs:192-207 and is applied AFTER load (the
reference creates indexes before inserting — strictly slower).
"""

from __future__ import annotations

import os
import sqlite3
from itertools import islice
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

_SPARK_TO_SQLITE = {
    "long": "INTEGER",
    "int": "INTEGER",
    "short": "INTEGER",
    "byte": "INTEGER",
    "double": "REAL",
    "float": "REAL",
    "string": "TEXT",
    "boolean": "INTEGER",
    "date": "TEXT",
    "timestamp": "TEXT",
    "timestamp_ntz": "TEXT",
    "binary": "BLOB",
}


def _ddl_type(spark_type: str) -> str:
    return _SPARK_TO_SQLITE.get(spark_type, "TEXT")


def table_ddl(table: str, schema: StructType) -> str:
    """CREATE TABLE IF NOT EXISTS for a DataFrame schema, one SQLite type
    per Spark type. Every writer of a table takes its DDL from here, so a
    table has one schema whichever path created it."""
    cols = ", ".join(
        f'"{f.name}" {_ddl_type(f.dataType.typeName())}' for f in schema.fields
    )
    return f'CREATE TABLE IF NOT EXISTS "{table}" ({cols})'


def _create_table(con: sqlite3.Connection, table: str, schema: StructType) -> None:
    con.execute(f'DROP TABLE IF EXISTS "{table}"')
    con.execute(table_ddl(table, schema))


def _insert_rows(
    con: sqlite3.Connection, sql: str, rows, batch_rows: int = 10_000
) -> None:
    """executemany `sql` over an iterable of row tuples, `batch_rows` at a
    time, so memory holds one batch, never the whole iterable."""
    it = iter(rows)
    while batch := list(islice(it, batch_rows)):
        con.executemany(sql, batch)


def _stringify_temporals(df: DataFrame) -> DataFrame:
    """Date/timestamp columns → ISO strings, honoring SQLite TEXT affinity
    (the reference stores dates as strings, src/main.rs:23) and avoiding
    Python's deprecated sqlite3 datetime adapters."""
    temporal = [
        f.name
        for f in df.schema.fields
        if f.dataType.typeName() in ("date", "timestamp", "timestamp_ntz")
    ]
    if not temporal:
        return df
    from pyspark.sql import functions as F

    return df.withColumns({c: F.col(c).cast("string") for c in temporal})


def write_sqlite(
    tables: dict[str, DataFrame],
    db_path: str | Path,
    indexes: dict[str, list[tuple[str, bool]]] | None = None,
    batch_rows: int = 10_000,
) -> dict[str, int]:
    """Write DataFrames into one SQLite file, streaming via toLocalIterator.
    Returns the number of rows inserted per table.

    The driver materializes at most one Spark partition at a time
    (prefetch keeps the executors one partition ahead) — never the full
    table, so memory is bounded by partition size, not table size.

    indexes: table -> [(column, unique)] applied after load; mirrors the
    reference DDL (src/main.rs:194-206) where the caller passes it. A
    unique column is a key: a duplicate or a NULL in it raises
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
            _create_table(con, table, df.schema)
            placeholders = ", ".join("?" for _ in df.schema.fields)
            insert = f'INSERT INTO "{table}" VALUES ({placeholders})'
            out = _stringify_temporals(df)
            before = con.total_changes
            _insert_rows(
                con, insert, out.toLocalIterator(prefetchPartitions=True), batch_rows
            )
            con.commit()
            counts[table] = con.total_changes - before
        for table, specs in (indexes or {}).items():
            for col, unique in specs:
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


def write_sqlite_sharded(
    df: DataFrame,
    out_dir: str | Path,
    table: str,
    num_shards: int | None = None,
    indexes: list[tuple[str, bool]] | None = None,
) -> list[Path]:
    """Each partition writes its own .db shard — distributed SQLite export.

    foreachPartition runs executor-side: no data crosses the driver. Shards
    are named by partition id; at 1000 executors this is 1000 concurrent
    local writes instead of one serialized driver write.

    indexes: [(column, unique)] applied per shard AFTER its load, so
    consumers ATTACHing shards get the same index contract as the
    single-file path (reference DDL, src/main.rs:192-207). A `unique`
    index is only locally unique — per-shard, which is the only guarantee
    a sharded export can make.
    """
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    df = _stringify_temporals(df)  # no datetime objects through sqlite3 binds
    if num_shards is not None:
        df = df.repartition(num_shards)
    schema = df.schema
    insert = f'INSERT INTO "{table}" VALUES ({", ".join("?" for _ in schema.fields)})'
    out_str = str(out)
    index_specs = list(indexes or [])

    def write_partition(rows) -> None:
        import sqlite3 as _sqlite3
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        path = os.path.join(out_str, f"{table}_shard_{pid:05d}.db")
        c = _sqlite3.connect(path)
        c.execute("PRAGMA journal_mode=OFF")
        c.execute("PRAGMA synchronous=OFF")
        _create_table(c, table, schema)
        _insert_rows(c, insert, rows)
        for col, unique in index_specs:
            uq = "UNIQUE " if unique else ""
            c.execute(
                f'CREATE {uq}INDEX "idx_{table}_{col}" ON "{table}" ("{col}")'
            )
        c.commit()
        c.close()

    df.foreachPartition(write_partition)
    return sorted(out.glob(f"{table}_shard_*.db"))


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


def read_sqlite(spark, db_path: str, table: str) -> DataFrame:
    """Read a table from a produced SQLite artifact back into a
    DataFrame — the inspection path for the reference's own output
    (pricecatcher_{month}.db): users verify what shipped, diff two
    months' artifacts (snapshot_diff composes directly), or re-ingest a
    legacy artifact into the parquet world.

    Driver-side read via the stdlib sqlite3 (no JDBC jar dependency —
    the offline-environment constraint from SURVEY §7.2.5), streamed in
    batches into Arrow-friendly chunks. SQLite artifacts are
    single-file, driver-sized BY CONSTRUCTION of the sink contract
    (fact-scale exports go through write_sqlite_sharded, whose shards
    can be read and unioned individually); a multi-GB .db should be
    re-sharded, not driver-read — documented, not guessed.
    """
    import pandas as pd

    con = sqlite3.connect(db_path)
    try:
        pdf = pd.read_sql_query(f'SELECT * FROM "{table}"', con)
    finally:
        con.close()
    return spark.createDataFrame(pdf)


def verify_sqlite_artifact(
    db_path: str,
    expected_tables: dict[str, int],
    expected_indexes: list[str] | None = None,
) -> dict:
    """Ship-gate for a produced artifact: row counts per table match
    expectations, declared indexes exist, and PRAGMA integrity_check
    passes — the checklist a consumer runs before replacing last
    month's .db (the reference ships artifacts with no verification at
    all; a truncated upload or a crashed VACUUM is silently served).

    Returns {"ok": bool, "counts": {...}, "missing_indexes": [...],
    "integrity": str} — callers gate on ok.
    """
    con = sqlite3.connect(db_path)
    try:
        counts = {}
        for t in expected_tables:
            counts[t] = con.execute(
                f'SELECT count(*) FROM "{t}"'
            ).fetchone()[0]
        have = {
            r[0]
            for r in con.execute(
                "SELECT name FROM sqlite_master WHERE type = 'index'"
            )
        }
        missing = [i for i in (expected_indexes or []) if i not in have]
        integrity = con.execute("PRAGMA integrity_check").fetchone()[0]
    finally:
        con.close()
    ok = (
        counts == dict(expected_tables)
        and not missing
        and integrity == "ok"
    )
    return {
        "ok": ok,
        "counts": counts,
        "missing_indexes": missing,
        "integrity": integrity,
    }
