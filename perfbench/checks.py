"""Correctness checks for every benchmark op, independent of the program.

The expected results are restated in DuckDB from the raw generated inputs:
the reference's cleanse rules (string trim, NULL -> 'UNKNOWN', float premise
codes rounded, unparsable codes skipped) and its flagship rule (latest date
per (premise, item), price as tie-break). Each check returns a list of
problems; an empty list means the op's output is correct.
"""

from __future__ import annotations

import hashlib
import math
import sqlite3
import zipfile
from collections.abc import Iterable, Sequence
from pathlib import Path

import duckdb

from opendosm_parquet_to_sqlite_spark.sinks.sqlite import verify_sqlite_artifact

# The reference's nine indexes (table, column, unique), as its DDL declares them.
REFERENCE_INDEXES = [
    ("prices", "premise_code", False),
    ("prices", "item_code", False),
    ("premises", "premise_code", True),
    ("premises", "premise_type", False),
    ("premises", "state", False),
    ("premises", "district", False),
    ("items", "item_code", True),
    ("items", "item_group", False),
    ("items", "item_category", False),
]

CHAMPION_ORDER = "ORDER BY premise_code, item_code"


def _files(paths: Iterable[Path]) -> str:
    return "[" + ", ".join(f"'{p}'" for p in paths) + "]"


def latest_sql(price_files: Sequence[Path]) -> str:
    """Cleanse + latest-per-(premise, item) over raw price files."""
    return f"""
        SELECT date, premise_code, item_code, price FROM (
            SELECT *, row_number() OVER (
                PARTITION BY premise_code, item_code
                ORDER BY date DESC, price DESC) AS rn
            FROM (
                SELECT trim(strftime(date, '%Y-%m-%d')) AS date,
                       CAST(premise_code AS BIGINT) AS premise_code,
                       CAST(item_code AS BIGINT) AS item_code,
                       CAST(price AS DOUBLE) AS price
                FROM read_parquet({_files(price_files)})))
        WHERE rn = 1"""


def oracle(served: Path, month: str) -> duckdb.DuckDBPyConnection:
    """In-memory DuckDB holding the three expected output tables, under the
    names the artifact and the SQL views use."""
    con = duckdb.connect()
    con.execute(f"CREATE TABLE prices AS {latest_sql([served / f'pricecatcher_{month}.parquet'])}")
    con.execute(f"""
        CREATE TABLE premises AS
        SELECT CAST(round(TRY_CAST(premise_code AS DOUBLE)) AS BIGINT) AS premise_code,
               trim(coalesce(premise, 'UNKNOWN')) AS premise,
               trim(coalesce(address, 'UNKNOWN')) AS address,
               trim(coalesce(premise_type, 'UNKNOWN')) AS premise_type,
               trim(coalesce(state, 'UNKNOWN')) AS state,
               trim(coalesce(district, 'UNKNOWN')) AS district
        FROM read_parquet('{served / 'lookup_premise.parquet'}')
        WHERE TRY_CAST(premise_code AS DOUBLE) IS NOT NULL""")
    con.execute(f"""
        CREATE TABLE items AS
        SELECT CAST(item_code AS BIGINT) AS item_code,
               trim(coalesce(item, 'UNKNOWN')) AS item,
               trim(coalesce(unit, 'UNKNOWN')) AS unit,
               trim(coalesce(item_group, 'UNKNOWN')) AS item_group,
               trim(coalesce(item_category, 'UNKNOWN')) AS item_category
        FROM read_parquet('{served / 'lookup_item.parquet'}')""")
    return con


def digest(rows: Iterable[Sequence]) -> str:
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(tuple(r)).encode())
    return h.hexdigest()


def champion_digest(con: duckdb.DuckDBPyConnection, sql: str = "SELECT * FROM prices") -> tuple[int, str]:
    rows = con.execute(f"SELECT date, premise_code, item_code, price FROM ({sql}) {CHAMPION_ORDER}").fetchall()
    return len(rows), digest(rows)


def _sqlite_champions(db: Path) -> tuple[int, str]:
    con = sqlite3.connect(db)
    try:
        rows = con.execute(
            f"SELECT date, premise_code, item_code, price FROM prices {CHAMPION_ORDER}"
        ).fetchall()
    finally:
        con.close()
    return len(rows), digest(rows)


def _index_problems(db: Path) -> list[str]:
    con = sqlite3.connect(db)
    try:
        have = set()
        for table in {t for t, _, _ in REFERENCE_INDEXES}:
            for _, name, unique, *_ in con.execute(f'PRAGMA index_list("{table}")'):
                cols = [r[2] for r in con.execute(f'PRAGMA index_info("{name}")')]
                if len(cols) == 1:
                    have.add((table, cols[0], bool(unique)))
    finally:
        con.close()
    return [f"missing index {t}({c}) unique={u}" for t, c, u in REFERENCE_INDEXES if (t, c, u) not in have]


def check_month_artifact(db: Path, zip_path: Path, expected: dict) -> list[str]:
    """A month_build artifact: the program's own ship gate passes (row
    counts, integrity_check), the reference's nine indexes exist, the
    champions equal the DuckDB restatement, and the zip holds
    pricecatcher.db intact."""
    problems: list[str] = []
    try:
        gate = verify_sqlite_artifact(str(db), expected["counts"])
        if not gate["ok"]:
            problems.append(f"verify_sqlite_artifact failed: {gate}")
        problems += _index_problems(db)
        got = _sqlite_champions(db)
    except sqlite3.DatabaseError as e:
        return problems + [f"unreadable artifact {db.name}: {e}"]
    if got != expected["champions"]:
        problems.append(f"champions {got[0]} rows / {got[1][:12]} != expected {expected['champions'][0]} / {expected['champions'][1][:12]}")
    try:
        with zipfile.ZipFile(zip_path) as z:
            if "pricecatcher.db" not in z.namelist():
                problems.append(f"zip holds {z.namelist()}, not pricecatcher.db")
            elif z.testzip() is not None:
                problems.append("zip member fails its CRC")
    except zipfile.BadZipFile as e:
        problems.append(f"bad zip: {e}")
    return problems


def month_expectation(con: duckdb.DuckDBPyConnection) -> dict:
    counts = {t: con.execute(f"SELECT count(*) FROM {t}").fetchone()[0] for t in ("prices", "premises", "items")}
    return {"counts": counts, "champions": champion_digest(con)}


def check_topup_artifact(db: Path, expected: tuple[int, str]) -> list[str]:
    """A daily_topup artifact's `prices` equals the batch restatement over
    every file landed so far."""
    try:
        got = _sqlite_champions(db)
    except sqlite3.DatabaseError as e:
        return [f"unreadable artifact {db.name}: {e}"]
    if got != expected:
        return [f"prices {got[0]} rows / {got[1][:12]} != restatement {expected[0]} / {expected[1][:12]}"]
    return []


def same_rows(got: Sequence[Sequence], want: Sequence[Sequence]) -> bool:
    """Row-by-row equality; floats compare with a relative tolerance because
    Spark and DuckDB sum in different orders."""
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(a, float) or isinstance(b, float):
                if a is None or b is None or not math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9):
                    return False
            elif a != b:
                return False
    return True


def dataset_digest(path: Path) -> tuple[int, str]:
    """Row count and content hash of a written parquet dataset, in doc_id
    order, independent of file layout."""
    import pyarrow.parquet as pq

    t = pq.read_table(path)
    cols = sorted(t.column_names)
    rows = sorted(zip(*(map(str, t.column(c).to_pylist()) for c in cols)))
    return len(rows), digest(rows)
