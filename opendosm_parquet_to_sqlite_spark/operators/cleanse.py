"""Column cleanse operators — the reference's per-row load handlers, columnar.

Reference: push_price/push_premise/push_item at /root/reference/src/main.rs:21-58
are fused project+cast+cleanse+insert callbacks executed once per row. Every
transform they perform is a pure column expression, so here each is a native
Column function — JVM-side, inside whole-stage codegen, no Python in the hot
path. A 100 TB scan applies these at vector speed; a row-at-a-time UDF port
would be ~100x slower and break pushdown.

Strictness semantics (SURVEY §7.2.3): the reference has two failure modes —
panic (prices/items, src/main.rs:24-26,52) and skip-with-log (premises,
src/main.rs:33,44). Spark 4 runs ANSI mode by default, which maps exactly:
  - strict     = plain cast — ANSI cast THROWS on malformed input, the
                 precise analog of the reference's unwrap-panic
  - permissive = try_cast (null on failure) + filter(isNotNull)
                 [round_f64_to_i64]
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

UNKNOWN = "UNKNOWN"


def date_trunc10(col: Column | str) -> Column:
    """Normalize timestamp/date to a 'YYYY-MM-DD' string.

    Reference: `record.fmt(0)[..10].trim()` (src/main.rs:23,272) — a byte
    slice of the formatted value. date_format is the declarative equivalent
    and cannot panic on short strings.
    """
    return F.date_format(col, "yyyy-MM-dd")


def cast_strict_long(col: Column | str) -> Column:
    """i64 parse that must not fail (reference panics: src/main.rs:24-25,52)."""
    return F.col(col).cast("long") if isinstance(col, str) else col.cast("long")


def cast_strict_double(col: Column | str) -> Column:
    """f64 parse that must not fail (reference panics: src/main.rs:26)."""
    return F.col(col).cast("double") if isinstance(col, str) else col.cast("double")


def round_f64_to_i64(col: Column | str) -> Column:
    """Float-typed code → rounded i64 (premise_code path, src/main.rs:33-36).

    Rust f64::round is half-away-from-zero; Spark F.round uses HALF_UP which
    also rounds away from zero on .5 for both signs — semantics match.
    Permissive (try_cast): unparsable codes become null, to be dropped by
    the caller — the reference skips these rows (src/main.rs:44).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c.try_cast("double"), 0).try_cast("long")


def null_default_unknown(col: Column | str) -> Column:
    """NULL string → literal 'UNKNOWN' (src/main.rs:32,37-41,50,53-56)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(c, F.lit(UNKNOWN))


def trim_str(col: Column | str) -> Column:
    """Whitespace trim (src/main.rs:23,37-41,53-56)."""
    return F.trim(col)


def clean_string(col: Column | str) -> Column:
    """The reference's full string-dimension treatment: coalesce → trim.

    Reference order is null-check first, then trim (src/main.rs:32,37); since
    trim('UNKNOWN') == 'UNKNOWN' the composition order is immaterial.
    """
    return trim_str(null_default_unknown(col))
