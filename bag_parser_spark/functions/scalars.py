"""Scalar function layer (SURVEY §2.8 F1-F13, §2.2 P1-P11).

Each helper is a pure Column expression — JVM-side, codegen-friendly, no
Python UDFs. The SQLite quirks the reference leans on are made explicit:

- F1  SUBSTR(x, 0, n) in SQLite yields chars 1..n-1 → substring(c, 1, n-1)
- F2  `huisletter || toevoeging` concat on ''-defaulted (not NULL) fields
- F3  ISO-date *string* slice-compare (reference bag_parser.py:18-28)
- F11 `IS NOT ''` empty-string-as-missing (reference database_sqlite.py:527)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def ts_micros(c: Column) -> Column:
    """Microseconds since epoch for TIMESTAMP *or* TIMESTAMP_NTZ input.

    ``unix_micros`` only accepts TIMESTAMP (with local timezone), but
    parquet written without ``isAdjustedToUTC`` reads back as NTZ; the
    cast interprets NTZ wall time in the session timezone — pinned to UTC
    by session.py / sources/parquet.py — which is exactly DuckDB's
    naive-timestamp epoch semantics, so both engines agree bit-for-bit.
    For TIMESTAMP input the cast is a no-op.
    """
    return F.unix_micros(c.cast("timestamp"))


def sqlite_substr(c: Column, start: int, length: int) -> Column:
    """SQLite SUBSTR with its 0-start quirk: SUBSTR(x, 0, 5) = chars 1..4
    (reference exporter.py:98,115). 1-based starts behave normally."""
    if start == 0:
        return F.substring(c, 1, length - 1)
    return F.substring(c, start, length)


def concat_nonnull(*cols: Column) -> Column:
    """F2: `a || b` over ''-defaulted fields (reference exporter.py:57)."""
    return F.concat(*cols)


def iso_date_prefix(c: Column) -> Column:
    """F3: first 10 chars of an ISO date(time) string (bag_parser.py:18)."""
    return F.substring(c, 1, 10)


def temporal_validity_predicate(
    begindatum: Column, einddatum: Column, snapshot_date: str
) -> Column:
    """P3: active-record predicate (reference bag_parser.py:15-31).

    begindatum non-empty AND begindatum[0:10] <= snapshot AND (einddatum =
    '' OR einddatum[0:10] >= snapshot), compared as strings exactly like the
    reference (an absent begindatum is *invalid* — bag_parser.py:15-22 —
    while an absent einddatum means still valid). NULL einddatum is treated
    as '' to match ''-defaulted parse output.
    """
    start_ok = (F.coalesce(begindatum, F.lit("")) != F.lit("")) & (
        iso_date_prefix(begindatum) <= F.lit(snapshot_date)
    )
    end_empty = F.coalesce(einddatum, F.lit("")) == F.lit("")
    end_ok = iso_date_prefix(einddatum) >= F.lit(snapshot_date)
    return start_ok & (end_empty | end_ok)


def parse_bag_datum(c: Column) -> Column:
    """F5: BAG date string → DATE, NULL when shorter than 16 chars
    (reference utils.py:162-166 ``bag_date_to_date`` builds a datetime from
    the y/m/d slices only when ``len >= 16`` — i.e. only full timestamp
    strings parse, and the time-of-day is dropped)."""
    return F.when(
        F.length(c) >= 16, F.to_date(F.substring(c, 1, 10), "yyyy-MM-dd")
    )


def status_predicate(status: Column, wanted: str | None) -> Column:
    """P4: per-entity status equality (reference bag_parser.py:33-35,47-70).
    ``wanted=None`` (Pand/Verblijfsobject) means no status filter."""
    if wanted is None:
        return F.lit(True)
    return status == F.lit(wanted)


def choose_name(
    lange_naam: Column, verkorte_naam: Column, use_short: bool
) -> Column:
    """P6: short-vs-long street name (reference database_sqlite.py:94-97)."""
    if not use_short:
        return lange_naam
    return F.when(verkorte_naam != F.lit(""), verkorte_naam).otherwise(lange_naam)


def null_dummy(c: Column, *, dummy_values: list | None = None,
               gt: float | None = None) -> Column:
    """P11: dummy-value nulling (reference database_sqlite.py:542-601):
    bouwjaar 1005 → NULL, bouwjaar > 2040 → NULL, oppervlakte ∈ {999999, 1} →
    NULL. Expressed once as a reusable cleaning combinator."""
    cond = F.lit(False)
    if dummy_values:
        cond = cond | c.isin(dummy_values)
    if gt is not None:
        cond = cond | (c > F.lit(gt))
    return F.when(cond, F.lit(None)).otherwise(c)


def nullif_empty(c: Column) -> Column:
    """F11: '' → NULL (reference database_sqlite.py:527 `IS NOT ''`)."""
    return F.nullif(c, F.lit(""))


def pos_to_rd(pos: Column) -> tuple[Column, Column]:
    """P8/U3: 'x y [z]' posList string → (rd_x, rd_y) doubles
    (reference utils.py:196-198). A one-number position gives a NULL
    rd_y (``F.get`` is NULL past the end, where ``[1]`` raises under ANSI
    mode)."""
    parts = F.split(pos, " ")
    return parts[0].cast("double"), F.get(parts, 1).cast("double")


def bracket_wrap(c: Column) -> Column:
    """P9: geometry text → '[text]' (reference bag_parser.py:100-101)."""
    return F.concat(F.lit("["), c, F.lit("]"))


def is_multivalue(c: Column) -> Column:
    """F10: comma-list detector (reference database_sqlite.py:408)."""
    return c.contains(",")


def split_multivalue(c: Column) -> Column:
    """F9: comma-list unpack (reference database_sqlite.py:413,479)."""
    return F.split(c, ",")


def nl_number(c: Column) -> Column:
    """F13: nl_NL thousands-separator formatting of an integral count —
    the Column form of the reference's locale-formatted log counts
    (reference config.py:7 setlocale(nl_NL), database_sqlite.py:550+
    f'{aantal:n}'). 1234567 → '1.234.567'. Engine-side expression (no
    locale dependency on executors): en_US grouping from format_number,
    separators swapped."""
    return F.translate(F.format_number(c, 0), ",", ".")


def format_count_nl(n: int) -> str:
    """F13, driver-side: the `{n:n}` log formatting itself. Uses the real
    nl_NL locale when the host has it (exactly the reference's behavior),
    falling back to manual dot-grouping so logs are identical on hosts
    without the locale pack — the reference hard-fails there
    (config.py:7)."""
    import locale

    try:
        prev = locale.setlocale(locale.LC_NUMERIC)
        try:
            locale.setlocale(locale.LC_NUMERIC, "nl_NL")
            return locale.format_string("%d", n, grouping=True)
        finally:
            locale.setlocale(locale.LC_NUMERIC, prev)
    except locale.Error:
        return f"{n:,}".replace(",", ".")
