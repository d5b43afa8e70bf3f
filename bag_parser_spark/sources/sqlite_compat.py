"""SQLite-compat sink (SURVEY §2.1 S6 compat option).

The reference's user-facing artifact is a single ``bag.sqlite`` file that
consumers query directly (reference readme.MD:54-78, database_sqlite.py:
30-76 DDL); the engine's native sink is parquet. This module bridges the
two: write any of our result DataFrames into a SQLite file with the same
table names and column layout, so a drop-in consumer of the reference's
output (a GIS tool, a sqlite3 script from the readme) can point at ours.

Scale posture — this is an EXPORT COMPAT sink, not a distributed sink:
SQLite is a single-writer embedded file, so the write is inherently
driver-side. Rows stream through ``toLocalIterator()`` (one partition
in driver memory at a time, never the whole table — the reference itself
is bounded by the same single-file constraint) inside batched
executemany inserts in one transaction per table. Use it for the
reference-parity artifact (~10M rows, the reference's own scale); at
100 TB the native parquet sink is the only sensible shape and this sink
refuses nothing but will simply take as long as SQLite takes.
"""

from __future__ import annotations

import sqlite3
from collections.abc import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import types as T

# Spark type → SQLite column affinity (reference database_sqlite.py:30-76
# uses INTEGER/TEXT/REAL — same mapping).
_AFFINITY: list[tuple[type, str]] = [
    (T.BooleanType, "INTEGER"),
    (T.ByteType, "INTEGER"),
    (T.ShortType, "INTEGER"),
    (T.IntegerType, "INTEGER"),
    (T.LongType, "INTEGER"),
    (T.FloatType, "REAL"),
    (T.DoubleType, "REAL"),
    (T.DecimalType, "REAL"),
    (T.BinaryType, "BLOB"),
]


def _sqlite_type(dt: T.DataType) -> str:
    for cls, name in _AFFINITY:
        if isinstance(dt, cls):
            return name
    # dates/timestamps/strings/arrays → TEXT (ISO strings; arrays should be
    # exported as JSON/text columns upstream, same rule as the oracle gate)
    return "TEXT"


def _to_sqlite_value(v):
    if v is None or isinstance(v, (int, float, str, bytes)):
        return v
    # datetime.date / datetime.datetime → ISO text (SQLite convention and
    # what the reference's TEXT date columns hold)
    if hasattr(v, "isoformat"):
        return v.isoformat(sep=" ") if hasattr(v, "hour") else v.isoformat()
    return str(v)


def write_sqlite_table(
    df: DataFrame,
    db_path: str,
    table: str,
    primary_key: str | None = None,
    batch_size: int = 10_000,
) -> int:
    """Write ``df`` into ``db_path`` as ``table`` (DROP + CREATE + INSERT,
    one transaction — the atomic-commit analog of the reference's
    per-entity transaction, database_sqlite.py:98-162). Returns row count.

    Driver-side by design (see module docstring): rows arrive via
    toLocalIterator() so only one partition is resident at a time.

    Atomicity: Python's default sqlite3 transaction control auto-commits
    DDL, so a naive DROP+CREATE would destroy the previous table even
    when the subsequent INSERT stream fails (a re-export over an existing
    artifact must never lose the old data to a mid-write crash). The
    connection therefore runs in explicit-transaction mode: one BEGIN
    IMMEDIATE covers DROP + CREATE + every INSERT (SQLite DDL is fully
    transactional), ROLLBACK on any failure restores the prior table.
    """
    fields = df.schema.fields
    cols = ", ".join(
        f'"{f.name}" {_sqlite_type(f.dataType)}'
        + (" PRIMARY KEY" if primary_key == f.name else "")
        for f in fields
    )
    placeholders = ", ".join("?" for _ in fields)
    names = ", ".join(f'"{f.name}"' for f in fields)
    # isolation_level=None = autocommit-unless-explicit: we own BEGIN/COMMIT
    con = sqlite3.connect(db_path, isolation_level=None)
    try:
        con.execute("BEGIN IMMEDIATE")
        try:
            con.execute(f'DROP TABLE IF EXISTS "{table}"')
            con.execute(f'CREATE TABLE "{table}" ({cols})')
            n = 0
            batch: list[tuple] = []
            for row in df.toLocalIterator():
                batch.append(tuple(_to_sqlite_value(v) for v in row))
                if len(batch) >= batch_size:
                    con.executemany(
                        f'INSERT INTO "{table}" ({names}) '
                        f"VALUES ({placeholders})",
                        batch,
                    )
                    n += len(batch)
                    batch = []
            if batch:
                con.executemany(
                    f'INSERT INTO "{table}" ({names}) VALUES ({placeholders})',
                    batch,
                )
                n += len(batch)
            con.execute("COMMIT")
            return n
        except BaseException:
            con.execute("ROLLBACK")
            raise
    finally:
        con.close()


# The reference's final artifact tables and their primary keys
# (database_sqlite.py:30-76; after delete_no_longer_needed_bag_tables the
# consumer-facing set is adressen + the dimension tables).
BAG_TABLE_KEYS = {
    "adressen": "nummer_id",
    "gemeenten": "id",
    "woonplaatsen": "id",
    "openbare_ruimten": "id",
    "provincies": "id",
    "nummers": "id",
    "panden": "id",
    "verblijfsobjecten": "id",
    "ligplaatsen": "id",
    "standplaatsen": "id",
    "gemeente_woonplaatsen": None,
}


def write_bag_sqlite(
    tables: dict[str, DataFrame],
    db_path: str,
    include: Iterable[str] | None = None,
) -> dict[str, int]:
    """Write the BAG table dict (plans.bag_job.import_bag output) to one
    SQLite file in the reference's layout. ``include`` defaults to the
    consumer-facing set the reference leaves after
    delete_no_longer_needed_bag_tables (readme.MD:54-78)."""
    names = list(include) if include is not None else [
        "adressen", "gemeenten", "woonplaatsen", "openbare_ruimten",
        "provincies",
    ]
    counts: dict[str, int] = {}
    for name in names:
        if name not in tables:
            continue
        counts[name] = write_sqlite_table(
            tables[name], db_path, name, primary_key=BAG_TABLE_KEYS.get(name)
        )
    return counts
