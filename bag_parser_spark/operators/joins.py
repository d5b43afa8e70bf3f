"""Join operators (SURVEY §2.3 J1-J9).

All reference joins are equi left-outer joins against SQLite; several are
*update-joins* (UPDATE … FROM = left join + column overwrite). Spark-first
mapping:

- Dimension sides are broadcast (`F.broadcast`) — at 100 TB the fact table
  never shuffles for a dim lookup; only genuinely big-big joins (e.g.
  nummers ⋈ verblijfsobjecten, ~9.5M × 9M at NL scale, far larger on a
  training corpus) go sort-merge on the join key, and AQE converts to
  broadcast at runtime when a side turns out small.
- Every update-join goes through ``update_join(target, source, key)``: the
  caller builds a narrow source, unique on ``key``, whose other columns are
  named after the target columns they write. Matched rows take the source
  values (NULL included), unmatched rows keep theirs, and a source column
  the target lacks is added (NULL where unmatched). The reference's
  sequential UPDATE passes (database_sqlite.py:79-85, 398-530) compose as
  DataFrame → DataFrame calls into one lineage — Catalyst collapses the
  projections; ordering is preserved by construction.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def chained_left_join(
    fact: DataFrame,
    dims: Sequence[
        tuple[DataFrame, Column | str | list[str]]
        | tuple[DataFrame, Column | str | list[str], bool]
    ],
) -> DataFrame:
    """J1/J9: fact LEFT JOIN dim1 LEFT JOIN dim2 … (reference
    database_sqlite.py:347-375, exporter.py:52-73).

    Each dim is (DataFrame, join-condition[, broadcast]). True dimension
    tables broadcast so the snowflake lookup chain (adressen ⋈
    openbare_ruimten ⋈ gemeenten ⋈ woonplaatsen ⋈ provincies) never
    shuffles the fact table. Pass ``broadcast=False`` for big-big sides
    (e.g. nummers ⋈ verblijfsobjecten at NL scale): NO hint is planted and
    AQE picks sort-merge at scale or converts to broadcast at runtime when
    the side turns out small — forcing a broadcast hint on a fact-sized
    side is an OOM at 1000 executors.
    """
    out = fact
    for spec in dims:
        dim, on = spec[0], spec[1]
        right = F.broadcast(dim) if len(spec) < 3 or spec[2] else dim
        out = out.join(right, on=on, how="left")
    return out


def update_join(target: DataFrame, source: DataFrame, key: str) -> DataFrame:
    """J2-J6: UPDATE target SET c = source.c FROM source WHERE
    target.key = source.key, for every non-key column c of ``source``
    (reference database_sqlite.py:79-85, 398-530) — the one update-join.

    Matched rows take the source's value, NULL included; unmatched rows
    keep their own. A source column the target lacks is added, NULL on
    unmatched rows. The source must be unique on ``key`` (the reference
    inherits SQLite's pick-one; callers dedupe first).

    The key and the packed source row travel under private names; the
    row is NULL exactly on unmatched rows, so it is the match flag, and
    one projection does every overwrite. Packing keeps the source whole
    under column pruning: a self-join branch that reads fewer of its
    columns (``apply_nevenadressen``'s hoofd side) plans the same
    broadcast and reuses it instead of building a pruned copy. A
    ``F.broadcast(source)`` hint carries through the packing.
    """
    cols = [c for c in source.columns if c != key]
    src = source.select(
        F.col(key).alias("__uj_key__"), F.struct(*cols).alias("__uj_row__")
    )
    row = F.col("__uj_row__")
    out = target.join(src, F.col(key) == F.col("__uj_key__"), "left")
    return out.withColumns({
        c: F.when(row.isNotNull(), row[c]).otherwise(F.col(c))
        if c in target.columns
        else row[c]
        for c in cols
    }).drop("__uj_key__", "__uj_row__")


def conditional_orphan_delete(
    df: DataFrame,
    dim: DataFrame,
    on: Column | str | list[str],
    threshold: int,
) -> DataFrame:
    """P12: delete orphan rows only when their count is below a threshold
    (reference database_sqlite.py:604-612, config.py:48 — orphan adressen
    are deleted only if fewer than ``delete_addresses_without_public_spaces_
    threshold``; a large count signals systemic breakage and the reference
    refuses to mass-delete).

    The orphan count is one driver-side action — the same control-flow
    decision the reference makes; both branches stay fully distributed
    (left_anti count, then left_semi keep or unchanged pass-through).
    left_anti keeps rows whose key is NULL, so the one count covers NULL
    and dangling keys alike, and left_semi drops both. With no orphans
    the table passes through without a semi-join.
    """
    n_orphans = df.join(dim, on=on, how="left_anti").count()
    if 0 < n_orphans < threshold:
        return df.join(dim, on=on, how="left_semi")
    return df


def anti_join(left: DataFrame, right: DataFrame, on: Column | str | list[str]) -> DataFrame:
    """J7: NOT IN subquery semantics (reference database_sqlite.py:649-677).
    Spark's left_anti is NULL-safe unlike SQL NOT IN; the reference's probe
    sets are PK columns (never NULL) so semantics coincide."""
    return left.join(right, on=on, how="left_anti")


def semi_join(left: DataFrame, right: DataFrame, on: Column | str | list[str]) -> DataFrame:
    """J8: IN subquery / DISTINCT-probe semantics (database_sqlite.py:651,659)."""
    return left.join(right, on=on, how="left_semi")


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    salt: int = 16,
    how: str = "inner",
    salt_source: str | None = None,
) -> DataFrame:
    """Skew-mitigated equi-join: scatter each hot join key across ``salt``
    sub-keys. The left (big, skewed) side gets a deterministic salt from a
    hash of ``salt_source`` (default: the join key's row via xxhash64 of
    all columns); the right side is replicated ``salt`` times via a
    sequence explode, and the join runs on (key, salt).

    Result is IDENTICAL to ``left.join(right, on, how)`` — salting only
    changes the partition layout, so the oracle for a salted join is the
    plain join. Use when one key holds a disproportionate share of rows
    (a power-law domain column, a null-heavy foreign key): a plain
    shuffle join puts the whole hot key in one task; salted, it spreads
    over ``salt`` tasks at the cost of replicating the small side
    ``salt``x — the classic trade, cheap when the right side is
    dimension-sized. AQE skew-join handles moderate skew automatically;
    explicit salting is for the extreme tail where one key exceeds a
    whole executor.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    src = (
        [F.col(salt_source)]
        if salt_source is not None
        else [F.col(c) for c in left.columns]
    )
    l = left.withColumn("__salt__", F.pmod(F.xxhash64(*src), F.lit(salt)))
    r = right.withColumn(
        "__salt__", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    ).withColumn("__salt__", F.col("__salt__").cast("long"))
    return l.join(r, on=[on, "__salt__"], how=how).drop("__salt__")


def merge_apply(
    target: DataFrame,
    cdc: DataFrame,
    key: str,
    op_col: str = "op",
) -> DataFrame:
    """Apply a CDC batch to a snapshot — the relational core of MERGE INTO
    (Delta/Iceberg) and the incremental twin of the reference's REPLACE
    INTO upsert (reference database_sqlite.py:500-521, S7): the batch
    carries inserts/updates/deletes tagged in ``op_col`` ('I'/'U'/'D');
    the result is the next snapshot — untouched target rows, plus the
    I/U payloads, minus deleted keys.

    Shape: ONE left_anti join of the snapshot against the batch's key set
    (every key in the batch supersedes the target row — update and delete
    both remove the old version) unioned with the batch's surviving
    payloads. The anti join broadcasts when the batch is dimension-sized
    — the overwhelmingly common CDC case — so the snapshot never
    shuffles; a union is a no-op at plan level (no exchange). The batch
    must be key-unique (one op per key per batch — enforce upstream with
    last-write-wins, operators/dedup.py).
    """
    cols = [c for c in target.columns]
    keys = cdc.select(key)
    kept = target.join(F.broadcast(keys), on=key, how="left_anti")
    upserts = cdc.filter(F.col(op_col) != "D").select(*cols)
    return kept.unionByName(upserts)
