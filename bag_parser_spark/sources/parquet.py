"""Parquet table loading for the driver's synthetic star schema.

Columnar scans give us what the reference hand-implements: column pruning
(reference bag_parser.py:97-99 whitelists XML fields) and early filtering
(reference bag_parser.py:106-107) arrive free via Catalyst pushdown into the
parquet reader — verify with .explain() showing PushedFilters/ReadSchema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Pin timestamp semantics to UTC even under a caller-owned session —
    # date formatting/extraction must match the (naive-timestamp) oracle
    # regardless of the host timezone.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # events.parquet carries INT64 TIMESTAMP(NANOS), which vanilla Spark
        # refuses; read nanos as long and rebuild a (microsecond) timestamp.
        # Runtime conf so it also works under a driver-owned session.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if dict(df.dtypes).get("ts") == "bigint":
            from pyspark.sql import functions as F

            # integer div, NOT `/ 1000`: float division of ~1.7e18 nanos
            # exceeds double's 2^53 precision and lands a micro off
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    num_buckets: int,
    sort_cols: list[str] | None = None,
) -> None:
    """S11 replacement: the reference builds B-tree indices on join keys
    (reference database_sqlite.py:274-289) to make its update-joins cheap.
    Spark has no indices; the equivalent is bucketed storage — data
    pre-shuffled into ``num_buckets`` files by key at WRITE time so every
    later join/aggregation on that key is exchange-free (the one-time
    shuffle is amortized over all downstream readers, exactly what an
    index build is). At 100 TB: bucket both sides of the recurring big-big
    join (nummers ⋈ verblijfsobjecten) on the join key with equal bucket
    counts; optional sortBy gives sort-merge join its order for free."""
    w = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(num_buckets, *bucket_cols)
    )
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table_name)


def load_tables(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}

