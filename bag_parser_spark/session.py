"""SparkSession factory tuned for the engine.

The reference pins parallelism to physical cores (reference config.py:50-60);
here parallelism is Spark's task scheduling. Defaults are sized for the test
harness (local[N]) but every knob scales: AQE handles skew/coalescing at
cluster scale, shuffle partitions follow core count, and the session timezone
is pinned to UTC so date arithmetic is reproducible across engines.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "bag-parser-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = default_parallelism()
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Scale levers: AQE re-plans joins at runtime (broadcast promotion,
        # skew-split), coalesces post-shuffle partitions. At 100 TB these are
        # the difference between a plan that works and one that spills.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Deterministic timestamp semantics (match DuckDB's naive reads).
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for any pandas_udf / toPandas path.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # Bound plan-string construction. QueryExecution stringifies the
        # plan for every action's execution event, and deep multi-stage
        # pipelines (prepare_corpus: scan -> quality -> c4 -> gopher ->
        # 2x dedup, each a self-join) print SHARED subtrees once per
        # reference — measured 2.1 GB / ~90 s PER ACTION at the default
        # Int.MaxValue cap (five such builds dominated a small e2e run
        # and OOMed 16 GB drivers). 1 MiB keeps plans debuggable while
        # making the cost invisible; .explain() output is unaffected for
        # every plan a human actually reads.
        .config("spark.sql.maxPlanStringLength", str(1 << 20))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # r11 optimization-round knob (guide §1.2 step 3), scale-neutral:
        # the default 100 compiled-class codegen-cache entries thrash on
        # any workload that cycles through more than ~a few dozen
        # distinct plans (the 41-query bench recompiled every stage of
        # every rep; a long-lived cluster session serving many queries
        # hits the same wall). Driver+executor memory cost is bounded
        # (compiled classes, not data). Measured: a broad ~0.2-0.7 s/query
        # drop across UNTOUCHED bench queries when reps stopped
        # recompiling. (guide §3.1's preferSortMergeJoin=false was ALSO
        # A/B-measured here: sort-merge+AQE won 7 of 10 paired
        # measurements on this suite — e.g. dedup_embedding_cosine
        # 2.72 s SMJ vs 3.27 s SHJ-preferred — so the default stays.)
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # AQE coalescing floor (guide §2.2 vs §2.5 trade): AQE merges
        # post-shuffle partitions down to this size even when
        # parallelismFirst is on, and the 1m default serializes
        # CPU-dense low-byte stages (a few MB of md5-heavy shingle
        # rows coalesced onto <= 5 tasks while 27 cores idle —
        # measured: decontaminate_bloom 3.7 -> 2.7 s, verified_pairs
        # 4.0 -> 3.0 s at 128k). The floor only binds when a stage's
        # bytes are small relative to cores, so at cluster scale
        # (GB-sized stages) it is a no-op — partition sizing there is
        # still parallelism/advisory-driven. Deployments whose cost
        # model differs override it through ``extra_conf``.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize", "128k"
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def release_cached_blocks(spark: SparkSession) -> int:
    """Release EVERY cached block the session holds: CacheManager entries
    (df.persist / table caches — what spark.catalog.clearCache() covers)
    plus raw persistent RDDs that bypass the CacheManager
    (``localCheckpoint`` in dup_clusters leaves these — clearCache never
    sees them, so bench reps would accumulate checkpoint blocks).
    Returns the number of persistent RDDs dropped. Call between bench
    reps / after materializing a persist-using catalog query; operators
    deliberately do NOT self-unpersist because their caller owns the
    action (module convention — unpersisting before the caller's action
    would re-execute the shared subtrees the persist exists to dedupe).
    """
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc
    rdds = list(jsc.getPersistentRDDs().values())
    for jrdd in rdds:
        jrdd.unpersist(False)
    return len(rdds)
