"""Scale-adaptive fan-out for CPU-dense work riding a too-small scan.

The optimization guide's input-skew rule (§2.5): "one huge unsplittable
file — fix at the source if you can; otherwise repartition immediately
after the read." A parquet file is unsplittable below the row-group
level, so a scan whose input is one (or a few) single-row-group files
runs as ONE task no matter how many cores the cluster has — and every
map-side expression riding that scan (per-token md5 fans, Arrow batch
UDFs, regex extraction) serializes onto one core. The r12 profiling
pass measured exactly this on the bench inputs: the per-feature hash
stream of ``sample_dsir`` spent 2.0 s of WARM single-task CPU in the
scan stage while 31 cores idled.

``fan_out_cpu_dense`` spreads such an input across the default
parallelism with one deterministic hash repartition — but only when
the optimizer's size estimate says the input is small enough that the
scan cannot already be producing enough splits to fill the cores.
Above the threshold the function is an exact no-op (the plan is
returned unchanged, no exchange is added), so at cluster scale —
where inputs are TB-sized and split naturally — the repartition
disappears and the plan is byte-identical to the unguarded form.
The threshold is the module constant ``FANOUT_MAX_BYTES`` (256 MiB;
``0`` disables fan-out entirely, which is also the A/B switch: patch
the constant, as the guard's test does). 256 MiB crosses a 3 GB/s
NIC in under 100 ms (guide §1.3 napkin math), while CPU-dense map
work over it costs seconds to minutes serial — the trade is safe by
orders of magnitude wherever this helper is applied.

Only operators with MEASURED CPU-dense map stages call this; a scan
feeding cheap projections does not (the r11 ``_link_pages`` experiment
measured that case worse — the exchange plus extra scheduled stages
cost more than the cheap warm extraction saved).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from bag_parser_spark.session import default_parallelism

FANOUT_MAX_BYTES = 256 << 20


def _plan_size_bytes(df: DataFrame) -> int | None:
    """Optimizer-estimated size of the frame, in bytes. Driver-side plan
    analysis only — runs no job. None when the estimate is unavailable
    (callers must treat that as 'large': never add a surprise exchange
    on a frame we cannot size)."""
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        return int(stats.sizeInBytes())
    except Exception:
        return None


def fan_out_cpu_dense(
    df: DataFrame, *key_cols: str, parts: int | None = None
) -> DataFrame:
    """Hash-repartition ``df`` across ``parts`` (default: the session's
    default parallelism) partitions keyed on ``key_cols`` IF the
    optimizer estimates it below the fan-out threshold; return it
    unchanged otherwise. Keyed repartition (never round-robin): the
    row-to-partition map is a pure function of the key, so task retries
    and speculative copies land rows identically (guide §2.5 —
    SPARK-38388 class of bugs cannot happen)."""
    if FANOUT_MAX_BYTES <= 0:
        return df
    size = _plan_size_bytes(df)
    if size is None or size > FANOUT_MAX_BYTES:
        return df
    return df.repartition(parts or default_parallelism(), *key_cols)
