"""Physical-plan contract tests: the scale properties SURVEY §4 promises
(pushdown, pruning, broadcast dims, map-only projections, bounded shuffle
counts) asserted against the actual Catalyst output, so a refactor that
silently regresses the 100 TB shape fails CI — not a code review.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from bag_parser_spark.plans.catalog import registry
from tests.conftest import SF_CORRECT


@pytest.fixture(autouse=True)
def _uncached_plans(spark):
    """Every plan-shape assertion targets the CANONICAL uncached plan: a
    persisted subtree left by an earlier test (the catalog shares
    pipelines — e.g. dedup_lsh_recall persists the minhash pair tree)
    inlines the InMemoryRelation's child plan, exchanges included, making
    exchange counts drift with suite ordering."""
    spark.catalog.clearCache()


def _plan(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_j1_pushdown_pruning_broadcast(spark):
    df = registry()["j1_chained_left_join"].fn(spark, SF_CORRECT)
    plan = _plan(df)
    # selective filter reaches the parquet scan
    assert "GreaterThanOrEqual(l_quantity,30.0)" in plan
    # column pruning: untouched wide columns never leave the scan
    assert "l_comment" not in plan and "l_shipdate" not in plan
    # the two true dims are broadcast (hinted); fact side never shuffles in
    # the initial plan — no shuffle exchange at all in this join chain
    assert plan.count("BroadcastExchange") >= 2
    assert "Exchange hashpartitioning" not in plan


def test_a1_partial_aggregation_and_pushdown(spark):
    df = registry()["a1_grouped_stats"].fn(spark, SF_CORRECT)
    plan = _plan(df)
    # map-side combine: partial + final aggregate pair around one exchange
    # (SortAggregate here — the min(string) any-value buffer is immutable,
    # so Spark can't use the hash-map variant; partial_* still runs
    # map-side, which is what bounds the shuffle volume)
    assert "partial_sum" in plan and "partial_count" in plan
    assert _plan(df, "simple").count("Exchange hashpartitioning") == 1
    # the <> '' predicate reaches the scan
    assert "PushedFilters" in plan and "p_brand" in plan


def test_f6_map_only_codegen(spark):
    df = registry()["f6_rd_to_wgs84"].fn(spark, SF_CORRECT)
    plan = _plan(df, "simple")
    # coordinate transform is a pure projection: no shuffle, no sort, and
    # the polynomial stays inside whole-stage codegen
    assert "Exchange" not in plan
    assert "Sort" not in plan
    # whole-stage codegen span = the "*(n)" stage marker in simple mode
    assert "*(1)" in plan


def test_j7_plans_left_anti(spark):
    df = registry()["j7_anti_join"].fn(spark, SF_CORRECT)
    plan = _plan(df, "simple")
    assert "LeftAnti" in plan


def test_w1_single_shuffle(spark):
    df = registry()["w1_last_write_wins"].fn(spark, SF_CORRECT)
    plan = _plan(df, "simple")
    # dedup window = exactly one shuffle on the key
    assert plan.count("Exchange hashpartitioning") == 1


def test_minhash_bounded_shuffles(spark):
    # clearCache: assert the CANONICAL uncached shape — persisted subtrees
    # left by other tests (e.g. dedup_lsh_recall shares this pipeline)
    # inline InMemoryRelation children and inflate the exchange count.
    spark.catalog.clearCache()
    df = registry()["dedup_minhash_lsh"].fn(spark, SF_CORRECT)
    plan = _plan(df, "simple")
    # signature agg + band-bucket agg + pair distinct; the window inside
    # word_shingle_rows shares the signature agg's partitioning. More
    # exchanges than this means a lineage got duplicated (self-join trap).
    assert plan.count("Exchange hashpartitioning") <= 4
    # document text must never be shuffled: exchanges carry ids/hashes only
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text#" not in line


def test_split_and_pack_shapes(spark):
    reg = registry()
    split_plan = _plan(reg["split_train_test"].fn(spark, SF_CORRECT), "simple")
    # hash split is map-only: stable under any partitioning because it
    # never depends on one
    assert "Exchange" not in split_plan
    pack_plan = _plan(reg["pack_sequences"].fn(spark, SF_CORRECT), "simple")
    # packing = one shuffle (by shard) + in-partition sort for the cumsum
    assert pack_plan.count("Exchange hashpartitioning") == 1
    # bin packing (r11): one (len_class, shard) window shuffle, zero
    # joins — the class ladder / md5 fold / divmod all ride the scan
    bins_plan = _plan(reg["sample_pack_bins"].fn(spark, SF_CORRECT), "simple")
    assert bins_plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in bins_plan


def test_a9_rollup_single_expand_single_exchange(spark):
    df = registry()["a9_rollup"].fn(spark, SF_CORRECT)
    plan = _plan(df, "simple")
    # ROLLUP compiles to ONE Expand + one partial/final agg pair — not one
    # GROUP BY per lattice level (which would re-scan per level at 100 TB)
    assert plan.count("Expand") == 1
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_count" in plan and "partial_sum" in plan


def test_w3_single_window_pass(spark):
    df = registry()["w3_rank_battery"].fn(spark, SF_CORRECT)
    plan = _plan(df, "simple")
    # all five rank functions share one window spec -> Spark fuses them
    # into ONE physical Window operator: one shuffle, one sort
    assert plan.count("Window") == 1
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Sort") == 1


def test_a11_moments_shuffle_carries_three_longs(spark):
    df = registry()["a11_exact_moments"].fn(spark, SF_CORRECT)
    plan = _plan(df, "simple")
    # sufficient statistics aggregate map-side; the double math is a
    # post-agg projection, never per-row
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_sum" in plan and "partial_count" in plan
    # no native stddev/var aggregate anywhere (order-dependent partials);
    # the native form would plan partial_stddev/partial_var buffers
    assert "partial_stddev" not in plan and "partial_var" not in plan


def test_pii_redact_map_only_codegen(spark):
    df = registry()["text_pii_redact"].fn(spark, SF_CORRECT)
    plan = _plan(df, "simple")
    # pure projection: regex machinery stays in whole-stage codegen,
    # zero exchanges — linear scan at any corpus size
    assert "Exchange" not in plan
    assert "*(1)" in plan
    # only the two needed columns leave the scan
    fplan = _plan(df)
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in fplan


def test_gapfill_spine_from_aggregate_not_events(spark):
    df = registry()["ts_gapfill"].fn(spark, SF_CORRECT)
    plan = _plan(df, "simple")
    # the spine explodes a per-key (min,max) AGGREGATE — bounded by time
    # span — never the raw event rows
    assert "explode(sequence(" in plan
    assert plan.count("Generate") == 1
    # bucketing + bounds + window: at most 3 key shuffles before AQE
    assert plan.count("Exchange hashpartitioning") <= 3
    assert plan.count("Window") == 1


def test_kmeans_step_broadcast_centroids_partial_aggs(spark):
    df = registry()["ml_kmeans_step"].fn(spark, SF_CORRECT)
    plan = _plan(df, "simple")
    # centroid components ride a broadcast; the n*k distance product is
    # collapsed map-side before any exchange
    assert "BroadcastExchange" in plan
    assert "partial_sum(((vq" in plan or "partial_sum" in plan
    # argmin is a partial-aggregable min(struct), NEVER a window over n*k
    assert "partial_min(struct(d2" in plan
    assert "Window" not in plan


def test_no_rdd_api_and_bounded_driver_actions():
    """Design-discipline gate, enforced mechanically: the engine is
    DataFrame-first (no RDD API anywhere — Catalyst can't see through an
    RDD), and driver-side actions (.collect/.count/.toPandas) appear ONLY
    at the documented tiny-result sites — validation counters, k-sized
    centroid pulls, convergence probes. A new .collect() in an operator
    hot path fails here, not in a 100 TB postmortem."""
    import pathlib
    import re

    pkg = pathlib.Path(__file__).parent.parent / "bag_parser_spark"
    # rel path -> None (any function may act — CLI/report surfaces) or
    # the EXACT set of function names allowed to act (VERDICT r11 #5:
    # a whole-file pass on an operator module would silently bless the
    # next collect() added anywhere in it)
    allowed_actions: dict[str, set[str] | None] = {
        "plans/validate.py": None,   # invariant battery: count/collect
        "plans/bag_pipeline.py": set(),  # the orphan count lives in
                                  # joins.conditional_orphan_delete
        "operators/joins.py": {"conditional_orphan_delete"},  # the
                                  # documented 1-scalar orphan count
                                  # gating delete vs no-op
        "operators/dedup.py": {"dup_clusters"},   # CC convergence probe
        "operators/similarity.py": {
            "ivf_topk",                  # centroid pull (k rows)
            "_block_pairs",              # big-cell guard (<= |cells| rows)
            "embedding_neardup_pairs",   # adaptive-collapse probe (1 row)
        },
        "__main__.py": None,         # CLI driver: report rows + counters
        "sources/sqlite_compat.py": None,  # driver-side sink by design
        "plans/corpus_prep.py": None,  # CLI summary: per-split counts
        "streaming/corpus.py": {
            "_ingest_batch_inner",   # 1-scalar survivor count gating the
                                     # state append (a write-side effect
                                     # decision, inherently driver-side)
            "init_dsir_state",       # returns the written lam row count
            "backfill_signatures",   # repair path: orphan count gating
                                     # the signature append + report
            "rebuild_domain_counts", # repair path: written-rows report
        },
        "operators/urls.py": {"apply_robots"},  # broadcast size guard:
                                  # one count of the AGGREGATED rules
                                  # side routing broadcast vs shuffle —
                                  # a plan decision (VERDICT r8 #1)
        "operators/sketches.py": {"bloom_confirmed_counts"},  # collect
                                  # of the <= m set-bit positions into
                                  # the bitmap (m guarded <= 2^24;
                                  # literal <= 2^20, broadcast relation
                                  # above — r11/r12 opt)
        "plans/catalog_web.py": {"q_ml_pagerank_converged"},  # node
                                  # count: one 1-row scalar whose
                                  # literal rides the damping
                                  # expression (r11 opt)
    }
    action_re = re.compile(r"\.collect\(\)|\.count\(\)|\.toPandas\(\)")

    def _strip(src: str) -> str:
        code = re.sub(r'"""[\s\S]*?"""', "", src)
        return "\n".join(l.split("#")[0] for l in code.splitlines())

    def _enclosing_defs(code: str) -> list[tuple[str, str]]:
        """(top-level def name, its body text) pairs, module tail under
        the name ''. Column-0 'def'/'class' lines delimit blocks."""
        blocks: list[tuple[str, list[str]]] = [("", [])]
        for line in code.splitlines():
            m = re.match(r"(?:def|class)\s+(\w+)", line)
            if m:
                blocks.append((m.group(1), []))
            blocks[-1][1].append(line)
        return [(n, "\n".join(ls)) for n, ls in blocks]

    for py in sorted(pkg.rglob("*.py")):
        rel = str(py.relative_to(pkg))
        code = _strip(py.read_text())
        assert ".rdd" not in code and "parallelize(" not in code, (
            f"{rel}: RDD API leaked into the DataFrame-first engine"
        )
        if not action_re.search(code):
            continue
        allowed = allowed_actions.get(rel, set())
        if allowed is None:
            continue
        offenders = [
            name or "<module>"
            for name, body in _enclosing_defs(code)
            if action_re.search(body) and name not in allowed
        ]
        if offenders:
            raise AssertionError(
                f"{rel}: driver-side action in {offenders} outside the "
                "allow-list — distribute it or document it here"
            )


def test_events_ema_single_shuffle_no_window(spark):
    """EMA is one groupBy shuffle + an in-expression fold: no window pass,
    no second exchange, no Python UDF."""
    df = registry()["events_ema"].fn(spark, SF_CORRECT)
    plan = _plan(df, "simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" not in plan
    assert "EvalPython" not in plan


def test_events_funnel_pushdown_and_broadcast_stages(spark):
    """Each funnel stage scans a type-pruned events slice (filter reaches
    the scan) and stage tables join by broadcast — never sort-merge."""
    df = registry()["events_funnel"].fn(spark, SF_CORRECT)
    plan = _plan(df)
    assert "PushedFilters" in plan and "event_type" in plan
    assert "SortMergeJoin" not in plan


def test_cohort_retention_broadcast_cohorts(spark):
    """The per-user cohort table broadcasts into the activity stream —
    no sort-merge join, and week truncation stays in codegen (no UDF)."""
    df = registry()["cohort_retention"].fn(spark, SF_CORRECT)
    plan = _plan(df, "simple")
    assert "SortMergeJoin" not in plan
    assert "EvalPython" not in plan


def test_lm_doc_score_partial_agg_no_udf(spark):
    """The LM build keeps map-side combine (partial_count) and the whole
    pipeline stays JVM-side — fold included (F.aggregate, not a UDF)."""
    df = registry()["lm_doc_score"].fn(spark, SF_CORRECT)
    plan = _plan(df)
    assert "partial_count" in plan
    assert "EvalPython" not in plan


def test_interval_join_is_banded_equi_join(spark):
    """The interval join must plan as an EQUI join keyed on (key, band) —
    never a broadcast-nested-loop/cartesian over the theta predicate —
    so per-task width is bounded even for one hot key."""
    df = registry()["ts_interval_join"].fn(spark, SF_CORRECT)
    plan = _plan(df)
    assert "__band__" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_tpch_q1_one_shuffle_pushed_filter(spark):
    """Q1 is scan -> partial agg -> ONE exchange -> final agg; the date
    filter reaches the parquet scan."""
    df = registry()["tpch_q1_pricing_summary"].fn(spark, SF_CORRECT)
    assert _plan(df, "simple").count("Exchange hashpartitioning") == 1
    plan = _plan(df)
    assert "PushedFilters" in plan and "l_shipdate" in plan


def test_tpch_q3_top10_heap_not_global_sort(spark):
    """Q3's LIMIT 10 must plan as TakeOrderedAndProject (per-partition
    heaps), never a global Sort, and the BUILDING customers broadcast."""
    df = registry()["tpch_q3_shipping_priority"].fn(spark, SF_CORRECT)
    plan = _plan(df, "simple")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan


def test_tpch_q6_map_only_no_join(spark):
    """Q6 is the pure filter-and-sum: no join anywhere, all predicates
    at the scan, single 1-row exchange."""
    df = registry()["tpch_q6_forecast_revenue"].fn(spark, SF_CORRECT)
    plan = _plan(df, "simple")
    assert "Join" not in plan
    full = _plan(df)
    assert "PushedFilters" in full and "l_quantity" in full


def test_salted_join_no_straggler_partition(spark):
    """j10: the skew fix must actually fix the skew. Plan level: with the
    small side above the broadcast threshold (the case salting exists
    for — a broadcast join never shuffles and has no straggler), both
    join inputs hash-partition on (source, __salt__), never on the bare
    hot key. Runtime level: no (source, salt) work cell concentrates a
    hot key's rows, so no single task inherits a whole hot key at scale."""
    from pyspark.sql import functions as F

    from bag_parser_spark.operators import joins
    from bag_parser_spark.sources.parquet import load_table

    d = load_table(spark, SF_CORRECT, "documents").select(
        "doc_id", "source", "n_chars"
    )
    dim = d.groupBy("source").agg(F.count("*").alias("src_docs"))
    joined = joins.salted_join(d, dim, on="source", salt=16,
                               salt_source="doc_id")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _plan(joined, "simple")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    salted_exchanges = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln and "__salt__" in ln
    ]
    # both sides of the join co-partition on (key, salt)
    assert len(salted_exchanges) >= 2, plan
    # the only bare-key exchange is the tiny dim aggregation itself (5
    # rows); the FACT side must never exchange on the bare hot key
    bare = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln and "__salt__" not in ln
    ]
    assert len(bare) <= 1, bare

    # runtime spread: the hottest key's rows split across many salt cells
    l = d.withColumn(
        "__salt__", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(16))
    )
    cells = (
        l.groupBy("source", "__salt__").count().collect()
    )
    per_source = {}
    for r in cells:
        per_source.setdefault(r["source"], []).append(r["count"])
    for source, counts in per_source.items():
        assert len(counts) > 8, f"{source} landed in only {len(counts)} cells"
        assert max(counts) < 0.5 * sum(counts), (
            f"{source}: one salt cell holds {max(counts)}/{sum(counts)} rows"
        )


def test_tpch_q21_decorrelated_equi_shape(spark):
    """Q21's EXISTS/NOT-EXISTS pair is decorrelated into per-order
    distinct-supplier counts: the plan must show two LeftSemi EQUI joins
    against those aggregates — no LeftAnti with a non-equi residual (the
    supplier-inequality probe re-expands hot orders per row), no
    cartesian fallback — and the top-20 as a TakeOrderedAndProject
    heap."""
    spark.catalog.clearCache()
    df = registry()["tpch_q21_waiting_suppliers"].fn(spark, SF_CORRECT)
    plan = _plan(df, "simple")
    assert plan.count("LeftSemi") >= 2
    assert "LeftAnti" not in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_tpch_q19_derives_prejoin_filters(spark):
    """Q19's OR-of-ANDs predicate spans both join inputs; Catalyst must
    still derive per-side pre-join filters from the disjunction (the
    quantity envelope on lineitem, the brand set on part) instead of
    evaluating everything post-join."""
    df = registry()["tpch_q19_disjunctive_revenue"].fn(spark, SF_CORRECT)
    full = _plan(df)
    assert "PushedFilters" in full and "l_quantity" in full
    assert "p_brand" in full


def test_tpch_q15_q17_single_fact_scan(spark):
    """Q15/Q17 reference a derived aggregate twice (scalar-max probe,
    per-part stats); the persist must collapse that to ONE lineitem scan
    — the second branch reads the InMemory relation, not parquet."""
    for name in ("tpch_q15_top_supplier", "tpch_q17_small_qty_revenue"):
        df = registry()[name].fn(spark, SF_CORRECT)
        plan = _plan(df)
        assert plan.count("lineitem") == 1, name
        assert "InMemoryTableScan" in plan, name


def test_tpch_q7_broadcast_dims_one_shuffle_join(spark):
    """Q7's five dimension joins (supplier, customer, nation x2) must all
    broadcast; the only shuffled join is orders<->lineitem."""
    df = registry()["tpch_q7_volume_shipping"].fn(spark, SF_CORRECT)
    plan = _plan(df, "simple")
    assert plan.count("BroadcastHashJoin") >= 4
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 1


def test_repeated_substrings_no_allpairs_bounded_shuffles(spark):
    """Substring dedup must stay a grouped-aggregation pipeline: never a
    cartesian/nested-loop doc-pair join, the shared-window set broadcast
    back (not shuffled), and at most 4 hash exchanges — (window,doc)
    combine, window rollup, the per-doc rollup, and AQE's reuse.

    clearCache first: the exchange count asserts the CANONICAL uncached
    shape — if an earlier test left this query's persisted subtree in the
    block manager, the plan inlines the InMemoryRelation's child (its own
    exchanges included) and the count drifts with suite ordering."""
    spark.catalog.clearCache()
    df = registry()["dedup_repeated_substrings"].fn(spark, SF_CORRECT)
    plan = _plan(df, "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange hashpartitioning") <= 4


def test_market_basket_single_fact_scan(spark):
    """The distinct (order, part) projection feeds three consumers (N,
    item counts, baskets); it must be persisted so the fact table is
    scanned and the distinct shuffle run ONCE at cache fill — every
    consumer must read InMemoryTableScan, not its own parquet scan.
    (The explain text inlines the cached relation's child plan per
    consumer, so counting 'lineitem' mentions would not measure scans.)"""
    df = registry()["a25_market_basket"].fn(spark, SF_CORRECT)
    plan = _plan(df, "simple")
    assert plan.count("InMemoryTableScan") >= 3


def test_incremental_lsh_never_rescans_base_docs(spark, tmp_path):
    """The production contract of minhash_lsh_pairs_incremental: the base
    corpus contributes ONLY its stored signature table — the plan must
    scan the signatures parquet, never the base documents (re-shingling
    the corpus for a daily increment is exactly what the operator
    exists to avoid)."""
    from pyspark.sql import functions as F

    from bag_parser_spark.operators import dedup

    base_docs_path = str(tmp_path / "base_docs")
    sigs_path = str(tmp_path / "sigs")
    base = spark.read.parquet(f"{SF_CORRECT}/documents.parquet").select(
        "doc_id", "text"
    )
    base.write.parquet(base_docs_path)
    dedup.minhash_signatures(
        spark.read.parquet(base_docs_path), "doc_id", "text", 3, 12
    ).write.parquet(sigs_path)

    new = base.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail")).alias("text"),
    )
    pairs = dedup.minhash_lsh_pairs_incremental(
        new,
        spark.read.parquet(sigs_path),
        id_col="doc_id",
        text_col="text",
    )
    plan = _plan(pairs)
    assert "sigs" in plan                  # base side: signature scan
    assert "base_docs" not in plan         # base docs never touched


def test_runtime_cached_plan_shapes_persist_queries(spark):
    """VERDICT r5 #6: pin the RUNTIME plan shape of the persist()-heavy
    queries instead of documenting a static-count caveat. The executed-
    plan string inlines each InMemoryRelation's build subtree into every
    reference (60 'exchanges' for dedup_verified_pairs), but at runtime
    the CacheManager builds each distinct cached relation once and the
    other references are InMemoryTableScans — plan_stats deduplicates
    the subtrees (exprIds/codegen-ids/depth normalized) and counts what
    actually executes."""
    from bag_parser_spark.plans.plan_stats import runtime_plan_stats

    reg = registry()

    def stats(name):
        df = reg[name].fn(spark, SF_CORRECT)
        return runtime_plan_stats(
            df._jdf.queryExecution().executedPlan().toString()
        )

    st = stats("dedup_verified_pairs")
    # shared shingle rows + banded projection + candidate pairs +
    # verified distinct-shingle rows = 4 distinct cached relations…
    assert st["cached_distinct"] == 4, st
    # …each actually REUSED (more references than relations)
    assert st["cached_refs"] > st["cached_distinct"], st
    # executed shuffles are the ~8 the design intends, nowhere near the
    # inlined static count
    assert st["runtime_exchanges"] <= 10 < st["static_exchanges"], st

    spark.catalog.clearCache()
    st = stats("dedup_semantic")
    assert st["cached_distinct"] == 1, st  # the assignment projection
    assert st["cached_refs"] >= 2, st      # both sides of the pair join
    assert st["runtime_exchanges"] <= 4, st

    spark.catalog.clearCache()
    st = stats("dedup_incremental")
    assert st["cached_distinct"] == 1, st  # banded new-batch projection
    assert st["runtime_exchanges"] <= 5, st


def test_sample_per_group_window_group_limit_pushdown(spark):
    """sample_per_group's plain route is skew-safe BECAUSE Catalyst
    plans a map-side Partial WindowGroupLimit before the exchange (a
    viral group ships <= k rows per map partition, never its full
    size) — the property that measured 4.2 s flat on a 40M-row/95%-skew
    probe (SCALE.md r7). If a refactor changes the rank expression so
    the pushdown no longer applies (e.g. rank over a derived ordering
    Catalyst declines), this trips and the salted route becomes the
    documented fallback."""
    from pyspark.sql import functions as F

    from bag_parser_spark.operators import sampling

    df = spark.range(10_000).select(
        F.col("id"),
        F.concat(F.lit("d"), (F.col("id") % 7)).alias("grp"),
    )
    out = sampling.sample_per_group(df, keys=["grp"], id_col="id", k=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    partial = plan.find("WindowGroupLimit")
    assert "row_number(), 5, Partial" in plan and "5, Final" in plan
    # the Partial instance sits BELOW the exchange (later in the tree
    # string), i.e. map-side
    below_exchange = plan[plan.find("Exchange hashpartitioning(grp"):]
    assert "Partial" in below_exchange and partial >= 0
    # the salted fallback stays output-identical and costs exactly one
    # extra exchange (two window shuffles total, no count pass, no join)
    salted = sampling.sample_per_group(
        df, keys=["grp"], id_col="id", k=5, salted=True
    )
    splan = salted._jdf.queryExecution().executedPlan().toString()
    import re

    n_ex = len(re.findall(r"Exchange (?:hash|range|Single)", splan))
    assert n_ex == 2, splan
    assert "Join" not in splan and "Aggregate" not in splan


def test_no_single_partition_ntile_windows(spark):
    """VERDICT r7 #1/#2: a20_ntile_binning and cust_rfm must not plan an
    unpartitioned ntile/row_number window over the fact (a single task
    sorting the whole table). The rewrite computes the exact rank via
    sampling.bucketed_rank — every corpus-sized Window operator must be
    PARTITIONED on the range bucket; the only unpartitioned windows
    allowed are the running-offset sums over the <= 32-row bucket-count
    aggregate (bounded by construction)."""
    for name in ("a20_ntile_binning", "cust_rfm"):
        df = registry()[name].fn(spark, SF_CORRECT)
        plan = df._jdf.queryExecution().executedPlan().toString()
        import re as _re

        # (?<!perce): 'ntile(' must not match inside 'approx_percentile('
        assert not _re.search(r"(?<!perce)ntile\(", plan), name
        for line in plan.splitlines():
            if "Window [" not in line:
                continue
            # partitioned on the range bucket (optionally behind group
            # keys, e.g. [metric#X, __bkt__#Y] in grouped bucketed_rank)
            partitioned = _re.search(r", \[(?:[^\[\]]*, )?__bkt__#", line)
            tiny_offsets = "sum(__cnt__#" in line
            assert partitioned or tiny_offsets, (name, line)
        spark.catalog.clearCache()


def test_bucketed_rank_matches_single_partition_window(spark):
    """bucketed_rank's distributed rank must be IDENTICAL to the naive
    row_number() OVER (ORDER BY ...) single-partition form, ascending and
    descending, including heavy ties (the bucket function is value-only,
    so ties never straddle a rank discontinuity), and ntile_from_rank
    must reproduce F.ntile exactly at every (n, k) remainder shape."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from bag_parser_spark.operators import sampling

    df = spark.range(1, 1001).select(
        F.col("id"),
        (F.col("id") % 97).cast("double").alias("v"),  # heavy ties
    )
    for asc in (True, False):
        order = F.col("v").asc() if asc else F.col("v").desc()
        naive = df.select(
            "id", F.row_number().over(W.orderBy(order, F.col("id"))).alias("r")
        )
        fast = sampling.bucketed_rank(
            df, value=F.col("v"), tiebreaks=[F.col("id")],
            rank_name="r2", total_name="n", ascending=asc,
        ).select("id", "r2", "n")
        joined = naive.join(fast, "id")
        assert joined.filter(F.col("r") != F.col("r2")).count() == 0
        assert joined.filter(F.col("n") != 1000).count() == 0
    # ntile parity across remainder shapes incl. n < k
    for n, k in ((1000, 7), (10, 3), (7, 5), (4, 9)):
        sub = df.limit(n)
        naive = sub.select(
            "id",
            F.ntile(k).over(W.orderBy(F.col("v"), F.col("id"))).alias("t"),
        )
        fast = sampling.bucketed_rank(
            sub, value=F.col("v"), tiebreaks=[F.col("id")],
            rank_name="r", total_name="nn",
        ).select(
            "id",
            sampling.ntile_from_rank(F.col("r"), F.col("nn"), k).alias("t2"),
        )
        assert naive.join(fast, "id").filter(
            F.col("t") != F.col("t2")
        ).count() == 0, (n, k)
    # grouped form: one call with keys=["g"] must equal the per-group
    # naive window — rank restarts per group, total is the group total
    gdf = df.withColumn("g", (F.col("id") % 3).cast("string"))
    naive_g = gdf.select(
        "id",
        F.row_number()
        .over(W.partitionBy("g").orderBy(F.col("v"), F.col("id")))
        .alias("r"),
        F.count(F.lit(1)).over(W.partitionBy("g")).alias("n"),
    )
    fast_g = sampling.bucketed_rank(
        gdf, value=F.col("v"), tiebreaks=[F.col("id")],
        rank_name="r2", total_name="n2", keys=["g"],
    ).select("id", "r2", "n2")
    jg = naive_g.join(fast_g, "id")
    assert jg.filter(
        (F.col("r") != F.col("r2")) | (F.col("n") != F.col("n2"))
    ).count() == 0
    spark.catalog.clearCache()


def test_winnowing_runtime_plan_shape(spark):
    """dedup_winnowing: TWO cached relations — the fingerprint rows
    (referenced by the hot-fp aggregate and both self-join sides: the
    minhash_lsh persist convention — without it the tokenize→window
    lineage executes 4×) and, since r11, the tiny hot-fp set (both
    anti-join sides consume it; unpersisted it re-ran the corpus-sized
    fp document-frequency aggregate once per side) — plus bounded
    runtime shuffles and document text never in an exchange."""
    from bag_parser_spark.plans.plan_stats import runtime_plan_stats

    spark.catalog.clearCache()
    df = registry()["dedup_winnowing"].fn(spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    st = runtime_plan_stats(plan)
    assert st["cached_distinct"] == 2, st
    assert st["cached_refs"] >= 4, st
    # cache build (id window + fp distinct) + hot-fp agg + pair agg;
    # the fp self-join rides broadcast at this SF (big-big it would add
    # two fp-keyed exchanges — still key-only payloads)
    assert st["runtime_exchanges"] <= 6, st
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text#" not in line, line


def test_lang_profile_map_only_codegen(spark):
    """text_lang_profile is the 0-exchange ideal: the whole multi-profile
    classifier rides the scan in one whole-stage-codegen projection."""
    df = registry()["text_lang_profile"].fn(spark, SF_CORRECT)
    plan = _plan(df, "simple")
    assert "Exchange" not in plan
    assert "*(1)" in plan
