"""End-to-end training-corpus preparation pipeline (CLI `prepare`):
quality/language filter → exact dedup → near-dup canonicalization →
optional sub-document boilerplate gate → optional Bloom-prefiltered
eval-set decontamination → deterministic hash split → split-partitioned
parquet artifact.

One lineage, one write pass: the cheap map-side filters run at the scan,
every dedup stage shuffles keys/hashes rather than document text wherever
possible, the split assignment is a map-only md5 bucket, and the stage
counters ride the write job as ``df.observe`` metrics — no extra scans
for bookkeeping. The near-dup stage is bucketed MinHash-LSH candidate
generation → exact n-gram-Jaccard verification → connected components
(never all-pairs), dropping every clustered document except its min-id
canonical representative. Verification is what makes the deletion safe:
raw banded-bucket collisions admit non-duplicates, which transitive
closure would chain into clusters (ADVICE r4).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

DEFAULT_SPLITS: list[tuple[str, float]] = [
    ("train", 0.8), ("val", 0.1), ("test", 0.1),
]


def prepare_corpus(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.7,
    lang: str | None = "en",
    splits: list[tuple[str, float]] | None = None,
    seed: int = 42,
    near_dedup: bool = True,
    near_dup_threshold: float = 0.5,
    max_segment_dup_pct: int | None = None,
    decontaminate_docs: DataFrame | None = None,
    max_contamination_pct: int = 0,
    decontaminate_shingle_n: int = 8,
    url_col: str | None = None,
    max_per_domain: int | None = None,
    domain_blocklist: DataFrame | None = None,
    domain_allowlist: DataFrame | None = None,
    robots_rules: DataFrame | None = None,
    robots_agent: str = "*",
    gopher: bool = False,
    c4_lines: bool = False,
    dsir_target: DataFrame | None = None,
    dsir_keep: int | None = None,
    dsir_buckets: int = 512,
    out_format: str = "parquet",
    stage_report: bool = False,
) -> dict:
    """Run the curation pipeline and write ``out_dir`` partitioned by
    ``split``. Returns a summary dict (input/kept/emitted counts and the
    per-split breakdown). Deterministic end-to-end: filters are pure
    expressions, both dedup representatives are min-id, and the split is
    the layout-stable md5-bucket assignment — rerunning on the same input
    reproduces the artifact bit-for-bit.

    When ``url_col`` is set, the URL/domain stage runs FIRST (the order
    real web pipelines use — domain rules are the cheapest signal, so
    they gate before any text is scored): canonical host → registered
    domain (``operators/urls.py``), broadcast block/allow-list
    anti-join, then a deterministic ``max_per_domain`` cap
    (md5-seeded fair draw via ``sample_per_group``). The registered
    domain rides along into the artifact as ``registered_domain``.
    ``robots_rules`` (``parse_robots`` output: domain, agent,
    rule_type, path_prefix) adds the RFC 9309 politeness gate between
    the blocklist and the cap: ``rules_for_agent(robots_agent)``
    selects each host's effective group, the broadcast longest-match
    evaluation drops disallowed pages, and disallowed pages never
    consume their domain's cap budget.

    ``c4_lines`` inserts the C4 line-level gate between the quality
    filter and the Gopher battery (the real web-pipeline order): bad
    lines are REMOVED from surviving documents (the artifact carries
    the cleaned text, and exact dedup hashes the cleaned text), docs
    failing C4's three-sentence / drop-phrase rules are rejected, and
    total/kept counts ride the write job as ``c4_counts`` (same
    observe shape as ``gopher_counts`` — no extra scan).

    ``dsir_target``/``dsir_keep`` add DSIR importance resampling as
    the LAST gate before the split: keep ``dsir_keep`` documents drawn
    proportional to how target-like their hashed n-gram profile is
    (deterministic Gumbel-top-k, ``sampling.dsir_logweights``).

    ``stage_report`` adds a stage-by-stage count breakdown (``stages``
    in the summary, insertion-ordered along the pipeline): each stage
    boundary is persisted and counted — one bounded action per stage,
    and the caches double as reuse points for the multi-pass dedup
    stages. Leave it off for production-scale runs where the free
    observe-based c4/gopher counts suffice.
    """
    if (
        max_per_domain is not None
        or domain_blocklist is not None
        or robots_rules is not None
    ) and url_col is None:
        raise ValueError(
            "max_per_domain / domain_blocklist / robots_rules need "
            "url_col to derive the host and path from"
        )
    # Every cheap arg guard runs BEFORE any stage executes (ADVICE r8:
    # the dsir/out_format checks used to sit mid-pipeline, so a trivially
    # bad combination burned the whole robots/quality/dedup run first).
    if (dsir_target is None) != (dsir_keep is None):
        raise ValueError(
            "dsir_target and dsir_keep go together: the target corpus "
            "defines the importance distribution, keep is the sample "
            "size drawn from it"
        )
    if out_format not in ("parquet", "jsonl"):
        raise ValueError(f"unknown out_format {out_format!r}")
    if decontaminate_docs is not None and not 0 <= max_contamination_pct < 100:
        raise ValueError(
            "max_contamination_pct must be in [0, 100): "
            f"{max_contamination_pct} (negative values would drop "
            "every document, 100+ would drop none)"
        )
    stage_counts: dict[str, int] = {}
    stage_handles: list[DataFrame] = []

    def _stage(df: DataFrame, name: str) -> DataFrame:
        if not stage_report:
            return df
        df = df.persist()
        stage_handles.append(df)
        stage_counts[name] = df.count()
        return df

    try:
        return _prepare_corpus_run(
            spark, docs, out_dir, _stage, stage_counts,
            id_col=id_col, text_col=text_col, min_quality=min_quality,
            lang=lang, splits=splits, seed=seed, near_dedup=near_dedup,
            near_dup_threshold=near_dup_threshold,
            max_segment_dup_pct=max_segment_dup_pct,
            decontaminate_docs=decontaminate_docs,
            max_contamination_pct=max_contamination_pct,
            decontaminate_shingle_n=decontaminate_shingle_n,
            url_col=url_col, max_per_domain=max_per_domain,
            domain_blocklist=domain_blocklist,
            domain_allowlist=domain_allowlist,
            robots_rules=robots_rules, robots_agent=robots_agent,
            gopher=gopher, c4_lines=c4_lines,
            dsir_target=dsir_target, dsir_keep=dsir_keep,
            dsir_buckets=dsir_buckets, out_format=out_format,
        )
    finally:
        # unpersist on success AND on a mid-pipeline failure — a failed
        # prepare must not leak the stage_report caches into a
        # long-lived session (ADVICE r8)
        for h in stage_handles:
            h.unpersist()


def _prepare_corpus_run(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    _stage,
    stage_counts: dict[str, int],
    *,
    id_col: str,
    text_col: str,
    min_quality: float,
    lang: str | None,
    splits: list[tuple[str, float]] | None,
    seed: int,
    near_dedup: bool,
    near_dup_threshold: float,
    max_segment_dup_pct: int | None,
    decontaminate_docs: DataFrame | None,
    max_contamination_pct: int,
    decontaminate_shingle_n: int,
    url_col: str | None,
    max_per_domain: int | None,
    domain_blocklist: DataFrame | None,
    domain_allowlist: DataFrame | None,
    robots_rules: DataFrame | None,
    robots_agent: str,
    gopher: bool,
    c4_lines: bool,
    dsir_target: DataFrame | None,
    dsir_keep: int | None,
    dsir_buckets: int,
    out_format: str,
) -> dict:
    """The pipeline body — args pre-validated, stage caching and
    cleanup owned by :func:`prepare_corpus`'s try/finally."""
    from bag_parser_spark.operators import dedup, sampling, urls
    from bag_parser_spark.operators.text import language_id, quality_score

    docs = _stage(docs, "input")
    domain_cols: list = []
    if url_col is not None:
        docs = urls.with_registered_domain_from_url(docs, url_col, spark)
        if domain_blocklist is not None:
            docs = urls.apply_domain_blocklist(
                docs,
                "registered_domain",
                domain_blocklist,
                allowed=domain_allowlist,
            )
            docs = _stage(docs, "domain_allowed")
        if robots_rules is not None:
            # Crawl-politeness gate (RFC 9309 longest-match): rules are
            # parse_robots output (domain, agent, rule_type,
            # path_prefix); rules_for_agent picks this crawler's group
            # per host ('*' only where no specific group exists), then
            # the broadcast longest-match evaluation keeps only allowed
            # pages. Runs BEFORE the cap so disallowed pages never
            # consume a domain's budget. Host/path derive from url_col
            # with the same canonicalization the domain stage used.
            # Materialize the effective rule set ONCE (tiny curation
            # artifact): rules_for_agent's plan is ~100 nodes, and the
            # c4/gopher/dedup stages below each DUPLICATE the corpus
            # lineage into self-joins — an inline rules subplan gets
            # copied into every duplicate and blew the driver heap at
            # plan-stringification time (measured: 104 -> 866 nodes on
            # the `kept` plan, 2.8k -> 19.5k on the pair plan). The
            # eager localCheckpoint truncates it to one leaf.
            eff_rules = urls.rules_for_agent(
                robots_rules, robots_agent
            ).localCheckpoint(eager=True)
            u = F.col(url_col)
            scheme, hostport, path, _ = urls.split_parts(u)
            paged = docs.withColumn(
                "__hostname__",
                F.split(
                    urls.canonical_host(hostport, F.lower(scheme)), ":", 2
                ).getItem(0),
            ).withColumn(
                "__npath__",
                F.when(path == "", F.lit("/")).otherwise(path),
            )
            docs = (
                urls.apply_robots(
                    paged,
                    eff_rules,
                    host_col="__hostname__",
                    path_col="__npath__",
                )
                .filter(F.col("allowed"))
                .drop(
                    "allowed", "matched_rule", "matched_prefix",
                    "__hostname__", "__npath__",
                )
            )
            docs = _stage(docs, "robots_allowed")
        if max_per_domain is not None:
            docs = sampling.sample_per_group(
                docs,
                keys=["registered_domain"],
                id_col=id_col,
                k=max_per_domain,
                seed=seed,
            ).drop("sample_rank")
            docs = _stage(docs, "domain_capped")
        domain_cols = [F.col("registered_domain")]

    scored = docs.select(
        F.col(id_col),
        F.col(text_col),
        *([F.col("source")] if "source" in docs.columns else []),
        *domain_cols,
        quality_score(F.col(text_col)).alias("quality"),
        language_id(F.col(text_col)).alias("lang_pred"),
    )
    keep = F.col("quality") >= min_quality
    if lang is not None:
        keep = keep & (F.col("lang_pred") == lang)
    kept = _stage(scored.filter(keep), "quality_lang")

    c4_obs = None
    if c4_lines:
        # C4 line gate between the cheap quality filter and the Gopher
        # battery (real pipeline order); kept docs get their CLEANED
        # text — bad lines removed — so every later stage (gopher,
        # content-hash dedup, the artifact) sees what training sees.
        # Counts observe the flags subplan the join executes anyway.
        from bag_parser_spark.operators.text import c4_line_filter

        c4_obs = Observation("c4")
        c4f = c4_line_filter(kept, id_col=id_col, text_col=text_col).observe(
            c4_obs,
            F.count(F.lit(1)).alias("total"),
            F.sum(F.when(~F.col("drop_doc"), 1).otherwise(0)).alias("kept"),
        )
        kept = kept.drop(text_col).join(
            c4f.filter(~F.col("drop_doc")).select(
                id_col, F.col("clean_text").alias(text_col)
            ),
            id_col,
        )
        kept = _stage(kept, "c4_lines")
    # content hash AFTER line cleaning: two docs differing only in
    # removed boilerplate lines dedup as the same document
    kept = kept.withColumn("__content__", F.md5(text_col))

    gopher_obs = None
    if gopher:
        # Gopher/MassiveText rule battery (text.gopher_rules) as a gate
        # on the quality-filter survivors, with per-rule rejection
        # counts OBSERVED on the flags subplan — the counters ride the
        # semi-join that the write job executes anyway, no extra scan.
        # Rules overlap, so the per-rule counts need not sum to
        # (total - kept).
        from bag_parser_spark.operators.text import (
            GOPHER_RULE_NAMES,
            gopher_rules,
        )

        gopher_obs = Observation("gopher")
        flags = gopher_rules(kept, id_col=id_col, text_col=text_col).observe(
            gopher_obs,
            F.count(F.lit(1)).alias("total"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("kept"),
            *[
                F.sum(F.when(F.col(r), 1).otherwise(0)).alias(r)
                for r in GOPHER_RULE_NAMES
            ],
        )
        kept = kept.join(
            flags.filter(F.col("keep")).select(id_col), id_col, "left_semi"
        )
        kept = _stage(kept, "gopher")
    unique = _stage(
        dedup.dedup_exact(kept, on=["__content__"], id_col=id_col),
        "exact_dedup",
    )

    if near_dedup:
        # Candidate pairs over the exact-deduped survivors, REFINED by
        # exact n-gram Jaccard before clustering: banded LSH buckets
        # admit moderately-similar non-duplicates (probability
        # 1-(1-j^r)^bands), and transitive closure would chain them —
        # clustering raw candidates and deleting non-canonical members
        # silently drops non-duplicate documents (ADVICE r4). Only
        # verified pairs (Jaccard ≥ near_dup_threshold) become edges.
        # Connected components then label every clustered doc with its
        # min-id canonical; docs outside any verified cluster pass
        # through untouched (left_anti on non-canonical members only).
        sh = dedup.word_shingle_rows(unique, id_col, text_col, 3).persist()
        cand = dedup.minhash_lsh_pairs(
            unique, id_col=id_col, text_col=text_col, shingle_rows=sh
        )
        pairs = dedup.verify_pairs_jaccard(
            unique,
            cand,
            id_col=id_col,
            text_col=text_col,
            threshold=near_dup_threshold,
            shingle_rows=sh,
        )
        clustered = dedup.dup_clusters(pairs, out_id=id_col)
        drop = clustered.filter(
            F.col(id_col) != F.col("cluster_id")
        ).select(id_col)
        unique = _stage(unique.join(drop, id_col, "left_anti"), "near_dedup")

    if max_segment_dup_pct is not None:
        # Sub-document boilerplate gate (CCNet/RefinedWeb line dedup):
        # whole-doc dedup above cannot see a shared header/footer inside
        # otherwise-unique documents. Runs on the post-dedup survivors
        # so canonical docs don't count their deleted duplicates as
        # segment sharers; integer drop rule, same contract as
        # dedup.segment_dup_stats.
        seg_drop = (
            dedup.segment_dup_stats(
                unique,
                id_col=id_col,
                text_col=text_col,
                drop_threshold_pct=max_segment_dup_pct,
            )
            .filter(~F.col("keep"))
            .select(id_col)
        )
        unique = _stage(
            unique.join(seg_drop, id_col, "left_anti"), "segment_gate"
        )

    if decontaminate_docs is not None:
        # Eval-set decontamination (the release gate every benchmark
        # number depends on): drop survivors whose word n-grams overlap
        # the eval set beyond max_contamination_pct (0 = any confirmed
        # n-gram drops the doc; integer rule, same contract as the
        # segment gate). Scale shape: the SMALL eval side becomes a
        # Bloom filter (sketches.bloom_build) the corpus probes
        # map-side; only Bloom candidates reach the exact verify join,
        # so no corpus-sized shingle shuffle and no false drops — the
        # filter admits false positives, the verify join removes them,
        # and false negatives are impossible by construction.
        from bag_parser_spark.operators import sketches

        bloom_k, bloom_m = 3, 1 << 20
        ev_sh = dedup.word_shingle_rows(
            decontaminate_docs.select(
                F.monotonically_increasing_id().alias("__eid__"),
                F.col(text_col),
            ),
            "__eid__",
            text_col,
            decontaminate_shingle_n,
        ).select("shingle")
        corpus_sh = dedup.word_shingle_rows(
            unique, id_col, text_col, decontaminate_shingle_n
        ).dropDuplicates(["__id__", "shingle"])
        contaminated = (
            sketches.bloom_confirmed_counts(
                corpus_sh, "__id__", "shingle", ev_sh, bloom_k, bloom_m
            )
            .filter(
                F.col("n_confirmed") * 100
                > F.col("n_keys") * max_contamination_pct
            )
            .select(F.col("__id__").alias(id_col))
        )
        unique = _stage(
            unique.join(contaminated, id_col, "left_anti"), "decontaminated"
        )

    if dsir_target is not None:
        # DSIR selection (Xie et al. 2023) as the LAST gate: from the
        # clean deduplicated survivors, resample dsir_keep docs
        # proportional to how target-like their hashed n-gram profile
        # is (sampling.dsir_logweights — Gumbel-top-k, deterministic).
        # Runs after dedup so duplicates can't vote themselves in, and
        # after decontamination so eval text can't define "target-like"
        # membership of contaminated docs. The chosen-id set is k rows
        # — the semi join broadcasts.
        chosen = (
            sampling.dsir_logweights(
                unique.select(id_col, text_col),
                dsir_target.select(
                    F.monotonically_increasing_id().alias(id_col),
                    F.col(text_col),
                ),
                id_col=id_col,
                text_col=text_col,
                n_buckets=dsir_buckets,
                seed=f"{seed}:dsir",
            )
            .orderBy(F.col("sample_key").desc(), F.col(id_col).asc())
            .limit(dsir_keep)
            .select(id_col)
        )
        unique = _stage(
            unique.join(F.broadcast(chosen), id_col, "left_semi"),
            "dsir_selected",
        )

    split_df = sampling.hash_split(
        unique, id_col=id_col, splits=splits or DEFAULT_SPLITS, seed=seed
    ).drop("__content__", "lang_pred")

    obs = Observation("prepare")
    observed = split_df.observe(obs, F.count(F.lit(1)).alias("n_out"))
    writer = observed.write.partitionBy("split").mode("overwrite")
    if out_format == "jsonl":
        # gzipped JSONL artifact — the interchange format downstream
        # tokenizer/training jobs consume directly; same split
        # partitioning, same atomic overwrite
        writer.option("compression", "gzip").json(out_dir)
    else:
        writer.parquet(out_dir)
    n_out = obs.get["n_out"]

    # Per-split breakdown from the written artifact (#splits output rows;
    # the count re-scans only the freshly written, filtered corpus).
    artifact = (
        spark.read.json(out_dir)
        if out_format == "jsonl"
        else spark.read.parquet(out_dir)
    )
    by_split = {
        r["split"]: r["n"]
        for r in artifact
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    return {
        "out": os.path.abspath(out_dir),
        "n_out": n_out,
        "splits": by_split,
        "near_dedup": near_dedup,
        "near_dup_threshold": near_dup_threshold,
        "max_segment_dup_pct": max_segment_dup_pct,
        "decontaminated": decontaminate_docs is not None,
        "max_contamination_pct": (
            max_contamination_pct if decontaminate_docs is not None else None
        ),
        "min_quality": min_quality,
        "lang": lang,
        "seed": seed,
        "max_per_domain": max_per_domain if url_col is not None else None,
        "domain_blocklist": domain_blocklist is not None,
        "robots": robots_rules is not None,
        "robots_agent": robots_agent if robots_rules is not None else None,
        "dsir_keep": dsir_keep if dsir_target is not None else None,
        "out_format": out_format,
        "gopher": gopher,
        "gopher_counts": (
            {k: int(v) for k, v in gopher_obs.get.items()}
            if gopher_obs is not None
            else None
        ),
        "c4_lines": c4_lines,
        "c4_counts": (
            {k: int(v) for k, v in c4_obs.get.items()}
            if c4_obs is not None
            else None
        ),
        "stages": stage_counts or None,
    }
