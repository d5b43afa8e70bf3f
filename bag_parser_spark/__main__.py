"""CLI front door: ``python -m bag_parser_spark <command>``.

Runnable-script parity with the reference (reference import_bag.py:13-90,
export_to_csv.py:7-37, test_sqlite_db.py:12-14):

  import    BAG XML (+ gemeenten CSV) → parquet tables [+ SQLite compat file]
  export    adressen exports → CSV; same flag surface as the reference
            (-a/--all, -p4, -p5, -p6; default = postcode export)
  validate  run the invariant battery on an imported table set
  query     ad-hoc SQL over the imported tables (readme.MD:54-78 parity)

The reference drives everything from config.py constants; here the same
options are flags (the library default, EngineConfig, stays declarative).
Logs go to stderr; stdout carries only machine-readable results (the
validate report as TSV), mirroring the bench contract.
"""

from __future__ import annotations

import argparse
import os
import sys
import time


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _add_spark_args(p: argparse.ArgumentParser) -> None:
    p.add_argument("--master", default=None,
                   help="Spark master (default local[$SPARK_GRAFT_CPUS])")


def _get_spark(args, app: str):
    from bag_parser_spark.session import get_spark

    return get_spark(app_name=app, master=args.master)


def _load_db_tables(spark, db_dir: str, names: list[str]) -> dict:
    missing = [n for n in names
               if not os.path.isdir(os.path.join(db_dir, n))]
    if missing:
        raise SystemExit(
            f"table(s) {missing} not found under {db_dir!r} — run "
            "`python -m bag_parser_spark import` first (see readme)"
        )
    return {n: spark.read.parquet(os.path.join(db_dir, n)) for n in names}


def cmd_ingest(args) -> int:
    """Continuous corpus ingestion: drain new document parquet files
    through the streaming incremental-dedup pipeline (exact + LSH +
    Jaccard-verified vs the accepted state; streaming/corpus.py). One
    JSON summary line on stdout."""
    import json

    from bag_parser_spark.streaming.corpus import run_ingest_stream

    spark = _get_spark(args, "corpus-ingest")
    schema = args.schema
    if args.url_col and not args.from_warc and args.url_col not in schema:
        raise SystemExit(f"--url-col {args.url_col!r} not in --schema")
    if args.from_warc and args.from_jsonl:
        raise SystemExit("--from-warc and --from-jsonl are exclusive")
    if (args.dsir_target is None) != (args.dsir_reference is None):
        raise SystemExit(
            "--dsir-target and --dsir-reference go together (they "
            "initialize the frozen distribution once)"
        )
    if args.dsir_min_key is not None and args.dsir_target is None:
        # the frozen table may also predate this run (init is a
        # one-time step) — only fail when it is neither given nor
        # already in the state dir
        from bag_parser_spark.streaming.corpus import _dsir_lam_path

        if not os.path.isdir(_dsir_lam_path(args.state)):
            raise SystemExit(
                "--dsir-min-key needs a frozen distribution: pass "
                "--dsir-target/--dsir-reference once, or reuse a state "
                "dir that already carries dsir_lam/"
            )
    if (args.crawl_delays is None) != (args.batch_window_sec is None):
        raise SystemExit(
            "--crawl-delays and --batch-window-sec go together (the "
            "per-batch politeness budget is floor(window / delay))"
        )
    if args.max_deferred_per_domain is not None and args.crawl_delays is None:
        raise SystemExit(
            "--max-deferred-per-domain caps the budget-deferral backlog "
            "— it needs --crawl-delays/--batch-window-sec"
        )
    if args.dsir_target is not None:
        from bag_parser_spark.streaming.corpus import init_dsir_state

        init_dsir_state(
            spark, args.state,
            spark.read.parquet(args.dsir_target),
            spark.read.parquet(args.dsir_reference),
        )
        _log(f"DSIR distribution frozen -> {args.state}/dsir_lam")
    fmt = (
        "warc" if args.from_warc
        else "jsonl" if args.from_jsonl
        else "parquet"
    )
    run_ingest_stream(
        spark, args.source, args.state, args.checkpoint,
        schema=schema,
        source_format=fmt,
        url_col=args.url_col,
        max_per_domain=args.max_per_domain,
        domain_blocklist=(
            spark.createDataFrame(
                [(d.strip(),) for d in args.block_domains.split(",")],
                "domain string",
            )
            if args.block_domains
            else None
        ),
        robots_rules=(
            _parse_robots_arg(spark, args.robots) if args.robots else None
        ),
        robots_agent=args.robots_agent,
        dsir_min_key=args.dsir_min_key,
        crawl_delays=(
            spark.read.parquet(args.crawl_delays)
            if args.crawl_delays
            else None
        ),
        batch_window_sec=args.batch_window_sec,
        max_deferred_per_domain=args.max_deferred_per_domain,
    )
    acc = spark.read.parquet(os.path.join(args.state, "accepted"))
    n = acc.count()
    _log(f"accepted corpus now {n} docs -> {args.state}")
    print(json.dumps({"state": os.path.abspath(args.state), "n_accepted": n},
                     sort_keys=True))
    return 0


def cmd_import(args) -> int:
    """Mirror of reference import_bag.py:13-90: unzip+parse the 8 entity
    streams, build adressen, validate, emit the artifact set."""
    from bag_parser_spark.config import EngineConfig
    from bag_parser_spark.plans.bag_job import import_bag

    t0 = time.perf_counter()
    if not os.path.exists(args.bag):
        raise SystemExit("BAG file not found. See readme.MD")  # ref:38-39
    cfg = EngineConfig(
        active_only=not args.include_inactive,
        use_short_street_names=args.short_street_names,
        parse_geometries=args.geometries,
        snapshot_date=args.snapshot_date,
    )
    spark = _get_spark(args, "bag-import")
    _log(f"start: parse BAG XML {args.bag!r} to parquet {args.out!r}")
    tables = import_bag(spark, args.bag, args.gemeenten, out_dir=args.out,
                        cfg=cfg)
    from bag_parser_spark.functions.scalars import format_count_nl

    n = tables["adressen"].count()
    # F13: counts log locale-formatted, as the reference's print_log does
    _log(f"adressen: {format_count_nl(n)} rows")
    if args.sqlite:
        from bag_parser_spark.sources.sqlite_compat import write_bag_sqlite

        counts = write_bag_sqlite(tables, args.sqlite)
        _log(f"sqlite compat file {args.sqlite!r}: {counts}")
        size_mb = os.path.getsize(args.sqlite) / (1024 * 1024)
        _log(f"final SQLite file size: {size_mb:.1f} MB")
    _log(f"total run time: {time.perf_counter() - t0:.1f}s")
    return 0


def cmd_export(args) -> int:
    """Mirror of reference export_to_csv.py:7-37 — one export per
    invocation, flag-selected; default is the 5-column postcode export."""
    from bag_parser_spark.plans import export as X

    spark = _get_spark(args, "bag-export")
    tables = _load_db_tables(
        spark, args.db,
        ["adressen", "openbare_ruimten", "gemeenten", "woonplaatsen",
         "provincies"],
    )
    if args.all:
        df = X.export_adressen_all(
            tables["adressen"], tables["openbare_ruimten"],
            tables["gemeenten"], tables["woonplaatsen"], tables["provincies"],
        )
        default_name = "adressen_all_data.csv"
    elif args.postcode4 or args.postcode5 or args.postcode6:
        digits = 4 if args.postcode4 else (5 if args.postcode5 else 6)
        df = X.export_postcode_stats(
            tables["adressen"], tables["woonplaatsen"], digits
        )
        default_name = f"adressen_p{digits}_stats.csv"
    else:
        df = X.export_adressen_postcode(
            tables["adressen"], tables["openbare_ruimten"],
            tables["woonplaatsen"],
        )
        default_name = "adressen_postcodes.csv"
    out = args.out or os.path.join("output", default_name)
    X.write_csv(df, out, single_file=args.single_file)
    _log(f"exported to {out!r}")
    return 0


def cmd_validate(args) -> int:
    """Mirror of reference test_sqlite_db.py:12-14: run the invariant
    battery; report to stdout as TSV, exit 1 on any failed check."""
    from bag_parser_spark.config import EngineConfig
    from bag_parser_spark.plans.validate import validate_bag

    overrides = {
        k: v
        for k, v in {
            "min_adressen": args.min_adressen,
            "min_adressen_with_pand": args.min_adressen_with_pand,
            "min_ligplaatsen": args.min_ligplaatsen,
            "min_standplaatsen": args.min_standplaatsen,
            "min_openbare_ruimten": args.min_openbare_ruimten,
            "min_woonplaatsen": args.min_woonplaatsen,
            "min_gemeenten": args.min_gemeenten,
        }.items()
        if v is not None
    }
    cfg = EngineConfig(snapshot_date=None, **overrides)
    spark = _get_spark(args, "bag-validate")
    tables = _load_db_tables(
        spark, args.db,
        ["adressen", "gemeenten", "woonplaatsen", "openbare_ruimten",
         "provincies"],
    )
    report, ok = validate_bag(
        tables["adressen"], tables["gemeenten"], tables["woonplaatsen"],
        tables["openbare_ruimten"], tables["provincies"], cfg,
    )
    for r in report.collect():
        print(f"{r['check']}\t{r['value']}\t{'PASS' if r['passed'] else 'FAIL'}")
    _log("validation: " + ("ALL PASS" if ok else "FAILURES PRESENT"))
    return 0 if ok else 1


def cmd_query(args) -> int:
    """Ad-hoc SQL over an imported table set — parity with the reference
    workflow of querying bag.sqlite directly (reference readme.MD:54-78
    shows users issuing raw SELECTs; test_sqlite_db.py:12-14 scripts
    them). Every parquet table directory under --db registers as a temp
    view named after the directory, the statement runs through Spark SQL
    (full Catalyst pipeline — pushdown/broadcast work exactly as in the
    library paths), and rows stream to stdout as TSV. Output iterates
    with toLocalIterator, one partition at a time on the driver — a
    SELECT over the full 9.9M-address table streams through bounded
    memory instead of materializing a driver-side list."""
    spark = _get_spark(args, "bag-query")
    names = [
        n for n in sorted(os.listdir(args.db))
        if os.path.isdir(os.path.join(args.db, n))
    ]
    if not names:
        raise SystemExit(
            f"no table directories under {args.db!r} — run "
            "`python -m bag_parser_spark import` first (see readme)"
        )
    for n in names:
        spark.read.parquet(os.path.join(args.db, n)).createOrReplaceTempView(n)
    df = spark.sql(args.sql)
    if args.limit is not None:
        df = df.limit(args.limit)
    print("\t".join(df.columns))
    n_rows = 0
    for row in df.toLocalIterator():
        print("\t".join("" if v is None else str(v) for v in row))
        n_rows += 1
    _log(f"{n_rows} rows ({', '.join(names)} registered)")
    return 0


def _parse_robots_arg(spark, path: str):
    """--robots: a parquet of fetched robots.txt files (domain,
    robots_txt) -> the parsed per-agent rule rows prepare_corpus's
    politeness gate consumes."""
    from bag_parser_spark.operators.urls import parse_robots

    return parse_robots(spark.read.parquet(path))


def cmd_prepare(args) -> int:
    """Training-corpus preparation: quality/language filter → exact dedup
    → near-dup canonicalization → deterministic split → parquet
    partitioned by split. The JSON summary is the only stdout line
    (machine-readable, same contract as bench.py); progress to stderr."""
    import json

    from bag_parser_spark.plans.corpus_prep import prepare_corpus

    spark = _get_spark(args, "corpus-prepare")
    id_col, url_col = "doc_id", args.url_col
    if args.from_warc or args.from_wet:
        from pyspark.sql import functions as F

        from bag_parser_spark.sources.warc import (
            crawl_to_documents,
            wet_to_documents,
        )

        # raw crawl front half: WARC -> visible text (tag strip, or
        # readability block scoring with --main-content) -> C4 lines;
        # WET skips the HTML step (text is pre-extracted). Docs the
        # line gate rejects never reach the curation stages.
        front = (
            wet_to_documents(spark, args.docs)
            if args.from_wet
            else crawl_to_documents(
                spark, args.docs, main_content=args.main_content
            )
        )
        docs = front.filter(~F.col("drop_doc")).select("url", "text")
        id_col = "url"
        url_col = url_col or "url"
    elif args.from_jsonl:
        # JSONL/JSONL.GZ with an explicit schema: inference would scan
        # the corpus twice and type-drift across deliveries
        docs = (
            spark.read.schema(args.input_schema)
            .option("pathGlobFilter", "*.json*")
            .json(args.docs)
        )
    else:
        docs = spark.read.parquet(args.docs)
    splits = None
    if args.splits:
        parts = [s.split("=") for s in args.splits.split(",")]
        splits = [(name, float(frac)) for name, frac in parts]
    summary = prepare_corpus(
        spark,
        docs,
        args.out,
        id_col=id_col,
        min_quality=args.min_quality,
        lang=None if args.any_lang else args.lang,
        splits=splits,
        seed=args.seed,
        near_dedup=not args.no_near_dedup,
        near_dup_threshold=args.near_dup_threshold,
        max_segment_dup_pct=args.max_segment_dup_pct,
        decontaminate_docs=(
            spark.read.parquet(args.decontaminate)
            if args.decontaminate
            else None
        ),
        max_contamination_pct=args.max_contamination_pct,
        gopher=args.gopher,
        c4_lines=args.c4_lines,
        stage_report=args.stage_report,
        url_col=url_col,
        max_per_domain=args.max_per_domain,
        domain_blocklist=(
            spark.createDataFrame(
                [(d.strip(),) for d in args.block_domains.split(",")],
                "domain string",
            )
            if args.block_domains
            else None
        ),
        domain_allowlist=(
            spark.createDataFrame(
                [(d.strip(),) for d in args.allow_domains.split(",")],
                "domain string",
            )
            if args.allow_domains
            else None
        ),
        robots_rules=(
            _parse_robots_arg(spark, args.robots) if args.robots else None
        ),
        robots_agent=args.robots_agent,
        dsir_target=(
            spark.read.parquet(args.dsir_target)
            if args.dsir_target
            else None
        ),
        dsir_keep=args.dsir_keep,
        out_format=args.out_format,
    )
    _log(f"prepared {summary['n_out']} docs -> {summary['out']}")
    print(json.dumps(summary, sort_keys=True))
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m bag_parser_spark",
        description="BAG parser on Spark — import / export / validate",
    )
    sub = p.add_subparsers(dest="command", required=True)

    imp = sub.add_parser("import", help="parse BAG XML to parquet tables")
    imp.add_argument("--bag", required=True,
                     help="LVBAG delivery: a directory of XML files or "
                     "zips, or the delivery zip (zips are extracted under "
                     "--out, then removed)")
    imp.add_argument("--gemeenten", required=True,
                     help="gemeenten CSV (reference input/gemeenten.csv)")
    imp.add_argument("--out", required=True, help="output parquet directory")
    imp.add_argument("--sqlite", default=None,
                     help="also write a reference-compatible SQLite file")
    imp.add_argument("--snapshot-date", default=None,
                     help="validity snapshot date (default: today)")
    imp.add_argument("--include-inactive", action="store_true",
                     help="keep historical records (reference active_only=False)")
    imp.add_argument("--short-street-names", action="store_true")
    imp.add_argument("--geometries", action="store_true",
                     help="parse + convert geometries (reference "
                     "parse_geometries)")
    _add_spark_args(imp)
    imp.set_defaults(fn=cmd_import)

    exp = sub.add_parser("export", help="export adressen to CSV")
    exp.add_argument("--db", required=True, help="parquet directory from import")
    exp.add_argument("--out", default=None, help="output CSV path")
    exp.add_argument("-a", "--all", action="store_true",
                     help="export all data incl. bouwjaar/lat/lon/oppervlakte/"
                     "gebruiksdoel")
    exp.add_argument("-p4", "--postcode4", action="store_true",
                     help="stats of 4-character postcode groups (e.g. 1000)")
    exp.add_argument("-p5", "--postcode5", action="store_true",
                     help="stats of 5-character postcode groups (e.g. 1000A)")
    exp.add_argument("-p6", "--postcode6", action="store_true",
                     help="stats of 6-character postcode groups (e.g. 1000AA)")
    exp.add_argument("--single-file", action="store_true",
                     help="coalesce to one CSV file (reference parity)")
    _add_spark_args(exp)
    exp.set_defaults(fn=cmd_export)

    val = sub.add_parser("validate", help="run the invariant battery")
    val.add_argument("--db", required=True, help="parquet directory from import")
    for flag in ("min-adressen", "min-adressen-with-pand", "min-ligplaatsen",
                 "min-standplaatsen", "min-openbare-ruimten",
                 "min-woonplaatsen", "min-gemeenten"):
        val.add_argument(f"--{flag}", type=int, default=None)
    _add_spark_args(val)
    val.set_defaults(fn=cmd_validate)

    q = sub.add_parser("query", help="run ad-hoc SQL over imported tables")
    q.add_argument("sql", help="SQL statement; table names = directory "
                   "names under --db (e.g. adressen, gemeenten)")
    q.add_argument("--db", required=True,
                   help="parquet directory from import")
    q.add_argument("--limit", type=int, default=None,
                   help="cap output rows (applied as a plan LIMIT)")
    _add_spark_args(q)
    q.set_defaults(fn=cmd_query)

    prep = sub.add_parser(
        "prepare",
        help="curate a documents table into a split training corpus",
    )
    prep.add_argument("--docs", required=True,
                      help="input documents parquet (doc_id, text[, "
                      "source]) — or a WARC directory with --from-warc")
    prep.add_argument("--from-warc", action="store_true",
                      help="treat --docs as a directory of WARC/WARC.GZ "
                      "crawl files: parse records, extract visible text "
                      "(html_to_text), clean lines (C4 filter), key docs "
                      "by URL; implies --url-col url")
    prep.add_argument("--from-wet", action="store_true",
                      help="treat --docs as a directory of WET files "
                      "(CommonCrawl's pre-extracted text sidecar): same "
                      "front half as --from-warc minus the HTML step")
    prep.add_argument("--from-jsonl", action="store_true",
                      help="treat --docs as JSONL/JSONL.GZ files read "
                      "with --input-schema (the interchange format real "
                      "corpora ship in; .gz decompresses transparently)")
    prep.add_argument("--input-schema", default="doc_id long, text string",
                      help="DDL schema for --from-jsonl (explicit, never "
                      "inferred: inference scans the corpus twice and "
                      "type-drifts across deliveries)")
    prep.add_argument("--out", required=True,
                      help="output directory (partitioned by split)")
    prep.add_argument("--out-format", choices=("parquet", "jsonl"),
                      default="parquet",
                      help="artifact format: parquet (default) or "
                      "gzipped JSONL (the interchange format downstream "
                      "tokenizer/training jobs consume directly)")
    prep.add_argument("--min-quality", type=float, default=0.7)
    prep.add_argument("--lang", default="en",
                      help="keep docs whose predicted language matches")
    prep.add_argument("--any-lang", action="store_true",
                      help="skip the language filter")
    prep.add_argument("--splits", default=None,
                      help="name=frac list, e.g. train=0.9,val=0.05,test=0.05"
                      " (default 0.8/0.1/0.1)")
    prep.add_argument("--seed", type=int, default=42)
    prep.add_argument("--no-near-dedup", action="store_true",
                      help="skip MinHash-LSH near-dup canonicalization")
    prep.add_argument("--near-dup-threshold", type=float, default=0.5,
                      help="exact n-gram Jaccard a candidate pair must "
                      "reach before it may merge clusters (LSH candidates "
                      "are verified, never trusted raw)")
    prep.add_argument("--max-segment-dup-pct", type=int, default=None,
                      help="drop docs whose duplicated-segment share "
                      "reaches this percent, 1-100 (sub-document "
                      "boilerplate gate; off by default; the rule is "
                      "strict-less, so 0 is rejected — it would drop "
                      "every document)")
    prep.add_argument("--decontaminate", default=None, metavar="PARQUET",
                      help="parquet of eval/benchmark docs (same text "
                      "column); survivors whose word 8-grams overlap it "
                      "beyond --max-contamination-pct are dropped "
                      "(Bloom-prefiltered, exact-verified — no false "
                      "drops)")
    prep.add_argument("--max-contamination-pct", type=int, default=0,
                      help="allowed percent of a doc's 8-grams found in "
                      "the eval set before it is dropped (default 0: any "
                      "confirmed overlap drops the doc; strict-greater "
                      "rule)")
    prep.add_argument("--gopher", action="store_true",
                      help="gate documents through the Gopher/MassiveText "
                      "quality-rule battery (8 rules; per-rule rejection "
                      "counts land in the summary JSON as gopher_counts)")
    prep.add_argument("--c4-lines", action="store_true",
                      help="C4 line-level gate between the quality filter "
                      "and --gopher: bad lines are removed from surviving "
                      "docs (the artifact carries cleaned text), docs "
                      "failing the three-sentence/drop-phrase rules are "
                      "rejected; counts land as c4_counts")
    prep.add_argument("--main-content", action="store_true",
                      help="with --from-warc: readability-style block "
                      "scoring (drop link-dense nav/footer blocks) "
                      "instead of the bare tag strip")
    prep.add_argument("--stage-report", action="store_true",
                      help="count survivors at every pipeline stage "
                      "boundary (summary JSON key 'stages'; one bounded "
                      "count per stage — leave off at production scale)")
    prep.add_argument("--url-col", default=None,
                      help="column holding each doc's URL; enables the "
                      "domain stage (canonical host -> registered "
                      "domain, kept as registered_domain in the output)")
    prep.add_argument("--max-per-domain", type=int, default=None,
                      help="cap docs per registered domain (deterministic "
                      "md5-seeded fair draw; requires --url-col)")
    prep.add_argument("--block-domains", default=None,
                      help="comma-separated registered domains to drop "
                      "before any other stage (requires --url-col)")
    prep.add_argument("--allow-domains", default=None,
                      help="comma-separated registered domains that "
                      "override --block-domains")
    prep.add_argument("--robots", default=None,
                      help="parquet of fetched robots.txt files (columns "
                      "domain, robots_txt); enables the RFC 9309 "
                      "politeness gate between the blocklist and the "
                      "per-domain cap (requires --url-col)")
    prep.add_argument("--robots-agent", default="*",
                      help="crawler product token for robots group "
                      "selection (default '*'; a specific agent's group "
                      "shadows '*' per RFC 9309)")
    prep.add_argument("--dsir-target", default=None,
                      help="parquet of target-corpus documents (text "
                      "column): enables DSIR importance resampling as "
                      "the last gate — keep --dsir-keep docs drawn "
                      "proportional to target-likeness")
    prep.add_argument("--dsir-keep", type=int, default=None,
                      help="sample size for --dsir-target")
    _add_spark_args(prep)
    prep.set_defaults(fn=cmd_prepare)

    ing = sub.add_parser(
        "ingest",
        help="continuously ingest document parquet files with "
        "incremental dedup against the accepted state",
    )
    ing.add_argument("--source", required=True,
                     help="directory/glob of incoming documents parquet "
                     "(doc_id, text)")
    ing.add_argument("--state", required=True,
                     help="state directory (accepted/ + signatures/)")
    ing.add_argument("--checkpoint", required=True,
                     help="stream checkpoint directory (reuse across runs "
                     "to process only new files)")
    ing.add_argument("--schema", default="doc_id long, text string",
                     help="incoming parquet schema (DDL string)")
    ing.add_argument("--url-col", default=None,
                     help="column holding each doc's URL; enables the "
                     "streaming domain stage (registered_domain stored "
                     "in the accepted state; keep consistent across the "
                     "stream's lifetime)")
    ing.add_argument("--max-per-domain", type=int, default=None,
                     help="stateful per-domain quota across batches "
                     "(first-arrival wins; requires --url-col)")
    ing.add_argument("--block-domains", default=None,
                     help="comma-separated registered domains dropped "
                     "before dedup (requires --url-col)")
    ing.add_argument("--from-warc", action="store_true",
                     help="treat --source as a directory of WARC/WARC.GZ "
                     "crawl segments: each micro-batch parses records, "
                     "extracts visible text (html_to_text), cleans lines "
                     "(C4 filter), keys docs by URL, then enters the "
                     "incremental dedup; implies the streaming domain "
                     "stage keys on url")
    ing.add_argument("--from-jsonl", action="store_true",
                     help="treat --source as JSONL/JSONL.GZ files read "
                     "with --schema (the interchange format real corpora "
                     "ship in; .gz decompresses transparently)")
    ing.add_argument("--robots", default=None,
                     help="parquet of fetched robots.txt files (domain, "
                     "robots_txt): RFC 9309 politeness gate before dedup "
                     "(requires --url-col or --from-warc)")
    ing.add_argument("--robots-agent", default="*",
                     help="crawler product token for robots group "
                     "selection (default '*')")
    ing.add_argument("--dsir-target", default=None, metavar="PARQUET",
                     help="target corpus (doc_id, text) defining the "
                     "DSIR importance distribution; with "
                     "--dsir-reference, freezes the 512-row log-ratio "
                     "table into the state dir ONCE before draining")
    ing.add_argument("--dsir-reference", default=None, metavar="PARQUET",
                     help="raw reference corpus for the DSIR "
                     "denominator (goes with --dsir-target)")
    ing.add_argument("--crawl-delays", default=None, metavar="PARQUET",
                     help="parquet of (domain, agent, crawl_delay) "
                     "rows: per-BATCH politeness budget max(1, "
                     "floor(window/delay)) per domain; beyond-budget "
                     "docs are deferred to the next window via the "
                     "deferred/ state table (goes with "
                     "--batch-window-sec; requires --url-col or "
                     "--from-warc)")
    ing.add_argument("--batch-window-sec", type=float, default=None,
                     help="crawl-window seconds one micro-batch "
                     "represents (goes with --crawl-delays)")
    ing.add_argument("--max-deferred-per-domain", type=int, default=None,
                     help="bound the deferral backlog: keep only this "
                     "many fair-draw slots past each domain's budget, "
                     "drop the rest (requires --crawl-delays)")
    ing.add_argument("--dsir-min-key", type=float, default=None,
                     help="DSIR selection threshold on the per-doc "
                     "Gumbel sample key, scored against the frozen "
                     "distribution — batch-split-invariant selection "
                     "(calibrate from a reference-corpus quantile)")
    _add_spark_args(ing)
    ing.set_defaults(fn=cmd_ingest)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
