"""The benchmark's workloads: closed-loop, single-client operations against
the public entry points of the program, each followed by output checks.

An operation returns an ``OpResult``: wall seconds, per-part seconds,
operations attempted and failed (a wrong output counts as failed), and
layer figures measured from outside the program.
"""

from __future__ import annotations

import datetime
import hashlib
import math
import os
import random
import re
import shutil
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field
from decimal import Decimal

import numpy as np
import pandas as pd

import inputs
import observe

# Five of the 25 queries pinned as bench.CORE, copied so that later edits
# to bench.py cannot shift this workload: the pair-scoring queries of the
# similarity family, MinHash dedup and the fan-out text metrics. A cold
# pass over all 25 takes 30-45 s, too long for a run that also starts a
# JVM, given the number of runs the benchmark must fit in an hour.
CORE = [
    "dedup_minhash_lsh", "dedup_embedding_cosine", "sim_ivf_topk",
    "mm_image_neardup", "text_quality_metrics",
]

BAG_ADDRESSES = 20_000
BIG_ENTITIES = ("Nummeraanduiding", "Verblijfsobject", "Pand")


@dataclass
class OpResult:
    seconds: float = 0.0
    cpu_s: float = 0.0
    parts: dict[str, float] = field(default_factory=dict)
    cpu: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    layer: dict[str, float] = field(default_factory=dict)
    errors: list[str] = field(default_factory=list)

    @contextmanager
    def timed(self, part: str):
        """Wall seconds and process-tree CPU seconds of one part of the
        operation; the checks run outside these parts."""
        t, c = time.perf_counter(), _cpu_total()
        try:
            yield
        finally:
            self.parts[part] = time.perf_counter() - t
            self.cpu[part] = _cpu_total() - c

    def finish(self) -> None:
        self.seconds = sum(self.parts.values())
        self.cpu_s = sum(self.cpu.values())

    def attempt(self, what: str, fn):
        """Run one operation; an exception or a failed check counts it as
        failed. ``fn`` returns a list of mismatch messages."""
        self.attempted += 1
        try:
            bad = fn()
        except Exception:
            bad = [traceback.format_exc(limit=4)]
        if bad:
            self.failed += 1
            self.errors.extend(f"{what}: {b}" for b in bad)
            for b in bad:
                print(f"perfbench: {what}: {b}", file=sys.stderr)


def _cpu_total() -> float:
    return sum(observe.tree_cpu().values())


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(
        pq.read_metadata(os.path.join(path, f)).num_rows
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


def _csv_rows(path: str) -> int:
    """Data lines of a header-carrying CSV output directory."""
    n = 0
    for f in os.listdir(path):
        if f.endswith(".csv"):
            with open(os.path.join(path, f), "rb") as fh:
                n += max(0, sum(1 for _ in fh) - 1)
    return n


@contextmanager
def _patched(owner, attr: str, wrap):
    real = getattr(owner, attr)
    setattr(owner, attr, wrap(real))
    try:
        yield
    finally:
        setattr(owner, attr, real)


@contextmanager
def _traced_import(tracer):
    """Time the layers of the real ``import_bag`` from outside. While open,
    its calls into public functions run in spans: ``read_bag_entity`` and
    ``read_gemeenten_csv`` (planning, plus any job they start),
    ``build_adressen`` and ``clean_adressen``, and every
    ``DataFrameWriter.parquet`` call, named after the table it writes (the
    output directory's name). ``import_bag`` cuts lineage at each write,
    so a table's write span runs all of its lineage: for an entity table
    the XML scan and the active filter, for ``woonplaatsen`` also the
    enrichment join with the relation scan it reads, for ``adressen`` the
    plan ``build_adressen`` + ``clean_adressen`` made over the written
    tables. Yields a dict that fills with span name -> span."""
    from contextlib import ExitStack

    from pyspark.sql.readwriter import DataFrameWriter

    from bag_parser_spark.plans import bag_job
    from bag_parser_spark.plans import bag_pipeline as P

    xml_tables = set(bag_job.ENTITY_TABLE_NAMES.values())
    spans = {}

    def traced(name_of):
        def wrap(real):
            def call(*args, **kwargs):
                name = name_of(*args, **kwargs)
                with tracer.span(name) as s:
                    out = real(*args, **kwargs)
                spans[name] = s
                return out
            return call
        return wrap

    def write_name(writer, path, *args, **kwargs):
        table = os.path.basename(str(path).rstrip("/"))
        layer = ("bag_xml" if table in xml_tables
                 else "bag_pipeline" if table == "adressen" else "gemeenten_csv")
        return f"{layer}:write:{table}"

    with ExitStack() as stack:
        for owner, attr, name_of in (
            (DataFrameWriter, "parquet", write_name),
            (bag_job, "read_bag_entity", lambda spark, path, entity, *a, **k:
                f"bag_xml:read:{bag_job.ENTITY_TABLE_NAMES[entity]}"),
            (bag_job, "read_gemeenten_csv", lambda *a, **k: "gemeenten_csv:read"),
            (P, "build_adressen", lambda *a, **k: "bag_pipeline:build_adressen"),
            (P, "clean_adressen", lambda *a, **k: "bag_pipeline:clean_adressen"),
        ):
            stack.enter_context(_patched(owner, attr, traced(name_of)))
        yield spans


def _import_layers(spans: dict) -> dict[str, float]:
    """Per-layer import figures from the spans of ``_traced_import``."""
    from bag_parser_spark.plans.bag_job import ENTITY_TABLE_NAMES

    def secs(*names):
        return sum(spans[n].end - spans[n].start for n in names)

    out = {"bag_xml.rest_s": 0.0, "bag_xml.py_cpu_s": 0.0}
    for entity, table in ENTITY_TABLE_NAMES.items():
        names = (f"bag_xml:read:{table}", f"bag_xml:write:{table}")
        key = f"bag_xml.{entity.lower()}_s" if entity in BIG_ENTITIES else "bag_xml.rest_s"
        out[key] = out.get(key, 0.0) + secs(*names)
        out["bag_xml.py_cpu_s"] += sum(spans[n].attrs.get("py_cpu_s", 0.0) for n in names)
    out["bag_pipeline.adressen_s"] = secs(
        "bag_pipeline:build_adressen", "bag_pipeline:clean_adressen",
        "bag_pipeline:write:adressen")
    return out


def _expect(what: str, got, want) -> list[str]:
    return [] if got == want else [f"{what}: got {got!r}, expected {want!r}"]


class BagWorkload:
    """Import a zipped delivery, export it to CSV, validate it: the
    reference's headline import path followed by its read side."""

    name = "bag"

    def __init__(self, cache_dir: str, work_dir: str, seed: int, n: int):
        self.delivery = inputs.cached(
            f"bag{n}", cache_dir, seed,
            lambda p: inputs.generate_bag_delivery(p, n, seed),
        )
        self.csv = os.path.join(self.delivery, "gemeenten.csv")
        self.input_bytes = _dir_bytes(self.delivery)
        self.want = inputs.bag_counts(n)
        self.groups = inputs.postcode_groups(n)
        self.work_dir = work_dir

    def run(self, spark, rep: int, tracer=None) -> OpResult:
        out = os.path.join(self.work_dir, f"bag-rep{rep}")
        shutil.rmtree(out, ignore_errors=True)
        res = OpResult()
        try:
            self._run(spark, out, res, tracer)
        finally:
            res.finish()
            shutil.rmtree(out, ignore_errors=True)
        return res

    def _run(self, spark, out: str, res: OpResult, tracer) -> None:
        from bag_parser_spark.config import EngineConfig
        from bag_parser_spark.plans import export as E
        from bag_parser_spark.plans.bag_job import import_bag, run_bag_validation

        # the reference's import settings (scripts/import_bench.py)
        cfg = EngineConfig(active_only=True, snapshot_date=inputs.SNAPSHOT,
                           parse_geometries=False)
        tdir = os.path.join(out, "tables")
        tables: dict = {}

        def do_import():
            if tracer is None:
                with res.timed("import_s"):
                    tables.update(import_bag(spark, self.delivery, self.csv,
                                             out_dir=tdir, cfg=cfg))
            else:
                with (res.timed("import_s"), tracer.span("bag_job:import"),
                      _traced_import(tracer) as spans):
                    tables.update(import_bag(spark, self.delivery, self.csv,
                                             out_dir=tdir, cfg=cfg))
                res.layer.update(_import_layers(spans))
            return self._check_import(tdir, res)

        res.attempt("import", do_import)
        if "adressen" not in tables:
            # nothing to export or validate: both count as failed
            res.attempted += 2
            res.failed += 2
            return

        exports = {
            "postcode": lambda: E.export_adressen_postcode(
                tables["adressen"], tables["openbare_ruimten"], tables["woonplaatsen"]),
            "all": lambda: E.export_adressen_all(
                tables["adressen"], tables["openbare_ruimten"], tables["gemeenten"],
                tables["woonplaatsen"], tables["provincies"]),
            **{
                f"p{d}": (lambda d=d: E.export_postcode_stats(
                    tables["adressen"], tables["woonplaatsen"], d))
                for d in (4, 5, 6)
            },
        }
        cdir = os.path.join(out, "csv")

        def do_export():
            with res.timed("export_s"):
                for key, make in exports.items():
                    if tracer is None:
                        E.write_csv(make(), os.path.join(cdir, key))
                    else:
                        with tracer.span(f"export:{key}") as s:
                            E.write_csv(make(), os.path.join(cdir, key))
                        res.layer[f"export.{key}_s"] = s.end - s.start
            res.layer["export.csv_bytes"] = _dir_bytes(cdir)
            want = {"postcode": self.want["adressen"], "all": self.want["adressen"],
                    **self.groups}
            return [m for key in exports
                    for m in _expect(f"{key} rows", _csv_rows(os.path.join(cdir, key)),
                                     want[key])]

        res.attempt("export", do_export)
        report: dict = {}

        def do_validate():
            if tracer is None:
                with res.timed("validate_s"):
                    df, _ = run_bag_validation(tables, cfg)
                    report.update({r["check"]: r["value"] for r in df.collect()})
            else:
                with res.timed("validate_s"), tracer.span("validate:battery") as s:
                    df, _ = run_bag_validation(tables, cfg)
                    report.update({r["check"]: r["value"] for r in df.collect()})
                res.layer["validate.battery_s"] = s.end - s.start
                res.layer["validate.jobs"] = s.attrs.get("jobs", 0)
            return self._check_report(report)

        res.attempt("validate", do_validate)

    def _check_import(self, tdir: str, res: OpResult) -> list[str]:
        rows = {name: _parquet_rows(os.path.join(tdir, name))
                for name in self.want if not name.startswith("raw.")}
        bad = [m for name, n in rows.items() for m in _expect(f"{name} rows", n, self.want[name])]
        written = _dir_bytes(tdir)
        w = self.want
        # entity records the XML scan kept, against all it read (the
        # expired duplicates are the only records it must drop)
        kept = sum(v for k, v in rows.items() if k not in ("adressen", "gemeenten", "provincies"))
        dropped = (w["raw.nummers"] - w["nummers"]
                   + w["raw.verblijfsobjecten"] - w["verblijfsobjecten"])
        res.layer.update({
            "bag_xml.records": kept,
            "bag_xml.kept_ratio": kept / (kept + dropped),
            "bag_pipeline.rows": rows["adressen"],
            "bag_job.bytes_written": written,
            "bag_job.bytes_per_input_byte": written / self.input_bytes,
            "bag_job.addr_per_s": rows["adressen"] / res.parts["import_s"],
        })
        return bad

    def _check_report(self, report: dict) -> list[str]:
        w = self.want
        want = {
            "gemeenten_zonder_adressen": 0,
            "woonplaatsen_zonder_gemeente": 0,
            "adressen_zonder_openbare_ruimte": 0,
            "adressen_zonder_woonplaats": 0,
            "adressen_zonder_gemeente": 0,
            "panden_zonder_locatie": 0,
            "aantal_adressen": w["adressen"],
            "aantal_adressen_met_pand": w["verblijfsobjecten"],
            "aantal_ligplaatsen": w["ligplaatsen"],
            "aantal_standplaatsen": w["standplaatsen"],
            "aantal_openbare_ruimten": w["openbare_ruimten"],
            "aantal_woonplaatsen": w["woonplaatsen"],
            "aantal_gemeenten": w["gemeenten"],
            "aantal_provincies": w["provincies"],
        }
        return [m for k, v in want.items() for m in _expect(k, report.get(k), str(v))]


class CorpusPrepare:
    """The ``prepare --from-warc --main-content`` path of the CLI: the crawl
    front half (``crawl_to_documents``), cut to parquet, then
    ``prepare_corpus`` with C4 lines, Gopher rules and near-dup removal.
    Only the traced run of ``catalog_core`` runs it (see run.py), to
    measure the ``sources.warc`` and ``plans.corpus_prep`` layers. It sets
    no ``url_col``: the URL/domain stage makes the plan string ~1 GB long
    and the prepare two to four times slower, past the three minutes one
    benchmark run may take."""

    name = "corpus_prepare"

    def __init__(self, cache_dir: str, work_dir: str, seed: int, n: int):
        self.crawl = inputs.cached(
            f"crawl{n}", cache_dir, seed, lambda p: inputs.generate_crawl(p, n, seed))
        self.want = inputs.crawl_counts(n)
        self.work_dir = work_dir

    def run(self, spark, rep: int, tracer) -> OpResult:
        out = os.path.join(self.work_dir, f"corpus-rep{rep}")
        shutil.rmtree(out, ignore_errors=True)
        res = OpResult()
        try:
            res.attempt("prepare", lambda: self._run(spark, out, res, tracer))
        finally:
            res.finish()
            shutil.rmtree(out, ignore_errors=True)
        return res

    def _run(self, spark, out: str, res: OpResult, tracer) -> list[str]:
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from bag_parser_spark.plans.corpus_prep import prepare_corpus
        from bag_parser_spark.sources.warc import crawl_to_documents

        front = os.path.join(out, "front")
        with res.timed("front_s"), tracer.span("warc:front") as s:
            crawl_to_documents(spark, self.crawl, main_content=True).select(
                "url", "text", "drop_doc").write.parquet(front)
        drop = pq.read_table(front, columns=["drop_doc"]).column(0).to_pylist()
        kept = drop.count(False)
        w = self.want
        res.layer.update({"warc.front_s": s.end - s.start, "warc.records": len(drop),
                          "warc.kept_ratio": kept / max(1, len(drop))})
        bad = _expect("crawl records", len(drop), w["records"])
        bad += _expect("front half kept", kept, w["records"] - w["front_drop"])

        with res.timed("curate_s"), tracer.span("corpus_prep:curate") as s:
            docs = spark.read.parquet(front).filter(~F.col("drop_doc")).select("url", "text")
            summary = prepare_corpus(
                spark, docs, os.path.join(out, "corpus"), id_col="url",
                c4_lines=True, gopher=True, near_dedup=True, stage_report=True,
            )
        stages = summary["stages"] or {}
        res.layer.update({
            "corpus_prep.curate_s": s.end - s.start,
            "corpus_prep.jobs": s.attrs.get("jobs", 0),
            **{f"corpus_prep.stage.{k}": v for k, v in stages.items()},
        })
        final = w["stages"]["near_dedup"]
        bad += [m for k, v in w["stages"].items()
                for m in _expect(f"stage {k}", stages.get(k), v)]
        bad += _expect("n_out", summary["n_out"], final)
        bad += _expect("split rows", sum(summary["splits"].values()), final)
        return bad


def _cell(v):
    """One result cell in a form both engines' outputs compare equal in."""
    if isinstance(v, np.ndarray):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    if v is None:
        return None
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, pd.Timestamp):
        return None if pd.isna(v) else v.to_pydatetime()
    if isinstance(v, datetime.date) and not isinstance(v, datetime.datetime):
        return datetime.datetime.combine(v, datetime.time())
    try:
        if pd.isna(v):
            return None
    except (TypeError, ValueError):
        pass
    return v


def canonical(pdf) -> tuple[list[str], list[tuple]]:
    """Sorted column names and the order-insensitive sorted rows."""
    cols = sorted(pdf.columns)
    rows = [tuple(_cell(v) for v in r) for r in pdf[cols].itertuples(index=False, name=None)]
    rows.sort(key=repr)
    return cols, rows


class CatalogWorkload:
    """One pass over the ``CORE`` catalog queries, in seed-permuted order,
    over tables that are the same for every seed. Each result is
    collected and checked against the query's DuckDB oracle (untimed).
    Oracle answers are cached by query text and input bytes; ``oracle/``
    next to this file holds them, since the MinHash oracles take minutes
    in DuckDB."""

    name = "catalog_core"

    def __init__(self, cache_dir: str, seed: int, queries: list[str] | None = None):
        self.tables = inputs.cached("catalog", cache_dir, 0, inputs.generate_catalog_tables)
        self.oracle_dirs = [os.path.join(os.path.dirname(os.path.abspath(__file__)), "oracle"),
                            os.path.join(cache_dir, "oracle")]
        self.order = list(queries or CORE)
        random.Random(seed).shuffle(self.order)

    def run(self, spark, rep: int, tracer=None) -> OpResult:
        from bag_parser_spark.plans.catalog import registry
        from bag_parser_spark.session import release_cached_blocks

        reg = registry()
        res = OpResult()
        for name in self.order:
            q = reg[name]

            def one(name=name, q=q):
                with res.timed(name):
                    pdf = q.fn(spark, self.tables).toPandas()
                release_cached_blocks(spark)
                return self._check(name, q.sql, pdf)

            if tracer is None:
                res.attempt(name, one)
            else:
                with tracer.span(f"catalog:{name}") as s:
                    res.attempt(name, one)
                res.layer[f"catalog.{name}_s"] = res.parts.get(name, 0.0)
                res.layer[f"catalog.{name}.jobs"] = s.attrs.get("jobs", 0)
        res.finish()
        return res

    def _oracle(self, sql: str) -> dict:
        """Row count, columns and value hash of the oracle's answer."""
        import json

        import duckdb

        from bag_parser_spark.sources.parquet import TABLES

        used = [t for t in TABLES if re.search(rf"\b{t}\b", sql)]
        key = hashlib.sha1(sql.encode())
        for t in used:
            with open(os.path.join(self.tables, f"{t}.parquet"), "rb") as f:
                key.update(hashlib.sha1(f.read()).digest())
        for d in self.oracle_dirs:
            path = os.path.join(d, key.hexdigest() + ".json")
            if os.path.exists(path):
                with open(path) as f:
                    return json.load(f)
        con = duckdb.connect()
        try:
            con.execute("SET TimeZone='UTC'")
            for t in used:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.tables}/{t}.parquet'")
            cols, rows = canonical(con.execute(sql).df())
        finally:
            con.close()
        answer = {"cols": cols, "rows": len(rows), "hash": _digest(rows)}
        os.makedirs(self.oracle_dirs[-1], exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump(answer, f)
        os.replace(path + ".tmp", path)
        return answer

    def _check(self, name: str, sql: str | None, spdf) -> list[str]:
        """Rows, columns and value hash against the DuckDB oracle; a query
        without an oracle must return rows."""
        if sql is None:
            return [] if len(spdf) else ["no rows"]
        want = self._oracle(sql)
        cols, rows = canonical(spdf)
        if cols != want["cols"]:
            return [f"columns {cols} != oracle {want['cols']}"]
        if len(rows) != want["rows"]:
            return [f"{len(rows)} rows != oracle {want['rows']}"]
        if not rows:
            return ["no rows"]
        return [] if _digest(rows) == want["hash"] else ["value hash differs from oracle"]


def _digest(rows: list[tuple]) -> str:
    return hashlib.sha1(repr(rows).encode()).hexdigest()
