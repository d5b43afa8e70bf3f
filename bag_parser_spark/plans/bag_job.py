"""End-to-end BAG import job (SURVEY §3.1): the reference's import_bag.py
as one Spark application.

Reference stages → Spark mapping:
  unzip to a temp dir                              → extract_bag_delivery
                                                     (driver, once)
  per-entity XML parse (×8, process pool)          → 8 lazy JVM XML scans
  DDL + per-row REPLACE inside one transaction     → dedup + atomic parquet
                                                     job commit per entity
  woonplaats enrichment, adressen build, cleaning  → one composed lineage
  invariant battery                                → validate_bag report
  shrink/VACUUM                                    → drop source outputs
                                                     (optional, like
                                                     delete_no_longer_needed
                                                     _bag_tables)

Entity XML paths: ``{xml_root}/{entity_file_code}*`` mirroring the
reference's zip-member naming (9999WPL…, reference bag_parser.py:401-407);
the extraction keeps those names.

Every stage is lazy until a sink forces it; per-entity writes run
independently (no false sequencing — the reference's strict stage order
dissolves into lineage dependencies).
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

from bag_parser_spark.config import DEFAULT_CONFIG, EngineConfig
from bag_parser_spark.plans import bag_pipeline as P
from bag_parser_spark.plans.validate import validate_bag
from bag_parser_spark.sources.bag_schemas import ENTITIES
from bag_parser_spark.sources.bag_xml import (
    delivery_has_zips,
    extract_bag_delivery,
    read_bag_entity,
)
from bag_parser_spark.sources.gemeenten_csv import (
    gemeenten_table,
    provincies_table,
    read_gemeenten_csv,
)

ENTITY_TABLE_NAMES = {
    "Woonplaats": "woonplaatsen",
    "GemeenteWoonplaatsRelatie": "gemeente_woonplaatsen",
    "OpenbareRuimte": "openbare_ruimten",
    "Nummeraanduiding": "nummers",
    "Pand": "panden",
    "Verblijfsobject": "verblijfsobjecten",
    "Ligplaats": "ligplaatsen",
    "Standplaats": "standplaatsen",
}


def entity_xml_path(xml_root: str, entity_name: str) -> str:
    """Per-entity scan path: the files named by the entity's file code
    (9999WPL*, the reference's extracted-temp layout, which
    ``extract_bag_delivery`` keeps). When nothing matches, the root is
    scanned whole; the scan's row tag then selects this entity's
    records."""
    pattern = os.path.join(xml_root, f"{ENTITIES[entity_name].file_code}*")
    if os.path.isfile(xml_root) or not glob.glob(pattern):
        return xml_root
    return pattern


def import_bag(
    spark: SparkSession,
    xml_root: str,
    gemeenten_csv: str,
    out_dir: str | None = None,
    cfg: EngineConfig = DEFAULT_CONFIG,
) -> dict[str, DataFrame]:
    """Run the full import; returns all tables (adressen included). When
    ``out_dir`` is set, each table is persisted as parquet (atomic job
    commit — the transaction equivalent) and read back, cutting lineage
    exactly where the reference commits its per-entity transaction.

    A zipped delivery (zips at any depth under ``xml_root``) is first
    flattened to plain .xml, as the reference does to a temp dir
    (import_bag.py:31-37). The extraction lives under ``out_dir`` when
    given (removed after the persist cut re-reads every table from
    parquet), else in a mkdtemp that must outlive the returned lazy
    DataFrames. Plain layouts are read in place."""
    extract_dir = None
    try:
        if delivery_has_zips(xml_root):
            extract_dir = (
                os.path.join(out_dir, "_xml_extract")
                if out_dir
                else tempfile.mkdtemp(prefix="bag_xml_extract_")
            )
            xml_root = extract_bag_delivery(xml_root, extract_dir)
        return _import_bag_inner(
            spark, xml_root, gemeenten_csv, out_dir, cfg, extract_dir
        )
    except BaseException:
        # a crashed import must not leave the extraction behind: under
        # out_dir a rerun would extract the (possibly updated) delivery
        # NEXT TO the stale files and the entity globs would read both;
        # the mkdtemp case (out_dir None) leaks a full extracted XML copy
        # per crash otherwise — no live plan references it once we raise
        if extract_dir:
            shutil.rmtree(extract_dir, ignore_errors=True)
        raise


def _import_bag_inner(
    spark: SparkSession,
    xml_root: str,
    gemeenten_csv: str,
    out_dir: str | None,
    cfg: EngineConfig,
    extract_dir: str | None,
) -> dict[str, DataFrame]:
    csv_df = read_gemeenten_csv(spark, gemeenten_csv)
    tables: dict[str, DataFrame] = {
        "gemeenten": gemeenten_table(csv_df),
        "provincies": provincies_table(csv_df),
    }
    for entity, table in ENTITY_TABLE_NAMES.items():
        tables[table] = read_bag_entity(
            spark, entity_xml_path(xml_root, entity), entity, cfg
        )

    # enrich BEFORE the persist cut so the on-disk woonplaatsen already
    # carries gemeente_id — disk consumers (CLI export/validate, the
    # SQLite-compat sink) read the finished table, matching the reference's
    # add_gemeenten_into_woonplaatsen running inside the import
    tables["woonplaatsen"] = P.enrich_woonplaatsen(
        tables["woonplaatsen"], tables["gemeente_woonplaatsen"]
    )

    if out_dir:
        # read back with the written schema: parquet schema inference
        # would run one footer-reading job per table
        for name in list(tables):
            path = os.path.join(out_dir, name)
            tables[name].write.mode("overwrite").parquet(path)
            tables[name] = spark.read.schema(tables[name].schema).parquet(path)
        if extract_dir:
            # every table is now parquet-backed; the extracted XML is
            # no longer referenced by any live plan
            shutil.rmtree(extract_dir, ignore_errors=True)
    adressen = P.build_adressen(
        tables["nummers"],
        tables["openbare_ruimten"],
        tables["woonplaatsen"],
        tables["verblijfsobjecten"],
        tables["panden"],
        tables["ligplaatsen"],
        tables["standplaatsen"],
        cfg,
    )
    adressen = P.clean_adressen(adressen, tables["openbare_ruimten"], cfg)
    if out_dir:
        path = os.path.join(out_dir, "adressen")
        adressen.write.mode("overwrite").parquet(path)
        adressen = spark.read.schema(adressen.schema).parquet(path)
    tables["adressen"] = adressen
    return tables


def run_bag_validation(tables: dict[str, DataFrame],
                       cfg: EngineConfig = DEFAULT_CONFIG):
    """The §3.3 entry point: run the invariant battery on imported tables."""
    return validate_bag(
        tables["adressen"],
        tables["gemeenten"],
        tables["woonplaatsen"],
        tables["openbare_ruimten"],
        tables["provincies"],
        cfg,
    )
