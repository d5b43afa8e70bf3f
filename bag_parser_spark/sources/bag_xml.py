"""Distributed BAG LVBAG XML source (SURVEY §2.1 S1-S4, §2.2 P1-P10).

The reference fans one Python process per XML file and streams iterparse
events (reference bag/bag_parser.py:73-120, 441-453). Spark-first shape:

    zipped delivery → extract_bag_delivery (driver, streamed to disk, once)
      → format("xml") scan of the plain .xml files (JVM-side parse; no
        Python workers, no Arrow transfer)
      → DataFrame transforms: active filter (P3-P5), last-write-wins upsert
        (S7/W1, explicit (file, ordinal) order), coordinate derivation
        (P7/P8 + F6 as Column arithmetic — the reference does this per-row
        in Python), geometry convert-or-blank (F8/P10), typed projection.

Zip handling (S1) is the reference's own step: it extracts the delivery
to a temp dir before parsing (reference import_bag.py:31-37), and so does
``plans/bag_job.import_bag``. The scan lists local files only; a remote
delivery (s3://, hdfs://) must be copied and extracted locally first. The
upsert is the only shuffle (on id).

Determinism upgrade over the reference: REPLACE INTO order there is
as_completed() future order (nondeterministic across processes); here the
upsert orders by (file path, row ordinal) — stable under retries.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import zipfile
from xml.parsers import expat

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bag_parser_spark.config import DEFAULT_CONFIG, EngineConfig
from bag_parser_spark.functions import geometry as G
from bag_parser_spark.functions import rijksdriehoek as RD
from bag_parser_spark.functions import scalars
from bag_parser_spark.operators.dedup import last_write_wins
from bag_parser_spark.sources.bag_schemas import (
    ENTITIES,
    NAMESPACES,
    EntityConfig,
)


def _raw_schema(entity: EntityConfig) -> T.StructType:
    return T.StructType(
        [T.StructField(c, T.StringType()) for c in sorted(entity.columns)]
        + [
            T.StructField("__file__", T.StringType()),
            T.StructField("__ordinal__", T.LongType()),
        ]
    )


def _read_schema(entity: EntityConfig) -> T.StructType:
    """Explicit all-string read schema for the XML source: the entity's
    tag paths merged into one tree. Every element is an array (repeated
    tags arrive as N elements, single tags as 1 — comma-joined
    afterwards, the S4 rule): array<string> at a leaf, array<struct<…>>
    for a wrapper."""
    tree: dict = {}
    for paths in entity.columns.values():
        for path in paths:
            *wrappers, leaf = path.split("/")
            node = tree
            for tag in wrappers:
                node = node.setdefault(tag, {})
            node.setdefault(leaf, None)

    def element(node: dict | None) -> T.ArrayType:
        if node is None:
            return T.ArrayType(T.StringType())
        return T.ArrayType(T.StructType(
            [T.StructField(tag, element(child)) for tag, child in node.items()]
        ))

    return element(tree).elementType


def _path_values(path: str) -> Column:
    """array<string> of the values at one tag path, in document order;
    NULL when the path's first element is absent."""
    first, *rest = path.split("/")
    values = F.col(f"`{first}`")
    for tag in rest:
        values = F.flatten(F.filter(
            F.transform(values, lambda x: x[tag]), lambda x: x.isNotNull()
        ))
    return values


def extract_bag_delivery(path: str, dest_dir: str) -> str:
    """Flatten a (possibly two-level) zipped BAG delivery into plain
    ``.xml`` files under ``dest_dir`` — Spark's XML source reads files,
    not zip members; the reference performs the same extraction to a temp
    dir (reference import_bag.py:31-37). ``path`` may be the delivery zip
    itself, or a directory holding it and/or per-entity zips and loose
    ``.xml`` files (copied through), at any depth: subdirectories are
    walked in sorted order. Other files (checksums, a gemeenten.csv next
    to the zip) are skipped.

    Members stream to disk (``zf.open`` + ``copyfileobj``); an inner
    per-entity zip is spooled to an unnamed temp file under ``dest_dir``
    first, so driver memory stays flat however large the archives are.

    Naming preserves per-entity selection by file-code glob
    (``entity_xml_path``): a member keeps its basename when it already
    starts with a known entity file code; otherwise it is prefixed with
    its enclosing archive's stem (the per-entity zips are named by file
    code — 9999WPL….zip — so their anonymous members become
    ``9999WPL…_member.xml``). Name collisions get a numeric suffix.
    Returns ``dest_dir``. A pre-existing ``dest_dir`` is REPLACED —
    leftovers from a crashed earlier extraction would otherwise sit
    beside the fresh files and both match the entity globs (stale rows
    imported silently).
    """
    if os.path.isdir(dest_dir):
        shutil.rmtree(dest_dir)
    os.makedirs(dest_dir)
    codes = tuple(e.file_code for e in ENTITIES.values())
    used: set[str] = set()

    def target_path(member_base: str, archive_stem: str) -> str:
        name = (
            member_base
            if member_base.startswith(codes) or not archive_stem
            else f"{archive_stem}_{member_base}"
        )
        stem, ext = os.path.splitext(name)
        k, out = 0, name
        while out in used:
            k += 1
            out = f"{stem}_{k}{ext}"
        used.add(out)
        return os.path.join(dest_dir, out)

    def extract_zip(zf: zipfile.ZipFile, archive_stem: str) -> int:
        n = 0
        for member in sorted(zf.namelist()):
            base = os.path.basename(member)
            low = member.lower()
            if low.endswith(".zip"):
                # ZipFile needs a seekable file: spool the inner archive
                with tempfile.TemporaryFile(dir=dest_dir) as spool:
                    with zf.open(member) as src:
                        shutil.copyfileobj(src, spool)
                    with zipfile.ZipFile(spool) as inner:
                        n += extract_zip(inner, os.path.splitext(base)[0])
            elif low.endswith(".xml"):
                with zf.open(member) as src, open(
                    target_path(base, archive_stem), "wb"
                ) as dst:
                    shutil.copyfileobj(src, dst)
                n += 1
        return n

    # listed before anything is extracted: a dest_dir inside ``path`` is
    # still empty here
    sources = [path] if os.path.isfile(path) else []
    for root, dirs, files in os.walk(path):
        dirs.sort()
        sources += [os.path.join(root, f) for f in sorted(files)]
    n = 0
    for src in sources:
        low = src.lower()
        if low.endswith(".zip"):
            with zipfile.ZipFile(src) as zf:
                n += extract_zip(zf, "")
        elif low.endswith(".xml"):
            shutil.copyfile(src, target_path(os.path.basename(src), ""))
            n += 1
    if n == 0:
        raise FileNotFoundError(
            f"extract_bag_delivery: no .xml members found under {path!r}"
        )
    return dest_dir


def delivery_has_zips(path: str) -> bool:
    """True when ``path`` is a zip or a local directory containing zips
    at any depth — i.e. ``extract_bag_delivery`` must run before the scan.
    BAG deliveries sometimes nest per-entity zips in subdirectories, so
    the search is recursive (ADVICE r8). Remote URIs are not inspected
    (False): the scan then fails loudly on them, since it lists local
    files only."""
    if os.path.isdir(path):
        return any(
            f.lower().endswith(".zip")
            for _, _, files in os.walk(path)
            for f in files
        )
    return any(p.lower().endswith(".zip") for p in glob.glob(path))


class _RootSeen(Exception):
    pass


def _root_namespaces(path: str) -> dict[str, str]:
    """xmlns declarations on a file's root element, prefix → URI (prefix
    '' for the default namespace). Parses up to the root start tag only."""
    found: dict[str, str] = {}

    def start(_name, attrs):
        found.update(
            (k[6:], v) for k, v in attrs.items()
            if k == "xmlns" or k.startswith("xmlns:")
        )
        raise _RootSeen

    parser = expat.ParserCreate()
    parser.StartElementHandler = start
    with open(path, "rb") as f:
        try:
            while chunk := f.read(1 << 14):
                parser.Parse(chunk, False)
        except _RootSeen:
            pass
    return found


_PREFIX_BY_URI = {uri: prefix for prefix, uri in NAMESPACES.items()}


def _check_namespace_prefixes(xmls: list[str]) -> None:
    """The scan matches qualified names as written, so a file binding a
    known LVBAG namespace URI to another prefix (or as the default
    namespace) would scan as zero rows without an error. Fail loudly
    instead, naming the file and the prefix."""
    for path in xmls:
        for prefix, uri in _root_namespaces(path).items():
            want = _PREFIX_BY_URI.get(uri)
            if want is not None and prefix != want:
                bound = (
                    f"prefix {prefix!r}" if prefix else "the default namespace"
                )
                raise ValueError(
                    f"{path}: namespace {uri!r} is bound to {bound}; the BAG "
                    f"XML scan matches tags by the LVBAG prefix {want!r} "
                    "as written"
                )


def read_bag_entity_raw_native(
    spark: SparkSession, path: str, entity_name: str
) -> DataFrame:
    """JVM-native XML scan (Spark 4 built-in ``format("xml")``) → raw
    all-string DataFrame with (file, ordinal) arrival order attached. The
    parse never leaves the JVM: no Python workers, no Arrow transfer.

    Contract (enforced loudly):
    - plain local ``.xml`` files only — a zipped delivery raises; extract
      it first (``extract_bag_delivery``; ``import_bag`` does this).
    - LVBAG namespace URIs bound to their usual prefixes
      (``_check_namespace_prefixes``).
    - a value is read only at the tag paths declared in
      ``EntityConfig.columns`` (flat and real-delivery nested layouts).
    - ``__ordinal__`` is ``monotonically_increasing_id()``: the XML source
      never splits a file across partitions (unlike ``text``, whatever
      ``spark.sql.files.maxPartitionBytes`` says), so within one file the
      ordinal follows document order and a duplicate id later in the
      file wins; across files the upsert orders by ``__file__`` first.
    """
    entity = ENTITIES[entity_name]
    listing = glob.glob(
        os.path.join(path, "*") if os.path.isdir(path) else path
    )
    zips = [p for p in listing if p.lower().endswith(".zip")]
    if zips:
        raise ValueError(
            f"the BAG XML scan cannot read zip archives ({zips[:3]}…) — "
            "extract the delivery first (extract_bag_delivery; import_bag "
            "does this automatically)"
        )
    xmls = [p for p in listing if p.lower().endswith(".xml")]
    if not xmls:
        raise FileNotFoundError(
            f"no .xml files under {path!r} (the BAG XML scan lists local "
            "files only: copy and extract a remote delivery first)"
        )
    _check_namespace_prefixes(xmls)

    df = (
        spark.read.format("xml")
        .option("rowTag", entity.tag)
        .schema(_read_schema(entity))
        .load(xmls)
    )
    empty = F.array().cast("array<string>")
    out = []
    for c in sorted(entity.columns):
        arrays = [_path_values(p) for p in entity.columns[c]]
        values = (
            arrays[0] if len(arrays) == 1
            else F.concat(*[F.coalesce(a, empty) for a in arrays])
        )
        if c == "geometry":
            # P9 bracket wrap per occurrence
            values = F.transform(values, scalars.bracket_wrap)
        out.append(F.coalesce(F.array_join(values, ","), F.lit("")).alias(c))
    return df.select(
        *out,
        F.input_file_name().alias("__file__"),
        F.monotonically_increasing_id().alias("__ordinal__"),
    )


def finalize_entity(
    raw: DataFrame,
    entity_name: str,
    cfg: EngineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Post-parse DataFrame pipeline: P3-P5 active filter → S7 upsert →
    coordinate derivation → geometry convert/blank → typed projection.
    All Column expressions — nothing returns to Python. The derivations
    are at most two projections: rd_x/rd_y first, then everything else,
    with latitude/longitude reading the rd_x/rd_y columns so the position
    parse is planned once per coordinate, not inlined into every
    polynomial term."""
    from datetime import date

    entity = ENTITIES[entity_name]
    df = raw
    # F4: "active as of today" snapshot (reference utils.py:168-169);
    # cfg.snapshot_date pins it for deterministic runs
    snapshot = cfg.snapshot_date or date.today().isoformat()
    if cfg.active_only:
        pred = scalars.temporal_validity_predicate(
            F.col("begindatum_geldigheid"),
            F.col("einddatum_geldigheid"),
            snapshot,
        )
        if entity.status_active:
            pred = pred & scalars.status_predicate(
                F.col("status"), entity.status_active
            )
        df = df.filter(pred)
    if entity.upsert_key:
        df = last_write_wins(
            df,
            keys=[entity.upsert_key],
            order_by=[F.col("__file__"), F.col("__ordinal__")],
        )
    derived: dict[str, Column] = {}
    if entity.coordinates_field:
        pos = (
            G.first_pos_of_geometry(F.col("geometry"))
            if entity.coordinates_field == "geometry"
            else F.col("pos")
        )
        pos = F.when(F.coalesce(pos, F.lit("")) != "", pos)
        x, y = scalars.pos_to_rd(pos)
        df = df.withColumns({"rd_x": x, "rd_y": y})
        derived["latitude"] = RD.rd_to_wgs84_lat(F.col("rd_x"), F.col("rd_y"))
        derived["longitude"] = RD.rd_to_wgs84_lon(F.col("rd_x"), F.col("rd_y"))
    if entity.has_geometry:
        derived["geometry"] = (
            G.geometry_to_wgs_geojson(F.col("geometry"), entity.has_3d_geometry)
            if cfg.parse_geometries
            else F.lit("")
        )
    if entity_name == "OpenbareRuimte":
        # P6: naam chosen short/long at save time (database_sqlite.py:94-97)
        derived["naam"] = scalars.choose_name(
            F.col("lange_naam"),
            F.col("verkorte_naam"),
            cfg.use_short_street_names,
        )
    # an absent optional value is '' in the scan: NULL, not a failed cast
    for c in entity.int_fields:
        derived[c] = scalars.nullif_empty(F.col(c)).cast("int")
    for c in entity.double_fields:
        derived[c] = scalars.nullif_empty(F.col(c)).cast("double")
    return df.withColumns(derived).drop("__file__", "__ordinal__", "pos")


def read_bag_entity(
    spark: SparkSession,
    path: str,
    entity_name: str,
    cfg: EngineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Full S2 pipeline: plain local XML files at ``path`` → finalized
    entity DataFrame (see ``read_bag_entity_raw_native`` for the scan's
    contract)."""
    return finalize_entity(
        read_bag_entity_raw_native(spark, path, entity_name), entity_name, cfg
    )
