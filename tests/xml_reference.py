"""Namespace-aware ElementTree reference for the BAG XML scan.

Spark's XML source matches qualified names as written; this reader
resolves real namespaces and keys on each element's tag, the way the
reference's iterparse loop does (reference bag_parser.py:73-103). The
parity tests in ``test_bag_xml.py`` compare the scan against it.
"""

from __future__ import annotations

import glob
import io
import os
from collections.abc import Iterator
from xml.etree import ElementTree

from bag_parser_spark.config import DEFAULT_CONFIG, EngineConfig
from bag_parser_spark.sources.bag_schemas import ENTITIES, EntityConfig
from bag_parser_spark.sources.bag_xml import _raw_schema, finalize_entity


def parse_xml_records(
    payload: bytes, entity: EntityConfig, geometry_field: str = "geometry"
) -> Iterator[dict]:
    """Stream one XML document's object elements as flat dicts.

    Implements the reference's accumulation semantics (bag_parser.py:73-103):
    defaults injected for absent tags (P2), parent-qualified tags resolved
    first (S3 — the same child tag means different columns under different
    parents), repeated tags comma-joined (S4), geometry chunks
    bracket-wrapped at parse time (P9).
    """
    columns = set(entity.fields.values()) | set(entity.parent_fields.values())
    record = dict.fromkeys(columns, "")
    stack: list[str] = []
    for event, elem in ElementTree.iterparse(io.BytesIO(payload), ("start", "end")):
        if event == "start":
            stack.append(elem.tag)
            continue
        stack.pop()
        if elem.tag == entity.object_tag:
            yield record
            record = dict.fromkeys(columns, "")
            elem.clear()
            continue
        column = None
        if stack and entity.parent_fields:
            column = entity.parent_fields.get(stack[-1] + elem.tag)
        if column is None:
            column = entity.fields.get(elem.tag)
        if column is None:
            continue
        value = elem.text or ""
        if column == geometry_field and entity.has_geometry:
            value = f"[{value}]"
        prior = record.get(column)
        record[column] = f"{prior},{value}" if prior else value


def read_reference_entity(
    spark,
    path: str,
    entity_name: str,
    cfg: EngineConfig = DEFAULT_CONFIG,
):
    """The plain ``.xml`` files at ``path`` (a directory or a glob) parsed
    by ``parse_xml_records`` on the driver, with a per-file ordinal, then
    finalized exactly as the scan's output is."""
    entity = ENTITIES[entity_name]
    schema = _raw_schema(entity)
    names = schema.fieldNames()
    files = glob.glob(os.path.join(path, "*") if os.path.isdir(path) else path)
    rows = []
    for fpath in sorted(p for p in files if p.lower().endswith(".xml")):
        with open(fpath, "rb") as f:
            payload = f.read()
        for ordinal, rec in enumerate(parse_xml_records(payload, entity)):
            rec.update(__file__=fpath, __ordinal__=ordinal)
            rows.append(tuple(rec.get(c) for c in names))
    raw = spark.createDataFrame(rows, schema)
    return finalize_entity(raw, entity_name, cfg)
