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
from bag_parser_spark.sources.bag_schemas import ENTITIES, NAMESPACES
from bag_parser_spark.sources.bag_xml import _raw_schema, finalize_entity

# The reference's own tag map (reference bag_parser.py:193-385), kept
# apart from the scan's tag paths so that a wrong path there shows up as a
# parity difference: a leaf tag → column, matched at any depth, and
# "parent/child" only where two parents share a child tag (S3).
_HISTORIE = {
    "Historie:beginGeldigheid": "begindatum_geldigheid",
    "Historie:eindGeldigheid": "einddatum_geldigheid",
}
_HOOFDADRES = {
    "Objecten:heeftAlsHoofdadres/Objecten-ref:NummeraanduidingRef":
        "nummer_id",
}
REFERENCE_TAGS = {
    "Woonplaats": {
        "Objecten:identificatie": "id",
        "Objecten:naam": "naam",
        "Objecten:status": "status",
        "gml:posList": "geometry",
        **_HISTORIE,
    },
    "GemeenteWoonplaatsRelatie": {
        "bagtypes:begindatumTijdvakGeldigheid": "begindatum_geldigheid",
        "bagtypes:einddatumTijdvakGeldigheid": "einddatum_geldigheid",
        "gwr:status": "status",
        "gwr:gerelateerdeWoonplaats/gwr:identificatie": "woonplaats_id",
        "gwr:gerelateerdeGemeente/gwr:identificatie": "gemeente_id",
    },
    "OpenbareRuimte": {
        "Objecten:identificatie": "id",
        "Objecten:naam": "lange_naam",
        "nen5825:verkorteNaam": "verkorte_naam",
        "Objecten:type": "type",
        "Objecten:status": "status",
        "Objecten-ref:WoonplaatsRef": "woonplaats_id",
        **_HISTORIE,
    },
    "Nummeraanduiding": {
        "Objecten:identificatie": "id",
        "Objecten:postcode": "postcode",
        "Objecten:huisnummer": "huisnummer",
        "Objecten:huisletter": "huisletter",
        "Objecten:huisnummertoevoeging": "toevoeging",
        "Objecten:status": "status",
        "Objecten-ref:OpenbareRuimteRef": "openbare_ruimte_id",
        "Objecten-ref:WoonplaatsRef": "woonplaats_id",
        **_HISTORIE,
    },
    "Pand": {
        "Objecten:identificatie": "id",
        "Objecten:oorspronkelijkBouwjaar": "bouwjaar",
        "Objecten:status": "status",
        "gml:posList": "geometry",
        **_HISTORIE,
    },
    "Verblijfsobject": {
        "Objecten:identificatie": "id",
        "Objecten:oppervlakte": "oppervlakte",
        "Objecten:gebruiksdoel": "gebruiksdoel",
        "gml:pos": "pos",
        "Objecten:status": "status",
        "Objecten-ref:PandRef": "pand_id",
        **_HOOFDADRES,
        "Objecten:heeftAlsNevenadres/Objecten-ref:NummeraanduidingRef":
            "nevenadressen",
        **_HISTORIE,
    },
    "Ligplaats": {
        "Objecten:identificatie": "id",
        "gml:posList": "geometry",
        "Objecten:status": "status",
        **_HOOFDADRES,
        **_HISTORIE,
    },
}
REFERENCE_TAGS["Standplaats"] = REFERENCE_TAGS["Ligplaats"]


def _qualified(tag: str) -> str:
    """'prefix:local' → ElementTree's '{uri}local'."""
    prefix, local = tag.split(":")
    return f"{{{NAMESPACES[prefix]}}}{local}"


def parse_xml_records(payload: bytes, entity_name: str) -> Iterator[dict]:
    """Stream one XML document's object elements as flat dicts.

    Implements the reference's accumulation semantics (bag_parser.py:73-103):
    defaults injected for absent tags (P2), parent-qualified tags resolved
    first (S3 — the same child tag means different columns under different
    parents), repeated tags comma-joined (S4), geometry chunks
    bracket-wrapped at parse time (P9).
    """
    entity = ENTITIES[entity_name]
    tags = {
        "".join(map(_qualified, key.split("/"))): column
        for key, column in REFERENCE_TAGS[entity_name].items()
    }
    object_tag = _qualified(entity.tag)
    record = dict.fromkeys(entity.columns, "")
    stack: list[str] = []
    for event, elem in ElementTree.iterparse(io.BytesIO(payload), ("start", "end")):
        if event == "start":
            stack.append(elem.tag)
            continue
        stack.pop()
        if elem.tag == object_tag:
            yield record
            record = dict.fromkeys(entity.columns, "")
            elem.clear()
            continue
        column = tags.get(stack[-1] + elem.tag) if stack else None
        if column is None:
            column = tags.get(elem.tag)
        if column is None:
            continue
        value = elem.text or ""
        if column == "geometry" and entity.has_geometry:
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
        for ordinal, rec in enumerate(parse_xml_records(payload, entity_name)):
            rec.update(__file__=fpath, __ordinal__=ordinal)
            rows.append(tuple(rec.get(c) for c in names))
    raw = spark.createDataFrame(rows, schema)
    return finalize_entity(raw, entity_name, cfg)
