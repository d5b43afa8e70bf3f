"""BAG entity schemas and XML tag configurations.

One declarative config per LVBAG entity — the single source of truth that
the reference spreads across XML-tag maps (reference bag/bag_parser.py:
193-385), SQLite DDL (reference database_sqlite/database_sqlite.py:164-272)
and data_init defaulting dicts. Namespaces and field names follow the
public Kadaster LVBAG 2.0 schema (www.kadaster.nl/schemas/lvbag/...).

Each column is declared once, as the tag paths below the object element
that carry its value, written with the LVBAG prefixes the way the XML
scan matches them ("Objecten:heeftAlsHoofdadres/Objecten-ref:
NummeraanduidingRef"). A wrapper element in the path replaces the
reference's parent-tag tracking (S3): the same child tag under two
parents is two paths. A column with several paths reads the values of
each in declaration order, flat layouts first.

Parse-stage columns are all strings defaulting to '', as every entry of
the reference's data_init dicts does ("BAG leaves fields out of the data
if it is empty" — reference bag_parser.py:258); typing to int/double
happens in the typed projection, and ''→NULL in cleaning — making the
SQLite ''-vs-NULL nuance explicit instead of implicit.
"""

from __future__ import annotations

from dataclasses import dataclass

# LVBAG prefix → namespace URI, as Kadaster deliveries bind them. The XML
# scan is not namespace-aware and matches these prefixes as written.
NAMESPACES = {
    "Objecten": "www.kadaster.nl/schemas/lvbag/imbag/objecten/v20200601",
    "Objecten-ref": "www.kadaster.nl/schemas/lvbag/imbag/objecten-ref/v20200601",
    "Historie": "www.kadaster.nl/schemas/lvbag/imbag/historie/v20200601",
    "nen5825": "www.kadaster.nl/schemas/lvbag/imbag/nen5825/v20200601",
    "gml": "http://www.opengis.net/gml/3.2",
    "gwr": "www.kadaster.nl/schemas/lvbag/gem-wpl-rel/gwr-producten-lvc/v20200601",
    "bagtypes": "www.kadaster.nl/schemas/lvbag/gem-wpl-rel/bag-types/v20200601",
}

# validity dates: directly under the object, or under the delivery's
# voorkomen/Voorkomen wrapper
_VOORKOMEN = "Objecten:voorkomen/Historie:Voorkomen/"
_HISTORIE = {
    "begindatum_geldigheid": (
        "Historie:beginGeldigheid", _VOORKOMEN + "Historie:beginGeldigheid"
    ),
    "einddatum_geldigheid": (
        "Historie:eindGeldigheid", _VOORKOMEN + "Historie:eindGeldigheid"
    ),
}
# polygon rings, exterior before interior (GML ring order)
_POLYGON = "Objecten:geometrie/gml:Polygon/"
_POS_LIST = (
    "gml:posList",
    _POLYGON + "gml:exterior/gml:LinearRing/gml:posList",
    _POLYGON + "gml:interior/gml:LinearRing/gml:posList",
)
_HOOFDADRES = (
    "Objecten:heeftAlsHoofdadres/Objecten-ref:NummeraanduidingRef",
)


@dataclass(frozen=True)
class EntityConfig:
    """Declarative parse config for one BAG entity (S2/S3/S4 semantics)."""

    tag: str                       # object element as written
    file_code: str                 # zip member code, e.g. 9999WPL
    columns: dict[str, tuple[str, ...]]  # column → tag paths (S2/S3)
    status_active: str | None      # P4 status filter value (None = no filter)
    upsert_key: str | None         # REPLACE INTO key (S7); None = append-only
    has_geometry: bool = False
    has_3d_geometry: bool = False
    coordinates_field: str | None = None  # 'pos' | 'geometry' (P7/P8 source)
    int_fields: tuple[str, ...] = ()
    double_fields: tuple[str, ...] = ()


ENTITIES: dict[str, EntityConfig] = {
    "Woonplaats": EntityConfig(
        tag="Objecten:Woonplaats",
        file_code="9999WPL",
        columns={
            "id": ("Objecten:identificatie",),
            "naam": ("Objecten:naam",),
            "status": ("Objecten:status",),
            "geometry": ("gml:posList",),
            **_HISTORIE,
        },
        status_active="Woonplaats aangewezen",
        upsert_key="id",
        has_geometry=True,
        int_fields=("id",),
    ),
    "GemeenteWoonplaatsRelatie": EntityConfig(
        tag="gwr:GemeenteWoonplaatsRelatie",
        file_code="GEM-WPL-RELATIE",
        columns={
            "begindatum_geldigheid": ("bagtypes:begindatumTijdvakGeldigheid",),
            "einddatum_geldigheid": ("bagtypes:einddatumTijdvakGeldigheid",),
            "status": ("gwr:status",),
            # same child tag 'identificatie' means woonplaats or gemeente
            # depending on the parent element (reference bag_parser.py:223-228)
            "woonplaats_id": ("gwr:gerelateerdeWoonplaats/gwr:identificatie",),
            "gemeente_id": ("gwr:gerelateerdeGemeente/gwr:identificatie",),
        },
        status_active=None,
        upsert_key=None,
        int_fields=("woonplaats_id", "gemeente_id"),
    ),
    "OpenbareRuimte": EntityConfig(
        tag="Objecten:OpenbareRuimte",
        file_code="9999OPR",
        columns={
            "id": ("Objecten:identificatie",),
            "lange_naam": ("Objecten:naam",),
            "verkorte_naam": ("nen5825:verkorteNaam",),
            "type": ("Objecten:type",),
            "status": ("Objecten:status",),
            "woonplaats_id": ("Objecten-ref:WoonplaatsRef",),
            **_HISTORIE,
        },
        status_active="Naamgeving uitgegeven",
        upsert_key="id",
        int_fields=("woonplaats_id",),
    ),
    "Nummeraanduiding": EntityConfig(
        tag="Objecten:Nummeraanduiding",
        file_code="9999NUM",
        columns={
            "id": ("Objecten:identificatie",),
            "postcode": ("Objecten:postcode",),
            "huisnummer": ("Objecten:huisnummer",),
            "huisletter": ("Objecten:huisletter",),
            "toevoeging": ("Objecten:huisnummertoevoeging",),
            "status": ("Objecten:status",),
            "openbare_ruimte_id": ("Objecten-ref:OpenbareRuimteRef",),
            "woonplaats_id": ("Objecten-ref:WoonplaatsRef",),
            **_HISTORIE,
        },
        status_active="Naamgeving uitgegeven",
        upsert_key="id",
        int_fields=("huisnummer",),
    ),
    "Pand": EntityConfig(
        tag="Objecten:Pand",
        file_code="9999PND",
        columns={
            "id": ("Objecten:identificatie",),
            "bouwjaar": ("Objecten:oorspronkelijkBouwjaar",),
            "status": ("Objecten:status",),
            "geometry": _POS_LIST,
            **_HISTORIE,
        },
        status_active=None,  # Pand has no status filter (bag_parser.py:57-59)
        upsert_key="id",
        has_geometry=True,
        has_3d_geometry=True,
        int_fields=("bouwjaar",),
    ),
    "Verblijfsobject": EntityConfig(
        tag="Objecten:Verblijfsobject",
        file_code="9999VBO",
        columns={
            "id": ("Objecten:identificatie",),
            "oppervlakte": ("Objecten:oppervlakte",),
            "gebruiksdoel": ("Objecten:gebruiksdoel",),
            "pos": ("gml:pos", "Objecten:geometrie/gml:Point/gml:pos"),
            "status": ("Objecten:status",),
            "pand_id": (
                "Objecten-ref:PandRef",
                "Objecten:maaktDeelUitVan/Objecten-ref:PandRef",
            ),
            # same child NummeraanduidingRef is hoofdadres or nevenadres
            # by parent (reference bag_parser.py:323-328)
            "nummer_id": _HOOFDADRES,
            "nevenadressen": (
                "Objecten:heeftAlsNevenadres/Objecten-ref:NummeraanduidingRef",
            ),
            **_HISTORIE,
        },
        status_active=None,
        upsert_key="id",
        has_geometry=False,
        coordinates_field="pos",
        double_fields=("oppervlakte",),
    ),
    "Ligplaats": EntityConfig(
        tag="Objecten:Ligplaats",
        file_code="9999LIG",
        columns={
            "id": ("Objecten:identificatie",),
            "geometry": _POS_LIST,
            "status": ("Objecten:status",),
            "nummer_id": _HOOFDADRES,
            **_HISTORIE,
        },
        status_active=None,
        upsert_key="id",
        has_geometry=True,
        coordinates_field="geometry",
    ),
    "Standplaats": EntityConfig(
        tag="Objecten:Standplaats",
        file_code="9999STA",
        columns={
            "id": ("Objecten:identificatie",),
            "geometry": _POS_LIST,
            "status": ("Objecten:status",),
            "nummer_id": _HOOFDADRES,
            **_HISTORIE,
        },
        status_active=None,
        upsert_key="id",
        has_geometry=True,
        coordinates_field="geometry",
    ),
}

# gemeenten.csv contract (reference gemeente_parser.py:26-32,
# input/gemeenten.csv:1)
GEMEENTEN_CSV_HEADER = [
    "Gemeentecode",
    "GemeentecodeGM",
    "Gemeentenaam",
    "Provinciecode",
    "ProvinciecodePV",
    "Provincienaam",
]
