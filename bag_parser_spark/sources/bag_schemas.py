"""BAG entity schemas and XML tag configurations.

One declarative config per LVBAG entity — the single source of truth that
the reference spreads across XML-tag maps (reference bag/bag_parser.py:
193-385), SQLite DDL (reference database_sqlite/database_sqlite.py:164-272)
and data_init defaulting dicts. Namespaces and field names follow the
public Kadaster LVBAG 2.0 schema (www.kadaster.nl/schemas/lvbag/...).

Parse-stage columns (the values of ``fields`` and ``parent_fields``) are
all strings defaulting to '', as every entry of the reference's data_init
dicts does ("BAG leaves fields out of the data if it is empty" —
reference bag_parser.py:258); typing to int/double happens in the typed
projection, and ''→NULL in cleaning — making the SQLite ''-vs-NULL
nuance explicit instead of implicit.
"""

from __future__ import annotations

from dataclasses import dataclass

NS_OBJECTEN = "{www.kadaster.nl/schemas/lvbag/imbag/objecten/v20200601}"
NS_OBJECTEN_REF = "{www.kadaster.nl/schemas/lvbag/imbag/objecten-ref/v20200601}"
NS_HISTORIE = "{www.kadaster.nl/schemas/lvbag/imbag/historie/v20200601}"
NS_NEN5825 = "{www.kadaster.nl/schemas/lvbag/imbag/nen5825/v20200601}"
NS_GML = "{http://www.opengis.net/gml/3.2}"
NS_GWR = "{www.kadaster.nl/schemas/lvbag/gem-wpl-rel/gwr-producten-lvc/v20200601}"
NS_BAGTYPES = "{www.kadaster.nl/schemas/lvbag/gem-wpl-rel/bag-types/v20200601}"

_HISTORIE = {
    NS_HISTORIE + "beginGeldigheid": "begindatum_geldigheid",
    NS_HISTORIE + "eindGeldigheid": "einddatum_geldigheid",
}


@dataclass(frozen=True)
class EntityConfig:
    """Declarative parse config for one BAG entity (S2/S3/S4 semantics)."""

    tag: str                       # object element local name
    object_tag: str                # namespace-qualified object element
    file_code: str                 # zip member code, e.g. 9999WPL
    fields: dict[str, str]         # qualified child tag → column
    parent_fields: dict[str, str]  # (parent tag + child tag) → column (S3)
    status_active: str | None      # P4 status filter value (None = no filter)
    upsert_key: str | None         # REPLACE INTO key (S7); None = append-only
    has_geometry: bool = False
    has_3d_geometry: bool = False
    coordinates_field: str | None = None  # 'pos' | 'geometry' (P7/P8 source)
    int_fields: tuple[str, ...] = ()
    double_fields: tuple[str, ...] = ()


ENTITIES: dict[str, EntityConfig] = {
    "Woonplaats": EntityConfig(
        tag="Woonplaats",
        object_tag=NS_OBJECTEN + "Woonplaats",
        file_code="9999WPL",
        fields={
            NS_OBJECTEN + "identificatie": "id",
            NS_OBJECTEN + "naam": "naam",
            NS_OBJECTEN + "status": "status",
            NS_GML + "posList": "geometry",
            **_HISTORIE,
        },
        parent_fields={},
        status_active="Woonplaats aangewezen",
        upsert_key="id",
        has_geometry=True,
        int_fields=("id",),
    ),
    "GemeenteWoonplaatsRelatie": EntityConfig(
        tag="GemeenteWoonplaatsRelatie",
        object_tag=NS_GWR + "GemeenteWoonplaatsRelatie",
        file_code="GEM-WPL-RELATIE",
        fields={
            NS_BAGTYPES + "begindatumTijdvakGeldigheid": "begindatum_geldigheid",
            NS_BAGTYPES + "einddatumTijdvakGeldigheid": "einddatum_geldigheid",
            NS_GWR + "status": "status",
        },
        # same child tag 'identificatie' means woonplaats or gemeente
        # depending on the parent element (reference bag_parser.py:223-228)
        parent_fields={
            NS_GWR + "gerelateerdeWoonplaats" + NS_GWR + "identificatie": "woonplaats_id",
            NS_GWR + "gerelateerdeGemeente" + NS_GWR + "identificatie": "gemeente_id",
        },
        status_active=None,
        upsert_key=None,
        int_fields=("woonplaats_id", "gemeente_id"),
    ),
    "OpenbareRuimte": EntityConfig(
        tag="OpenbareRuimte",
        object_tag=NS_OBJECTEN + "OpenbareRuimte",
        file_code="9999OPR",
        fields={
            NS_OBJECTEN + "identificatie": "id",
            NS_OBJECTEN + "naam": "lange_naam",
            NS_NEN5825 + "verkorteNaam": "verkorte_naam",
            NS_OBJECTEN + "type": "type",
            NS_OBJECTEN + "status": "status",
            NS_OBJECTEN_REF + "WoonplaatsRef": "woonplaats_id",
            **_HISTORIE,
        },
        parent_fields={},
        status_active="Naamgeving uitgegeven",
        upsert_key="id",
        int_fields=("woonplaats_id",),
    ),
    "Nummeraanduiding": EntityConfig(
        tag="Nummeraanduiding",
        object_tag=NS_OBJECTEN + "Nummeraanduiding",
        file_code="9999NUM",
        fields={
            NS_OBJECTEN + "identificatie": "id",
            NS_OBJECTEN + "postcode": "postcode",
            NS_OBJECTEN + "huisnummer": "huisnummer",
            NS_OBJECTEN + "huisletter": "huisletter",
            NS_OBJECTEN + "huisnummertoevoeging": "toevoeging",
            NS_OBJECTEN + "status": "status",
            NS_OBJECTEN_REF + "OpenbareRuimteRef": "openbare_ruimte_id",
            NS_OBJECTEN_REF + "WoonplaatsRef": "woonplaats_id",
            **_HISTORIE,
        },
        parent_fields={},
        status_active="Naamgeving uitgegeven",
        upsert_key="id",
        int_fields=("huisnummer",),
    ),
    "Pand": EntityConfig(
        tag="Pand",
        object_tag=NS_OBJECTEN + "Pand",
        file_code="9999PND",
        fields={
            NS_OBJECTEN + "identificatie": "id",
            NS_OBJECTEN + "oorspronkelijkBouwjaar": "bouwjaar",
            NS_OBJECTEN + "status": "status",
            NS_GML + "posList": "geometry",
            **_HISTORIE,
        },
        parent_fields={},
        status_active=None,  # Pand has no status filter (bag_parser.py:57-59)
        upsert_key="id",
        has_geometry=True,
        has_3d_geometry=True,
        int_fields=("bouwjaar",),
    ),
    "Verblijfsobject": EntityConfig(
        tag="Verblijfsobject",
        object_tag=NS_OBJECTEN + "Verblijfsobject",
        file_code="9999VBO",
        fields={
            NS_OBJECTEN + "identificatie": "id",
            NS_OBJECTEN + "oppervlakte": "oppervlakte",
            NS_OBJECTEN + "gebruiksdoel": "gebruiksdoel",
            NS_GML + "pos": "pos",
            NS_OBJECTEN + "status": "status",
            NS_OBJECTEN_REF + "PandRef": "pand_id",
            **_HISTORIE,
        },
        # same child NummeraanduidingRef is hoofdadres or nevenadres by
        # parent (reference bag_parser.py:323-328)
        parent_fields={
            NS_OBJECTEN + "heeftAlsHoofdadres" + NS_OBJECTEN_REF + "NummeraanduidingRef": "nummer_id",
            NS_OBJECTEN + "heeftAlsNevenadres" + NS_OBJECTEN_REF + "NummeraanduidingRef": "nevenadressen",
        },
        status_active=None,
        upsert_key="id",
        has_geometry=False,
        coordinates_field="pos",
        double_fields=("oppervlakte",),
    ),
    "Ligplaats": EntityConfig(
        tag="Ligplaats",
        object_tag=NS_OBJECTEN + "Ligplaats",
        file_code="9999LIG",
        fields={
            NS_OBJECTEN + "identificatie": "id",
            NS_GML + "posList": "geometry",
            NS_OBJECTEN + "status": "status",
            **_HISTORIE,
        },
        parent_fields={
            NS_OBJECTEN + "heeftAlsHoofdadres" + NS_OBJECTEN_REF + "NummeraanduidingRef": "nummer_id",
        },
        status_active=None,
        upsert_key="id",
        has_geometry=True,
        coordinates_field="geometry",
    ),
    "Standplaats": EntityConfig(
        tag="Standplaats",
        object_tag=NS_OBJECTEN + "Standplaats",
        file_code="9999STA",
        fields={
            NS_OBJECTEN + "identificatie": "id",
            NS_GML + "posList": "geometry",
            NS_OBJECTEN + "status": "status",
            **_HISTORIE,
        },
        parent_fields={
            NS_OBJECTEN + "heeftAlsHoofdadres" + NS_OBJECTEN_REF + "NummeraanduidingRef": "nummer_id",
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
