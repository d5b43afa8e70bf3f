"""End-to-end import job: minimal XML + CSV inputs → parquet tables →
adressen → validation. Exercises the full §3.1 assembly including the
gemeenten.csv header contract."""

from __future__ import annotations

import pytest

from bag_parser_spark.config import EngineConfig
from bag_parser_spark.plans.bag_job import import_bag, run_bag_validation
from bag_parser_spark.sources.gemeenten_csv import (
    InvalidGemeentenHeader,
    read_gemeenten_csv,
)

SNAPSHOT = "2026-01-01"

OBJ_NS = (
    ' xmlns:Objecten="www.kadaster.nl/schemas/lvbag/imbag/objecten/v20200601"'
    ' xmlns:Objecten-ref="www.kadaster.nl/schemas/lvbag/imbag/objecten-ref/v20200601"'
    ' xmlns:Historie="www.kadaster.nl/schemas/lvbag/imbag/historie/v20200601"'
    ' xmlns:nen5825="www.kadaster.nl/schemas/lvbag/imbag/nen5825/v20200601"'
    ' xmlns:gml="http://www.opengis.net/gml/3.2"'
)


def _doc(body: str) -> str:
    return f'<?xml version="1.0" encoding="UTF-8"?>\n<root{OBJ_NS}>{body}</root>'


def _hist(begin="2010-01-01") -> str:
    return f"<Historie:beginGeldigheid>{begin}</Historie:beginGeldigheid>"


def _write_inputs(root):
    (root / "9999WPL0001.xml").write_text(_doc(
        "<Objecten:Woonplaats>"
        "<Objecten:identificatie>1050</Objecten:identificatie>"
        "<Objecten:naam>Amstelveen</Objecten:naam>"
        "<Objecten:status>Woonplaats aangewezen</Objecten:status>" + _hist()
        + "</Objecten:Woonplaats>"
        "<Objecten:Woonplaats>"
        "<Objecten:identificatie>3594</Objecten:identificatie>"
        "<Objecten:naam>Amsterdam</Objecten:naam>"
        "<Objecten:status>Woonplaats aangewezen</Objecten:status>" + _hist()
        + "</Objecten:Woonplaats>"
    ), encoding="utf-8")

    gwr = (
        '<?xml version="1.0" encoding="UTF-8"?><root'
        ' xmlns:gwr="www.kadaster.nl/schemas/lvbag/gem-wpl-rel/gwr-producten-lvc/v20200601"'
        ' xmlns:bagtypes="www.kadaster.nl/schemas/lvbag/gem-wpl-rel/bag-types/v20200601">'
    )
    for gem, wpl in ((362, 1050), (363, 3594)):
        gwr += (
            "<gwr:GemeenteWoonplaatsRelatie>"
            "<bagtypes:begindatumTijdvakGeldigheid>2010-01-01"
            "</bagtypes:begindatumTijdvakGeldigheid>"
            f"<gwr:gerelateerdeWoonplaats><gwr:identificatie>{wpl}"
            "</gwr:identificatie></gwr:gerelateerdeWoonplaats>"
            f"<gwr:gerelateerdeGemeente><gwr:identificatie>{gem}"
            "</gwr:identificatie></gwr:gerelateerdeGemeente>"
            "<gwr:status>definitief</gwr:status>"
            "</gwr:GemeenteWoonplaatsRelatie>"
        )
    (root / "GEM-WPL-RELATIE0001.xml").write_text(gwr + "</root>",
                                                  encoding="utf-8")

    (root / "9999OPR0001.xml").write_text(_doc(
        "<Objecten:OpenbareRuimte>"
        "<Objecten:identificatie>OR1</Objecten:identificatie>"
        "<Objecten:naam>Dorpsstraat</Objecten:naam>"
        "<Objecten:type>Weg</Objecten:type>"
        "<Objecten:status>Naamgeving uitgegeven</Objecten:status>"
        "<Objecten-ref:WoonplaatsRef>1050</Objecten-ref:WoonplaatsRef>"
        + _hist() + "</Objecten:OpenbareRuimte>"
    ), encoding="utf-8")

    (root / "9999NUM0001.xml").write_text(_doc(
        "<Objecten:Nummeraanduiding>"
        "<Objecten:identificatie>NUM1</Objecten:identificatie>"
        "<Objecten:postcode>1181BN</Objecten:postcode>"
        "<Objecten:huisnummer>1</Objecten:huisnummer>"
        "<Objecten:status>Naamgeving uitgegeven</Objecten:status>"
        "<Objecten-ref:OpenbareRuimteRef>OR1</Objecten-ref:OpenbareRuimteRef>"
        + _hist() + "</Objecten:Nummeraanduiding>"
    ), encoding="utf-8")

    (root / "9999PND0001.xml").write_text(_doc(
        "<Objecten:Pand>"
        "<Objecten:identificatie>PAND1</Objecten:identificatie>"
        "<Objecten:oorspronkelijkBouwjaar>1931</Objecten:oorspronkelijkBouwjaar>"
        "<Objecten:status>Pand in gebruik</Objecten:status>" + _hist()
        + "</Objecten:Pand>"
    ), encoding="utf-8")

    (root / "9999VBO0001.xml").write_text(_doc(
        "<Objecten:Verblijfsobject>"
        "<Objecten:identificatie>VBO1</Objecten:identificatie>"
        "<Objecten:heeftAlsHoofdadres><Objecten-ref:NummeraanduidingRef>NUM1"
        "</Objecten-ref:NummeraanduidingRef></Objecten:heeftAlsHoofdadres>"
        "<gml:pos>155000.0 463000.0</gml:pos>"
        "<Objecten:gebruiksdoel>woonfunctie</Objecten:gebruiksdoel>"
        "<Objecten:oppervlakte>120</Objecten:oppervlakte>"
        "<Objecten-ref:PandRef>PAND1</Objecten-ref:PandRef>"
        "<Objecten:status>Verblijfsobject in gebruik</Objecten:status>"
        + _hist() + "</Objecten:Verblijfsobject>"
    ), encoding="utf-8")

    (root / "9999LIG0001.xml").write_text(_doc(""), encoding="utf-8")
    (root / "9999STA0001.xml").write_text(_doc(""), encoding="utf-8")

    (root / "gemeenten.csv").write_text(
        "Gemeentecode,GemeentecodeGM,Gemeentenaam,Provinciecode,"
        "ProvinciecodePV,Provincienaam\n"
        "362,GM0362,Amstelveen,27,PV27,Noord-Holland\n"
        "363,GM0363,Amsterdam,27,PV27,Noord-Holland\n",
        encoding="utf-8",
    )


@pytest.mark.slow
def test_import_bag_end_to_end(spark, tmp_path):
    _write_inputs(tmp_path)
    cfg = EngineConfig(active_only=True, snapshot_date=SNAPSHOT)
    tables = import_bag(
        spark, str(tmp_path), str(tmp_path / "gemeenten.csv"),
        out_dir=str(tmp_path / "out"), cfg=cfg,
    )
    a = tables["adressen"].collect()
    assert len(a) == 1
    r = a[0]
    assert r["nummer_id"] == "NUM1"
    assert r["pand_id"] == "PAND1"
    assert r["bouwjaar"] == 1931
    assert r["woonplaats_id"] == 1050
    assert r["gemeente_id"] == 362
    assert r["postcode"] == "1181BN"
    assert abs(r["latitude"] - 52.15517440) < 1e-9
    # validation battery runs (thresholds are production-scale → not all
    # pass on 1 row; just assert the report materializes all checks)
    report, _ = run_bag_validation(tables, cfg)
    assert report.count() >= 15


def test_import_bag_reads_tables_back_with_parquet_schema(spark, tmp_path):
    """import_bag reads each persisted table back with the schema it wrote
    instead of inferring it; every returned table must still carry the
    schema the parquet files themselves report."""
    _write_inputs(tmp_path)
    out = tmp_path / "out"
    tables = import_bag(
        spark, str(tmp_path), str(tmp_path / "gemeenten.csv"),
        out_dir=str(out),
        cfg=EngineConfig(active_only=True, snapshot_date=SNAPSHOT),
    )
    assert len(tables) == 11
    for name, df in tables.items():
        assert df.schema == spark.read.parquet(str(out / name)).schema, name


def test_csv_header_validation(spark, tmp_path):
    bad = tmp_path / "bad.csv"
    bad.write_text("foo,bar\n1,2\n", encoding="utf-8")
    with pytest.raises(InvalidGemeentenHeader):
        read_gemeenten_csv(spark, str(bad))


@pytest.mark.slow
def test_import_bag_from_raw_delivery_zip(spark, tmp_path):
    """Point import_bag at a directory holding ONLY the combined delivery
    zip (outer zip → per-entity zips → XML members, the reference's
    lvbag-extract-nl.zip layout): the extraction keeps each member's file
    code, so every entity reads only its own members."""
    import io
    import zipfile

    from bag_parser_spark.sources.bag_schemas import ENTITIES

    src = tmp_path / "loose"
    src.mkdir()
    _write_inputs(src)
    delivery = tmp_path / "delivery"
    delivery.mkdir()
    code_by_file = {
        "9999WPL0001.xml": "9999WPL",
        "GEM-WPL-RELATIE0001.xml": "GEM-WPL-RELATIE",
        "9999OPR0001.xml": "9999OPR",
        "9999NUM0001.xml": "9999NUM",
        "9999PND0001.xml": "9999PND",
        "9999VBO0001.xml": "9999VBO",
        "9999LIG0001.xml": "9999LIG",
        "9999STA0001.xml": "9999STA",
    }
    with zipfile.ZipFile(delivery / "lvbag-extract-nl.zip", "w") as outer:
        for fname, code in code_by_file.items():
            inner = io.BytesIO()
            with zipfile.ZipFile(inner, "w") as zf:
                zf.writestr(fname, (src / fname).read_text(encoding="utf-8"))
            outer.writestr(f"{code}08082025.zip", inner.getvalue())
    assert {e.file_code for e in ENTITIES.values()} == set(
        code_by_file.values()
    )

    cfg = EngineConfig(active_only=True, snapshot_date=SNAPSHOT)
    tables = import_bag(
        spark, str(delivery), str(src / "gemeenten.csv"),
        out_dir=str(tmp_path / "out"), cfg=cfg,
    )
    a = tables["adressen"].collect()
    assert len(a) == 1
    assert a[0]["nummer_id"] == "NUM1"
    assert a[0]["gemeente_id"] == 362
    # the file-code names kept entities apart: woonplaatsen has exactly
    # the two WPL records, none of the other entities' members leaked in
    assert tables["woonplaatsen"].count() == 2
