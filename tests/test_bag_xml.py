"""XML source layer tests (SURVEY §2.1 S1-S4, §2.2 P2-P5): namespace-
qualified LVBAG fixture files exercising default injection, parent-tag
disambiguation, repeated-element comma-join, duplicate-id last-write-wins,
active filtering, zip extraction, and coordinate derivation. Parity
tests compare the JVM XML scan against the namespace-aware ElementTree
reference in ``tests/xml_reference.py``."""

from __future__ import annotations

import os
import zipfile

import pytest
from pyspark.sql import functions as F

from bag_parser_spark.config import EngineConfig
from bag_parser_spark.sources.bag_xml import (
    extract_bag_delivery,
    read_bag_entity,
    read_bag_entity_raw_native,
)
from tests.xml_reference import read_reference_entity

SNAPSHOT = "2026-01-01"
CFG = EngineConfig(active_only=True, snapshot_date=SNAPSHOT)

WPL_HEAD = (
    '<?xml version="1.0" encoding="UTF-8"?>\n'
    '<sl:standBestand xmlns:sl="http://www.kadaster.nl/schemas/standlevering-generiek/1.0.0"'
    ' xmlns:Objecten="www.kadaster.nl/schemas/lvbag/imbag/objecten/v20200601"'
    ' xmlns:Historie="www.kadaster.nl/schemas/lvbag/imbag/historie/v20200601"'
    ' xmlns:gml="http://www.opengis.net/gml/3.2">'
)


def _wpl(id_, naam, status="Woonplaats aangewezen", begin="2010-01-01",
         eind="", extra=""):
    eind_xml = f"<Historie:eindGeldigheid>{eind}</Historie:eindGeldigheid>" if eind else ""
    naam_xml = f"<Objecten:naam>{naam}</Objecten:naam>" if naam is not None else ""
    return (
        "<sl:stand><Objecten:Woonplaats>"
        f"<Objecten:identificatie>{id_}</Objecten:identificatie>"
        f"{naam_xml}"
        f"<Objecten:status>{status}</Objecten:status>"
        f"<Historie:beginGeldigheid>{begin}</Historie:beginGeldigheid>"
        f"{eind_xml}{extra}"
        "</Objecten:Woonplaats></sl:stand>"
    )


def test_woonplaats_parse_defaults_filter_upsert(spark, tmp_path):
    d = tmp_path / "wpl"
    d.mkdir()
    # file 1: active, inactive-status, future-begin, expired, absent naam
    (d / "a_0001.xml").write_text(
        WPL_HEAD
        + _wpl(1000, "Aadorp")
        + _wpl(1001, "Weggedorp", status="Woonplaats ingetrokken")
        + _wpl(1002, "Toekomstdorp", begin="2030-01-01")
        + _wpl(1003, "Verlopen", eind="2020-01-01")
        + _wpl(1004, None)  # absent naam → '' default (P2)
        + _wpl(1005, "Nogactief", eind="2030-01-01")  # future eind → active
        + "</sl:standBestand>",
        encoding="utf-8",
    )
    # file 2: duplicate id 1000 — later file wins (S7/W1)
    (d / "b_0002.xml").write_text(
        WPL_HEAD + _wpl(1000, "Aadorp-v2") + "</sl:standBestand>",
        encoding="utf-8",
    )
    df = read_bag_entity(spark, str(d), "Woonplaats", CFG)
    rows = {r["id"]: r for r in df.collect()}
    assert set(rows) == {1000, 1004, 1005}
    assert rows[1000]["naam"] == "Aadorp-v2"  # last write (file order) wins
    assert rows[1004]["naam"] == ""  # default injected
    assert rows[1000]["geometry"] == ""  # P10 blanked (parse_geometries off)


def test_gwr_parent_tag_disambiguation(spark, tmp_path):
    d = tmp_path / "gwr"
    d.mkdir()
    head = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<gwr:product xmlns:gwr="www.kadaster.nl/schemas/lvbag/gem-wpl-rel/'
        'gwr-producten-lvc/v20200601" xmlns:bagtypes="www.kadaster.nl/'
        'schemas/lvbag/gem-wpl-rel/bag-types/v20200601">'
    )
    # identificatie appears under BOTH parents — must land in different
    # columns (S3, reference bag_parser.py:223-228)
    (d / "gwr.xml").write_text(
        head
        + "<gwr:GemeenteWoonplaatsRelatie>"
        "<bagtypes:begindatumTijdvakGeldigheid>2010-01-01"
        "</bagtypes:begindatumTijdvakGeldigheid>"
        "<gwr:gerelateerdeWoonplaats><gwr:identificatie>1050"
        "</gwr:identificatie></gwr:gerelateerdeWoonplaats>"
        "<gwr:gerelateerdeGemeente><gwr:identificatie>362"
        "</gwr:identificatie></gwr:gerelateerdeGemeente>"
        "<gwr:status>definitief</gwr:status>"
        "</gwr:GemeenteWoonplaatsRelatie></gwr:product>",
        encoding="utf-8",
    )
    df = read_bag_entity(spark, str(d), "GemeenteWoonplaatsRelatie", CFG)
    r = df.collect()[0]
    assert r["woonplaats_id"] == 1050
    assert r["gemeente_id"] == 362


VBO_HEAD = (
    '<?xml version="1.0" encoding="UTF-8"?>\n'
    '<sl:standBestand xmlns:sl="http://www.kadaster.nl/schemas/standlevering-generiek/1.0.0"'
    ' xmlns:Objecten="www.kadaster.nl/schemas/lvbag/imbag/objecten/v20200601"'
    ' xmlns:Objecten-ref="www.kadaster.nl/schemas/lvbag/imbag/objecten-ref/v20200601"'
    ' xmlns:Historie="www.kadaster.nl/schemas/lvbag/imbag/historie/v20200601"'
    ' xmlns:gml="http://www.opengis.net/gml/3.2">'
)


def _vbo_xml() -> str:
    return (
        VBO_HEAD
        + "<sl:stand><Objecten:Verblijfsobject>"
        "<Objecten:identificatie>VBO1</Objecten:identificatie>"
        "<Objecten:heeftAlsHoofdadres><Objecten-ref:NummeraanduidingRef>NUM1"
        "</Objecten-ref:NummeraanduidingRef></Objecten:heeftAlsHoofdadres>"
        "<Objecten:heeftAlsNevenadres><Objecten-ref:NummeraanduidingRef>NUM2"
        "</Objecten-ref:NummeraanduidingRef></Objecten:heeftAlsNevenadres>"
        "<Objecten:heeftAlsNevenadres><Objecten-ref:NummeraanduidingRef>NUM3"
        "</Objecten-ref:NummeraanduidingRef></Objecten:heeftAlsNevenadres>"
        "<gml:pos>155000.0 463000.0 0.0</gml:pos>"
        "<Objecten:gebruiksdoel>woonfunctie</Objecten:gebruiksdoel>"
        "<Objecten:gebruiksdoel>kantoorfunctie</Objecten:gebruiksdoel>"
        "<Objecten:oppervlakte>120</Objecten:oppervlakte>"
        "<Objecten:maaktDeelUitVan><Objecten-ref:PandRef>PAND1"
        "</Objecten-ref:PandRef><Objecten-ref:PandRef>PAND2"
        "</Objecten-ref:PandRef></Objecten:maaktDeelUitVan>"
        "<Objecten:status>Verblijfsobject in gebruik</Objecten:status>"
        "<Historie:beginGeldigheid>2012-01-01</Historie:beginGeldigheid>"
        "</Objecten:Verblijfsobject></sl:stand></sl:standBestand>"
    )


def test_vbo_multivalue_parent_refs_and_coords(spark, tmp_path):
    d = tmp_path / "vbo"
    d.mkdir()
    (d / "vbo.xml").write_text(_vbo_xml(), encoding="utf-8")
    df = read_bag_entity(spark, str(d), "Verblijfsobject", CFG)
    r = df.collect()[0]
    # S3: hoofdadres vs nevenadres ref, same child tag
    assert r["nummer_id"] == "NUM1"
    assert r["nevenadressen"] == "NUM2,NUM3"  # S4 comma-join
    assert r["gebruiksdoel"] == "woonfunctie,kantoorfunctie"
    assert r["pand_id"] == "PAND1,PAND2"
    assert r["oppervlakte"] == 120.0
    # P8 + F6: pos → rd → exact WGS84 at the Amersfoort base point
    assert r["rd_x"] == 155000.0 and r["rd_y"] == 463000.0
    assert abs(r["latitude"] - 52.15517440) < 1e-9
    assert abs(r["longitude"] - 5.38720621) < 1e-9


def test_zip_ingestion(spark, tmp_path):
    # S1: per-entity zip of XML files, extracted, then the same dataflow
    d = tmp_path / "zipped"
    d.mkdir()
    with zipfile.ZipFile(d / "9999WPL.zip", "w") as zf:
        zf.writestr("w1.xml", WPL_HEAD + _wpl(2000, "Zipdorp")
                    + "</sl:standBestand>")
        zf.writestr("w2.xml", WPL_HEAD + _wpl(2001, "Zipstad")
                    + "</sl:standBestand>")
    flat = extract_bag_delivery(str(d), str(tmp_path / "flat"))
    df = read_bag_entity(spark, flat, "Woonplaats", CFG)
    assert {r["naam"] for r in df.collect()} == {"Zipdorp", "Zipstad"}


def test_geometry_parsing_enabled(spark, tmp_path):
    cfg = EngineConfig(active_only=True, parse_geometries=True,
                       snapshot_date=SNAPSHOT)
    d = tmp_path / "wplg"
    d.mkdir()
    ring = "155000.0 463000.0 156000.0 463000.0 156000.0 464000.0"
    (d / "w.xml").write_text(
        WPL_HEAD
        + _wpl(3000, "Geodorp",
               extra=f"<gml:posList>{ring}</gml:posList>")
        + "</sl:standBestand>",
        encoding="utf-8",
    )
    df = read_bag_entity(spark, str(d), "Woonplaats", cfg)
    import json

    rings = json.loads(df.collect()[0]["geometry"])
    assert len(rings) == 1 and len(rings[0]) == 3
    lon, lat = rings[0][0]
    assert abs(lat - 52.15517440) < 1e-9 and abs(lon - 5.38720621) < 1e-9


def _wpl_doc(*records: str) -> str:
    return WPL_HEAD + "".join(records) + "</sl:standBestand>"


def _delivery_zip(tmp_path, n_files: int = 50):
    """The reference's real two-level delivery layout (reference
    bag_parser.py:401-407, import_bag.py:31-37): one outer
    lvbag-extract-nl.zip holding a per-entity zip, which holds ``n_files``
    numbered XML files. Ids 5000 (members 10 and 40) and 5001 (members 20
    and 21) are duplicated across member files to pin down last-write-wins
    over the member sort order."""
    import io

    inner = io.BytesIO()
    with zipfile.ZipFile(inner, "w") as zf:
        for f in range(n_files):
            recs = [
                _wpl(20000 + f * 10 + k, f"Plaats-{f:03d}-{k}")
                for k in range(3)
            ]
            if f in (10, 40):
                recs.append(_wpl(5000, f"Dup-uit-file-{f:03d}"))
            if f in (20, 21):
                recs.append(_wpl(5001, f"Dup2-uit-file-{f:03d}"))
            zf.writestr(f"9999WPL-{f:06d}.xml", _wpl_doc(*recs))
    d = tmp_path / "delivery"
    d.mkdir()
    with zipfile.ZipFile(d / "lvbag-extract-nl.zip", "w") as outer:
        outer.writestr("9999WPL08082025.zip", inner.getvalue())
    return d, n_files


def test_two_level_zip_fifty_files_last_write_wins(spark, tmp_path):
    d, n_files = _delivery_zip(tmp_path)
    flat = extract_bag_delivery(str(d), str(tmp_path / "flat"))
    df = read_bag_entity(spark, flat, "Woonplaats", CFG)
    rows = {r["id"]: r["naam"] for r in df.collect()}
    assert len(rows) == n_files * 3 + 2
    # the later member file wins — the reference's numbered-file order
    assert rows[5000] == "Dup-uit-file-040"
    assert rows[5001] == "Dup2-uit-file-021"
    assert rows[20000] == "Plaats-000-0" and rows[20492] == "Plaats-049-2"


def test_multi_file_scan_spreads_across_tasks(spark, tmp_path):
    """50 standalone XML files: the scan must run distributed (multiple
    non-empty partitions), with every file accounted for."""
    d = tmp_path / "many"
    d.mkdir()
    for f in range(50):
        (d / f"9999WPL{f:04d}.xml").write_text(
            _wpl_doc(_wpl(30000 + f, f"P{f}")), encoding="utf-8"
        )
    raw = read_bag_entity_raw_native(spark, str(d), "Woonplaats")
    per_part = (
        raw.select(F.spark_partition_id().alias("pid"))
        .groupBy("pid")
        .count()
        .collect()
    )
    assert sum(r["count"] for r in per_part) == 50
    assert len(per_part) > 1  # parse work is spread, not single-task
    assert raw.select("__file__").distinct().count() == 50


def test_zip_last_write_wins_stable_under_parallelism(spark, tmp_path):
    """Same delivery parsed under different shuffle widths must elect the
    same winners — arrival order is (file, ordinal), never task order."""
    d, _ = _delivery_zip(tmp_path)
    d = extract_bag_delivery(str(d), str(tmp_path / "flat"))
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        rows3 = {
            r["id"]: r["naam"]
            for r in read_bag_entity(spark, d, "Woonplaats", CFG)
            .repartition(3)
            .collect()
        }
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    rows = {
        r["id"]: r["naam"]
        for r in read_bag_entity(spark, d, "Woonplaats", CFG).collect()
    }
    assert rows3 == rows
    assert rows3[5000] == "Dup-uit-file-040"


def test_root_scan_skips_non_xml_siblings(spark, tmp_path):
    """Raw-delivery fallback: --bag points at a directory where the
    delivery zip sits next to a gemeenten.csv and checksum/readme files.
    The extraction must skip the non-XML siblings instead of handing them
    to the XML scan."""
    import io as _io

    d = tmp_path / "delivery"
    d.mkdir()
    buf = _io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("9999WPL-000001.xml", _wpl_doc(_wpl(9100, "Sibling")))
    with zipfile.ZipFile(d / "lvbag-extract-nl.zip", "w") as outer:
        outer.writestr("9999WPL08082025.zip", buf.getvalue())
    (d / "gemeenten.csv").write_text("id;naam\n1;X\n", encoding="utf-8")
    (d / "checksums.sha256").write_text("deadbeef lvbag.zip\n")
    (d / "readme.txt").write_text("delivery notes")
    # extracting into the delivery itself, twice: the second run must not
    # pick up the first run's output
    for _ in range(2):
        flat = extract_bag_delivery(str(d), str(d / "flat"))
        assert os.listdir(flat) == ["9999WPL-000001.xml"]
    out = read_bag_entity(spark, flat, "Woonplaats", CFG).collect()
    assert [r["id"] for r in out] == [9100]


# ---------------------------------------------------------------------------
# parity with the namespace-aware ElementTree reference; the scan's contract
# ---------------------------------------------------------------------------

def _assert_same_rows(got, want, what):
    assert got.columns == want.columns, what
    a = sorted(map(tuple, want.collect()))
    b = sorted(map(tuple, got.collect()))
    assert a == b, (
        f"{what}: {len(a)} reference vs {len(b)} scanned rows; first diff: "
        f"{next((x for x, y in zip(a, b) if x != y), (a or b)[:1])}"
    )
    assert len(a) > 0, what


def test_native_backend_parity_on_generated_corpus(spark, tmp_path):
    """The XML scan must produce exactly the rows the ElementTree reference
    produces on a plain-XML delivery (the post-extract layout), for every
    entity — including repeated nevenadres parent refs, inactive-record
    filtering, geometry bracket wrap, and coordinate derivation — and its
    plan must contain NO Python evaluation stage (VERDICT r4 #6: the parse
    stays JVM-side)."""
    from scripts.import_bench import SNAPSHOT, generate_fixture

    from bag_parser_spark.plans.bag_job import (
        ENTITY_TABLE_NAMES,
        entity_xml_path,
    )

    root = str(tmp_path / "plain")
    generate_fixture(root, 1500, objects_per_file=400, layout="plain")
    cfg = EngineConfig(active_only=True, snapshot_date=SNAPSHOT)
    for entity in ENTITY_TABLE_NAMES:
        path = entity_xml_path(root, entity)
        got = read_bag_entity(spark, path, entity, cfg)
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" not in plan and "Python" not in plan, entity
        _assert_same_rows(
            got, read_reference_entity(spark, path, entity, cfg), entity
        )


def test_native_backend_last_write_wins_across_files(spark, tmp_path):
    """Cross-file upsert order: the later file (by path) must win for a
    duplicate id — the (__file__, __ordinal__) rule."""
    from tests.test_bag_job import OBJ_NS

    def wpl_doc(naam):
        return (
            '<?xml version="1.0" encoding="UTF-8"?>\n<root' + OBJ_NS + ">"
            "<Objecten:Woonplaats>"
            "<Objecten:identificatie>1050</Objecten:identificatie>"
            f"<Objecten:naam>{naam}</Objecten:naam>"
            "<Objecten:status>Woonplaats aangewezen</Objecten:status>"
            "<Historie:beginGeldigheid>2010-01-01</Historie:beginGeldigheid>"
            "</Objecten:Woonplaats></root>"
        )

    (tmp_path / "9999WPL0001.xml").write_text(wpl_doc("Oud"), encoding="utf-8")
    (tmp_path / "9999WPL0002.xml").write_text(wpl_doc("Nieuw"), encoding="utf-8")
    rows = read_bag_entity(
        spark, str(tmp_path / "9999WPL*"), "Woonplaats", CFG
    ).collect()
    assert len(rows) == 1 and rows[0]["naam"] == "Nieuw"


def test_last_write_wins_within_one_file_larger_than_a_split(spark, tmp_path):
    """A duplicate id at the start and the end of ONE file larger than
    spark.sql.files.maxPartitionBytes: the XML source reads the file as a
    single partition (``text`` splits the same file), so the ordinal
    follows document order and the later occurrence wins."""
    recs = [_wpl(7000, "Eerste")]
    recs += [_wpl(70000 + k, f"Vulling-{k:05d}") for k in range(4000)]
    recs.append(_wpl(7000, "Laatste"))
    f = tmp_path / "9999WPL0001.xml"
    f.write_text(_wpl_doc(*recs), encoding="utf-8")
    split = 64 * 1024
    assert f.stat().st_size > 8 * split
    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, str(split))
        assert spark.read.text(str(f)).rdd.getNumPartitions() > 1
        raw = read_bag_entity_raw_native(spark, str(f), "Woonplaats")
        assert raw.rdd.getNumPartitions() == 1
        rows = {
            r["id"]: r["naam"]
            for r in read_bag_entity(spark, str(f), "Woonplaats", CFG)
            .filter(F.col("id") == 7000)
            .collect()
        }
    finally:
        spark.conf.set(key, prev)
    assert rows == {7000: "Laatste"}


@pytest.mark.parametrize("root_ns", [
    ' xmlns:obj="www.kadaster.nl/schemas/lvbag/imbag/objecten/v20200601"',
    ' xmlns="www.kadaster.nl/schemas/lvbag/imbag/objecten/v20200601"',
], ids=["other_prefix", "default_namespace"])
def test_namespace_prefix_mismatch_fails_loudly(spark, tmp_path, root_ns):
    """The scan matches tags by the LVBAG prefixes as written: a file that
    binds the objecten namespace to another prefix, or makes it the
    default namespace, would scan as zero rows. It must raise instead,
    naming the file and the prefix."""
    tag = "obj:" if "xmlns:obj" in root_ns else ""
    f = tmp_path / "9999WPL0001.xml"
    f.write_text(
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        f'<root{root_ns}'
        ' xmlns:Historie="www.kadaster.nl/schemas/lvbag/imbag/historie/v20200601">'
        f"<{tag}Woonplaats><{tag}identificatie>1050</{tag}identificatie>"
        f"<{tag}naam>Elders</{tag}naam>"
        f"<{tag}status>Woonplaats aangewezen</{tag}status>"
        "<Historie:beginGeldigheid>2010-01-01</Historie:beginGeldigheid>"
        f"</{tag}Woonplaats></root>",
        encoding="utf-8",
    )
    ref = read_reference_entity(spark, str(tmp_path), "Woonplaats", CFG)
    assert [r["naam"] for r in ref.collect()] == ["Elders"]
    want = "prefix 'obj'" if tag else "the default namespace"
    with pytest.raises(ValueError, match=want) as err:
        read_bag_entity(spark, str(tmp_path), "Woonplaats", CFG)
    assert str(f) in str(err.value)


def test_native_backend_rejects_zips_loudly(spark, tmp_path):
    with zipfile.ZipFile(tmp_path / "9999WPL.zip", "w") as zf:
        zf.writestr("9999WPL0001.xml", "<root/>")
    with pytest.raises(ValueError, match="cannot read zip"):
        read_bag_entity(spark, str(tmp_path), "Woonplaats", CFG)


def test_native_backend_parity_special_characters(spark, tmp_path):
    """Escaped entities, accented text, and CDATA must decode as the
    ElementTree reference decodes them, or names like Súdwest-Fryslân are
    silently corrupted."""
    from tests.test_bag_job import OBJ_NS

    doc = (
        '<?xml version="1.0" encoding="UTF-8"?>\n<root' + OBJ_NS + ">"
        "<Objecten:Woonplaats>"
        "<Objecten:identificatie>1900</Objecten:identificatie>"
        "<Objecten:naam>Súdwest-Fryslân &amp; Co &lt;x&gt;</Objecten:naam>"
        "<Objecten:status>Woonplaats aangewezen</Objecten:status>"
        "<Historie:beginGeldigheid>2010-01-01</Historie:beginGeldigheid>"
        "</Objecten:Woonplaats>"
        "<Objecten:Woonplaats>"
        "<Objecten:identificatie>1901</Objecten:identificatie>"
        "<Objecten:naam><![CDATA[Plaats <met> & rare tekens]]></Objecten:naam>"
        "<Objecten:status>Woonplaats aangewezen</Objecten:status>"
        "<Historie:beginGeldigheid>2010-01-01</Historie:beginGeldigheid>"
        "</Objecten:Woonplaats></root>"
    )
    (tmp_path / "9999WPL0001.xml").write_text(doc, encoding="utf-8")
    path = str(tmp_path / "9999WPL*")
    rows = {
        name: sorted((r["id"], r["naam"]) for r in df.collect())
        for name, df in (
            ("scan", read_bag_entity(spark, path, "Woonplaats", CFG)),
            ("reference",
             read_reference_entity(spark, path, "Woonplaats", CFG)),
        )
    }
    assert rows["scan"] == rows["reference"]
    assert rows["scan"][0] == (1900, "Súdwest-Fryslân & Co <x>")
    assert rows["scan"][1] == (1901, "Plaats <met> & rare tekens")


_VOORKOMEN = (
    "<Objecten:voorkomen><Historie:Voorkomen>"
    "<Historie:voorkomenidentificatie>1</Historie:voorkomenidentificatie>"
    "<Historie:beginGeldigheid>2012-01-01</Historie:beginGeldigheid>"
    "<Historie:eindGeldigheid>2030-01-01</Historie:eindGeldigheid>"
    "</Historie:Voorkomen></Objecten:voorkomen>"
)


def _ring(coords, dim):
    return (
        f'<gml:LinearRing><gml:posList srsDimension="{dim}" '
        f'count="{len(coords)}">'
        + " ".join(" ".join(map(str, c)) for c in coords)
        + "</gml:posList></gml:LinearRing>"
    )


def _polygon(dim, exterior, *interiors):
    return (
        "<Objecten:geometrie>"
        f'<gml:Polygon srsName="urn:ogc:def:crs:EPSG::28992" srsDimension="{dim}">'
        f"<gml:exterior>{_ring(exterior, dim)}</gml:exterior>"
        + "".join(f"<gml:interior>{_ring(r, dim)}</gml:interior>"
                  for r in interiors)
        + "</gml:Polygon></Objecten:geometrie>"
    )


def _record(entity, body):
    """One object element with the status the active filter keeps and the
    numeric fields the typed projection casts."""
    status, typed = {
        "Woonplaats": ("Woonplaats aangewezen", ""),
        "OpenbareRuimte": ("Naamgeving uitgegeven",
                           "<Objecten-ref:WoonplaatsRef>1"
                           "</Objecten-ref:WoonplaatsRef>"),
        "Nummeraanduiding": ("Naamgeving uitgegeven",
                             "<Objecten:huisnummer>1</Objecten:huisnummer>"),
        "Pand": ("Pand in gebruik", "<Objecten:oorspronkelijkBouwjaar>1990"
                 "</Objecten:oorspronkelijkBouwjaar>"),
        "Verblijfsobject": ("Verblijfsobject in gebruik",
                            "<Objecten:oppervlakte>80</Objecten:oppervlakte>"),
    }.get(entity, ("Plaats aangewezen", ""))
    return (
        f"<Objecten:{entity}>"
        "<Objecten:identificatie>1</Objecten:identificatie>"
        f"<Objecten:status>{status}</Objecten:status>{typed}{body}"
        f"</Objecten:{entity}>"
    )


_EXTERIOR_2D = [(120000.0, 450000.0), (120010.0, 450000.0),
                (120010.0, 450010.0), (120000.0, 450000.0)]
_EXTERIOR_3D = [(155000.0, 463000.0, 0.0), (155100.0, 463000.0, 0.0),
                (155100.0, 463100.0, 0.0), (155000.0, 463000.0, 0.0)]
_INTERIOR_3D = [(155010.0, 463010.0, 0.0), (155020.0, 463010.0, 0.0),
                (155020.0, 463020.0, 0.0), (155010.0, 463010.0, 0.0)]
_GEO_CFG = EngineConfig(active_only=True, parse_geometries=True,
                        snapshot_date=SNAPSHOT)


def _stand(record):
    return VBO_HEAD + f"<sl:stand>{record}</sl:stand></sl:standBestand>"


_NESTED_LAYOUTS = [
    pytest.param(
        "Verblijfsobject",
        _vbo_xml().replace(
            "<gml:pos>155000.0 463000.0 0.0</gml:pos>",
            "<Objecten:geometrie><gml:Point>"
            "<gml:pos>155000.0 463000.0 0.0</gml:pos>"
            "</gml:Point></Objecten:geometrie>",
        ),
        CFG, {"pand_id": "PAND1,PAND2", "rd_x": 155000.0, "rd_y": 463000.0},
        id="point-pandref-Verblijfsobject",
    ),
    pytest.param(
        "Verblijfsobject",
        _vbo_xml().replace(
            "NUM2</Objecten-ref:NummeraanduidingRef>",
            "NUM2</Objecten-ref:NummeraanduidingRef>"
            "<Objecten-ref:NummeraanduidingRef>NUM4"
            "</Objecten-ref:NummeraanduidingRef>",
        ),
        CFG, {"nevenadressen": "NUM2,NUM4,NUM3"},
        id="two-refs-in-one-nevenadres-Verblijfsobject",
    ),
] + [
    pytest.param(
        entity, _stand(_record(entity, _VOORKOMEN)), CFG,
        {"begindatum_geldigheid": "2012-01-01",
         "einddatum_geldigheid": "2030-01-01"},
        id=f"history-{entity}",
    )
    for entity in ("Woonplaats", "OpenbareRuimte", "Nummeraanduiding",
                   "Pand", "Verblijfsobject", "Ligplaats", "Standplaats")
] + [
    pytest.param(
        entity,
        _stand(_record(entity, "<Historie:beginGeldigheid>2012-01-01"
                       "</Historie:beginGeldigheid>"
                       + _polygon(2, _EXTERIOR_2D))),
        _GEO_CFG, {"rd_x": 120000.0, "rd_y": 450000.0},
        id=f"polygon-{entity}",
    )
    for entity in ("Ligplaats", "Standplaats")
] + [
    pytest.param(
        "Pand",
        _stand(_record("Pand", "<Historie:beginGeldigheid>2012-01-01"
                       "</Historie:beginGeldigheid>"
                       + _polygon(3, _EXTERIOR_3D, *interiors))),
        _GEO_CFG, {"rings": 1 + len(interiors)},
        id=f"polygon-Pand-{1 + len(interiors)}-rings",
    )
    for interiors in ((), (_INTERIOR_3D,))
]


@pytest.mark.parametrize("entity,doc,cfg,expect", _NESTED_LAYOUTS)
def test_native_backend_parity_real_nested_vbo_layout(
    spark, tmp_path, entity, doc, cfg, expect
):
    """Real deliveries nest what the pre-extracted fixtures keep flat: the
    VBO point in geometrie/gml:Point and its PandRef in maaktDeelUitVan,
    the validity dates in voorkomen/Voorkomen, the polygon rings in
    geometrie/gml:Polygon/gml:exterior|gml:interior. The scan must agree
    with the reference (which keys on the leaf tag at any depth) on every
    column — rings in document order, derived rd/wgs coordinates too."""
    import json

    from bag_parser_spark.sources.bag_schemas import ENTITIES

    code = ENTITIES[entity].file_code
    (tmp_path / f"{code}0001.xml").write_text(doc, encoding="utf-8")
    path = str(tmp_path / f"{code}*")
    got = read_bag_entity(spark, path, entity, cfg).collect()
    want = read_reference_entity(spark, path, entity, cfg).collect()
    assert len(got) == 1 and len(want) == 1
    assert got[0].asDict() == want[0].asDict()
    r = got[0].asDict()
    expect = dict(expect)
    n_rings = expect.pop("rings", None)
    if n_rings:
        rings = json.loads(r["geometry"])
        assert len(rings) == n_rings
        # the exterior ring comes first: it starts at the Amersfoort
        # base point, the interior ring does not
        lon, lat = rings[0][0]
        assert abs(lat - 52.15517440) < 1e-9 and abs(lon - 5.38720621) < 1e-9
        assert all(ring[0] != rings[0][0] for ring in rings[1:])
    for k, v in expect.items():
        assert r[k] == v, k


def test_ligplaats_without_poslist_imports_with_null_coordinates(
    spark, tmp_path
):
    """A Ligplaats with no readable posList imports with NULL rd/wgs
    coordinates on both the scan and the reference, instead of failing the
    position split (index 1 of a one-element array under ANSI mode)."""
    (tmp_path / "9999LIG0001.xml").write_text(
        _stand(_record("Ligplaats", "<Historie:beginGeldigheid>2012-01-01"
                       "</Historie:beginGeldigheid>")),
        encoding="utf-8",
    )
    path = str(tmp_path / "9999LIG*")
    got = read_bag_entity(spark, path, "Ligplaats", CFG).collect()
    want = read_reference_entity(spark, path, "Ligplaats", CFG).collect()
    assert [r.asDict() for r in got] == [r.asDict() for r in want]
    assert len(got) == 1
    assert [got[0][c] for c in ("rd_x", "rd_y", "latitude", "longitude")] \
        == [None] * 4


def _openbare_ruimte(woonplaats_ref: str) -> str:
    return _stand(
        "<Objecten:OpenbareRuimte>"
        "<Objecten:identificatie>OR1</Objecten:identificatie>"
        "<Objecten:naam>Kerkstraat</Objecten:naam>"
        "<Objecten:status>Naamgeving uitgegeven</Objecten:status>"
        + woonplaats_ref
        + "<Historie:beginGeldigheid>2012-01-01</Historie:beginGeldigheid>"
        "</Objecten:OpenbareRuimte>"
    )


def test_absent_typed_value_imports_as_null(spark, tmp_path):
    """An OpenbareRuimte without WoonplaatsRef imports with a NULL
    woonplaats_id: the scan's '' default reaches the typed projection as
    NULL, not as a failed int cast. A non-numeric value still fails."""
    d = tmp_path / "or"
    d.mkdir()
    (d / "or.xml").write_text(_openbare_ruimte(""), encoding="utf-8")
    rows = read_bag_entity(spark, str(d), "OpenbareRuimte", CFG).collect()
    assert [(r["id"], r["woonplaats_id"]) for r in rows] == [("OR1", None)]

    (d / "or.xml").write_text(
        _openbare_ruimte("<Objecten-ref:WoonplaatsRef>abc"
                         "</Objecten-ref:WoonplaatsRef>"),
        encoding="utf-8",
    )
    with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
        read_bag_entity(spark, str(d), "OpenbareRuimte", CFG).collect()


def test_one_number_position_imports_with_null_rd_y(spark, tmp_path):
    """A Verblijfsobject whose gml:pos holds one number keeps rd_x and
    imports with NULL rd_y/latitude/longitude instead of failing the
    position split."""
    d = tmp_path / "vbo"
    d.mkdir()
    (d / "vbo.xml").write_text(
        _vbo_xml().replace("155000.0 463000.0 0.0", "155000.0"),
        encoding="utf-8",
    )
    r = read_bag_entity(spark, str(d), "Verblijfsobject", CFG).collect()[0]
    assert [r[c] for c in ("rd_x", "rd_y", "latitude", "longitude")] == [
        155000.0, None, None, None
    ]


def test_pand_without_poslist_parses_to_empty_ring(spark, tmp_path):
    """With parse_geometries=True, a Pand without a posList converts its
    empty ring to no points instead of casting '' to double."""
    import json

    (tmp_path / "9999PND0001.xml").write_text(
        _stand(_record("Pand", "<Historie:beginGeldigheid>2012-01-01"
                       "</Historie:beginGeldigheid>")),
        encoding="utf-8",
    )
    rows = read_bag_entity(
        spark, str(tmp_path / "9999PND*"), "Pand", _GEO_CFG
    ).collect()
    assert [json.loads(r["geometry"]) for r in rows] == [[[]]]


def test_extract_bag_delivery_two_level_zip(spark, tmp_path):
    """The REAL delivery shape: one outer zip holding per-entity zips
    whose members are anonymous numbered XMLs. extract_bag_delivery
    must flatten to plain .xml files that keep per-entity selection via
    the file-code prefix, and the scan must then read them."""
    from scripts.import_bench import SNAPSHOT, generate_fixture

    from bag_parser_spark.plans.bag_job import entity_xml_path

    inner = tmp_path / "inner"
    generate_fixture(str(inner), 200, objects_per_file=100, layout="zips")
    outer = tmp_path / "lvbag-extract-nl.zip"
    with zipfile.ZipFile(outer, "w") as zf:
        for p in sorted(inner.glob("*.zip")):
            zf.write(p, p.name)

    dest = str(tmp_path / "flat")
    extract_bag_delivery(str(outer), dest)
    xmls = sorted(os.listdir(dest))
    assert xmls and all(x.endswith(".xml") for x in xmls)
    # per-entity file-code glob still selects (names carry the prefix)
    wpl_glob = entity_xml_path(dest, "Woonplaats")
    assert wpl_glob != dest  # matched the 9999WPL* pattern

    cfg = EngineConfig(active_only=True, snapshot_date=SNAPSHOT)
    rows = read_bag_entity(spark, wpl_glob, "Woonplaats", cfg)
    assert rows.count() > 0


def test_nested_delivery_imports_like_flat(spark, tmp_path, monkeypatch):
    """Per-entity zips in subdirectories: delivery_has_zips finds them at
    any depth, and import_bag extracts them into the same rows as the flat
    layout. The import plans no Python stage: every table's executed plan
    (lazy, over the extraction) is JVM-only."""
    import shutil
    import tempfile

    from scripts.import_bench import SNAPSHOT, generate_fixture

    from bag_parser_spark.plans.bag_job import import_bag
    from bag_parser_spark.sources.bag_xml import delivery_has_zips

    flat = tmp_path / "flat"
    generate_fixture(str(flat), 200, objects_per_file=50, layout="zips")
    nested = tmp_path / "nested"
    for i, z in enumerate(sorted(flat.glob("*.zip"))):
        sub = nested / f"deel{i % 2}" / "zips"
        sub.mkdir(parents=True, exist_ok=True)
        shutil.copy(z, sub / z.name)
    (tmp_path / "empty" / "sub").mkdir(parents=True)
    assert not delivery_has_zips(str(tmp_path / "empty"))
    assert not list(nested.glob("*.zip"))
    assert delivery_has_zips(str(nested)) and delivery_has_zips(str(flat))

    # the lazy import's extraction goes to a mkdtemp: keep it in tmp_path
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    cfg = EngineConfig(active_only=True, snapshot_date=SNAPSHOT)
    csv = str(flat / "gemeenten.csv")
    a = import_bag(spark, str(flat), csv, cfg=cfg)
    b = import_bag(spark, str(nested), csv, cfg=cfg)
    assert set(a) == set(b)
    for name, df in b.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" not in plan and "Python" not in plan, name
        assert sorted(map(tuple, df.collect())) == sorted(
            map(tuple, a[name].collect())
        ), name
    assert b["adressen"].count() == 200


def test_extract_streams_large_members(tmp_path):
    """extract_bag_delivery streams: a two-level delivery whose inner
    member is 48 MB of XML extracts with a Python peak far below it."""
    import io
    import tracemalloc

    record = _wpl(1, "Groot").encode()
    size = 48 << 20
    inner = io.BytesIO()
    with zipfile.ZipFile(inner, "w", zipfile.ZIP_DEFLATED) as zf:
        with zf.open("9999WPL-000001.xml", "w") as member:
            written = 0
            while written < size:
                member.write(record * 1000)
                written += len(record) * 1000
    d = tmp_path / "delivery"
    d.mkdir()
    with zipfile.ZipFile(d / "lvbag-extract-nl.zip", "w") as outer:
        outer.writestr("9999WPL08082025.zip", inner.getvalue())
    del inner

    tracemalloc.start()
    try:
        dest = extract_bag_delivery(str(d), str(tmp_path / "flat"))
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    out = os.path.join(dest, "9999WPL-000001.xml")
    assert os.path.getsize(out) == written >= size
    assert peak < size // 16, peak


def test_finalize_entity_parses_position_once_per_coordinate(spark):
    """latitude/longitude read the rd_x/rd_y columns, so the optimized plan
    evaluates the position split once for rd_x and once for rd_y instead
    of inlining it into every polynomial term."""
    from bag_parser_spark.sources.bag_schemas import ENTITIES
    from bag_parser_spark.sources.bag_xml import _raw_schema, finalize_entity

    raw = spark.createDataFrame([], _raw_schema(ENTITIES["Verblijfsobject"]))
    df = finalize_entity(raw, "Verblijfsobject", CFG)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert 0 < plan.count("split(") <= 2
