"""End-to-end adressen pipeline test on BAG-shaped fixtures — reproduces the
reference's invariant battery (reference database_sqlite.py:621-758) and the
FIXTURES.md §B scenarios at fixture scale."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bag_parser_spark.plans import bag_pipeline as P
from bag_parser_spark.plans.export import (
    export_adressen_all,
    export_adressen_postcode,
    export_postcode_stats,
)
from bag_parser_spark.plans.validate import validate_bag
from tests.bag_fixtures import (
    AMSTELVEEN_WPL,
    AMSTERDAM_GEM,
    FIXTURE_CONFIG,
    make_bag_tables,
)


@pytest.fixture(scope="module")
def bag(spark):
    t = make_bag_tables(spark)
    wpl = P.enrich_woonplaatsen(t["woonplaatsen"], t["gemeente_woonplaatsen"])
    adressen = P.build_adressen(
        t["nummers"],
        t["openbare_ruimten"],
        wpl,
        t["verblijfsobjecten"],
        t["panden"],
        t["ligplaatsen"],
        t["standplaatsen"],
        FIXTURE_CONFIG,
    )
    cleaned = P.clean_adressen(adressen, t["openbare_ruimten"], FIXTURE_CONFIG)
    cleaned = cleaned.cache()
    return {**t, "woonplaatsen_enriched": wpl, "adressen": cleaned}


def _row(df, **eq):
    cond = None
    for k, v in eq.items():
        c = F.col(k) == v
        cond = c if cond is None else (cond & c)
    rows = df.filter(cond).collect()
    assert len(rows) == 1, f"expected 1 row for {eq}, got {len(rows)}"
    return rows[0]


def test_woonplaats_override_sentinel(bag):
    # scenario 2 / reference database_sqlite.py:709-714
    r = _row(bag["adressen"], postcode="1181BN", huisnummer=1)
    assert r["woonplaats_id"] == AMSTELVEEN_WPL
    assert r["gemeente_id"] == AMSTERDAM_GEM  # gemeente NOT overridden


def test_multipand_last_wins(bag):
    # scenario 3 / reference database_sqlite.py:398-437
    r = _row(bag["adressen"], nummer_id="N00005050")
    assert r["pand_id"] is None  # comma-list id never joins a real pand
    assert r["bouwjaar"] == 1999  # last pand in the list (P-MP2)


def test_nevenadres_inheritance(bag):
    # scenario 4 / reference database_sqlite.py:466-518
    hoofd = _row(bag["adressen"], nummer_id="N00008080")
    for nid in ("N00008081", "N00008082"):
        n = _row(bag["adressen"], nummer_id=nid)
        assert n["hoofd_nummer_id"] == "N00008080"
        assert n["pand_id"] == hoofd["pand_id"]
        assert n["bouwjaar"] == 1955
        assert n["latitude"] == hoofd["latitude"]
        assert n["verblijfsobject_id"] == hoofd["verblijfsobject_id"]
    assert hoofd["hoofd_nummer_id"] is None


def test_ligplaats_standplaats_overlay(bag):
    # scenario 5 / reference database_sqlite.py:440-464
    lig = bag["adressen"].filter(F.col("object_type") == "ligplaats")
    sta = bag["adressen"].filter(F.col("object_type") == "standplaats")
    assert lig.count() == 5
    assert sta.count() == 6
    assert lig.filter(F.col("latitude").isNull()).count() == 0


def test_dummy_cleaning(bag):
    # scenario 6 / reference database_sqlite.py:542-601
    a = bag["adressen"]
    assert _row(a, nummer_id="N00006060")["bouwjaar"] is None  # 1005
    assert _row(a, nummer_id="N00006061")["bouwjaar"] is None  # 9999
    assert _row(a, nummer_id="N00007070")["oppervlakte"] is None  # 999999
    assert _row(a, nummer_id="N00007071")["oppervlakte"] is None  # 1
    # non-dummy values survive
    assert _row(a, nummer_id="N00005050")["oppervlakte"] == 100.0


def test_orphan_delete(bag):
    # scenario 7 / reference database_sqlite.py:604-612
    a = bag["adressen"]
    orphan_ids = ["N00009090", "N00009091", "N00009092"]
    assert a.filter(F.col("nummer_id").isin(orphan_ids)).count() == 0
    assert a.filter(F.col("openbare_ruimte_id").isNull()).count() == 0


def test_validation_battery_passes(bag):
    report, ok = validate_bag(
        bag["adressen"],
        bag["gemeenten"],
        bag["woonplaatsen_enriched"],
        bag["openbare_ruimten"],
        bag["provincies"],
        FIXTURE_CONFIG,
    )
    failed = [r for r in report.collect() if not r["passed"]]
    assert ok, f"failed checks: {failed}"


def test_validation_catches_broken_data(spark, bag):
    # scenario 9 (negative): a gemeente with no adressen must fail the battery
    extra = spark.createDataFrame(
        [(9999, "Spookgemeente", 20)], "id int, naam string, provincie_id int"
    )
    report, ok = validate_bag(
        bag["adressen"],
        bag["gemeenten"].unionAll(extra),
        bag["woonplaatsen_enriched"],
        bag["openbare_ruimten"],
        bag["provincies"],
        FIXTURE_CONFIG,
    )
    assert not ok
    bad = {r["check"] for r in report.collect() if not r["passed"]}
    assert "gemeenten_zonder_adressen" in bad


def test_exports(bag):
    full = export_adressen_all(
        bag["adressen"], bag["openbare_ruimten"], bag["gemeenten"],
        bag["woonplaatsen_enriched"], bag["provincies"],
    )
    assert full.count() == bag["adressen"].count()
    assert full.columns == [
        "straat", "huisnummer", "toevoeging", "postcode", "gemeente",
        "woonplaats", "provincie", "bouwjaar", "rd_x", "rd_y", "latitude",
        "longitude", "vloeroppervlakte", "gebruiksdoel",
        "hoofdadres_nummer_id",
    ]
    pc = export_adressen_postcode(
        bag["adressen"], bag["openbare_ruimten"], bag["woonplaatsen_enriched"]
    )
    assert pc.columns == ["straat", "huisnummer", "toevoeging", "postcode",
                          "woonplaats"]
    stats4 = export_postcode_stats(
        bag["adressen"], bag["woonplaatsen_enriched"], 4
    ).collect()
    by_key = {r["postcode4"]: r for r in stats4}
    assert all(len(k) == 4 for k in by_key)  # SQLite SUBSTR(pc,0,5) quirk
    assert sum(r["aantal_adressen"] for r in stats4) == bag["adressen"].filter(
        F.col("postcode") != ""
    ).count()


def test_coordinates_at_base_point(bag):
    # scenario 11: Onze Lieve Vrouwetoren — exact at the base point
    r = _row(bag["adressen"], nummer_id="N00001000")
    assert abs(r["latitude"] - 52.15517440) < 1e-9
    assert abs(r["longitude"] - 5.38720621) < 1e-9


def _with_orphans(adressen):
    """Two adressen with a NULL and one with a dangling openbare_ruimte_id,
    replacing their originals."""
    null_ids, dangling_id = ["N00001000", "N00002000"], "N00003000"
    return (
        adressen.filter(~F.col("nummer_id").isin(*null_ids, dangling_id))
        .unionByName(
            adressen.filter(F.col("nummer_id").isin(*null_ids)).withColumn(
                "openbare_ruimte_id", F.lit(None).cast("string")
            )
        )
        .unionByName(
            adressen.filter(F.col("nummer_id") == dangling_id).withColumn(
                "openbare_ruimte_id", F.lit("OR-DANGLING")
            )
        )
    )


def test_orphan_delete_counts_null_and_dangling_in_one_pass(bag, monkeypatch):
    from dataclasses import replace

    clean = bag["adressen"]
    n = clean.count()
    dirty = _with_orphans(clean)
    orphan_ids = ["N00001000", "N00002000", "N00003000"]

    counts = []
    frame = type(dirty)  # the concrete DataFrame class (classic or Connect)
    real_count = frame.count
    monkeypatch.setattr(
        frame, "count", lambda df: counts.append(1) or real_count(df)
    )

    def clean_at(threshold):
        counts.clear()
        cfg = replace(
            FIXTURE_CONFIG,
            delete_addresses_without_public_spaces_threshold=threshold,
        )
        out = P.clean_adressen(dirty, bag["openbare_ruimten"], cfg)
        assert len(counts) == 1  # one action decides the delete
        return out

    # the count is exactly 3: deleted below a threshold of 4, kept at 3
    below = clean_at(4)
    assert below.count() == n - 3
    assert below.filter(F.col("nummer_id").isin(orphan_ids)).count() == 0
    assert clean_at(3).count() == n
    assert clean_at(2).count() == n

    # no orphans: the table passes through without adding a semi-join
    def semi_joins(df):
        return df._jdf.queryExecution().optimizedPlan().toString().count(
            "LeftSemi"
        )

    again = P.clean_adressen(clean, bag["openbare_ruimten"], FIXTURE_CONFIG)
    assert semi_joins(again) == semi_joins(clean)


# validate_bag's (check, value, passed) rows on the broken fixture below, as
# returned by the unfused battery (one action per check) it replaced
BROKEN_REPORT = [
    ("gemeenten_zonder_adressen", "0", True),
    ("woonplaatsen_zonder_gemeente", "2", False),
    ("adressen_zonder_openbare_ruimte", "3", False),
    ("adressen_zonder_woonplaats", "0", True),
    ("adressen_zonder_gemeente", "0", True),
    ("gemeentenamen_utf8", "Súdwest-Fryslân", True),
    ("nummer_woonplaats_override", "None", False),
    ("panden_zonder_locatie", "0", True),
    ("ligplaatsen_zonder_locatie", "0", True),
    ("standplaatsen_zonder_locatie", "0", True),
    ("aantal_adressen", "949", True),
    ("aantal_adressen_met_pand", "937", True),
    ("aantal_ligplaatsen", "5", True),
    ("aantal_standplaatsen", "6", True),
    ("aantal_openbare_ruimten", "311", True),
    ("aantal_woonplaatsen", "312", True),
    ("aantal_gemeenten", "310", True),
    ("aantal_provincies", "12", True),
    ("laatste_nummer_begindatum", "2011-01-01", True),
    ("laatste_pand_begindatum", "2012-01-01", True),
]


def test_validation_report_on_broken_fixture(spark, bag, monkeypatch):
    """Sentinel address missing, one openbare-ruimte id twice (it must not
    duplicate that id's adressen in the fused aggregate), a woonplaats with
    NULL and one with a dangling gemeente_id, and NULL/dangling
    openbare_ruimte_id adressen: the fused battery reports what the
    one-action-per-check battery did, in at most five actions."""
    a = _with_orphans(bag["adressen"]).filter(
        ~((F.col("postcode") == "1181BN") & (F.col("huisnummer") == 1))
    )
    orr = bag["openbare_ruimten"]
    orr = orr.unionByName(orr.filter(F.col("id") == "OR0000000004"))
    wpl = bag["woonplaatsen_enriched"]
    wpl = wpl.unionByName(spark.createDataFrame(
        [(90001, "Nergensdorp", "", "Woonplaats aangewezen", "2010-01-01", "",
          None),
         (90002, "Spookdorp", "", "Woonplaats aangewezen", "2010-01-01", "",
          8888)],
        wpl.schema,
    ))

    actions = []
    frame = type(a)
    for name in ("count", "collect"):
        real = getattr(frame, name)
        monkeypatch.setattr(
            frame, name,
            lambda df, _real=real: actions.append(1) or _real(df),
        )
    report, ok = validate_bag(a, bag["gemeenten"], wpl, orr, bag["provincies"],
                              FIXTURE_CONFIG)
    assert 0 < len(actions) <= 5
    monkeypatch.undo()
    assert not ok
    assert [tuple(r) for r in report.collect()] == BROKEN_REPORT
