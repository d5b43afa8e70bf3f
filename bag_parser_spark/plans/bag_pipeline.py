"""The adressen build pipeline (SURVEY §3.1 stages 7-8): the reference's
sequence of SQLite passes re-expressed as one composable DataFrame lineage.

Reference flow (import_bag.py:64-72 → database_sqlite.py:291-530):
  1. woonplaatsen.gemeente_id ← gemeente_woonplaatsen     (J2 update-join)
  2. base adressen: nummers ⋈ openbare_ruimten ⋈ woonplaatsen ⋈
     verblijfsobjecten ⋈ panden (4 chained LEFT JOINs)     (J1)
  3. multi-pand fix: explode comma pand_id, last wins      (J4)
  4. ligplaats / standplaats coordinate+type overwrite     (J3)
  5. nummer-level woonplaats override where non-empty      (J6)
  6. nevenadres propagation from hoofd rows                (J5)
  7. dummy-value cleaning + orphan delete                  (P11/P12)

Each pass is a DataFrame → DataFrame function; passes 1 and 3-6 build a
narrow source named after the columns they overwrite and hand it to
``operators/joins.py::update_join``. The whole build is one lazy lineage,
so Catalyst sees every stage at once (the reference's sequential UPDATE
passes each rescan the table). Scale shape: nummers ⋈
verblijfsobjecten is the one genuinely big-big join (~9.5M × 9M at NL
scale; sort-merge on the key); every other side is a dim (broadcast) or a
pre-aggregated overlay keyed by nummer_id.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bag_parser_spark.config import DEFAULT_CONFIG, EngineConfig
from bag_parser_spark.functions.scalars import null_dummy
from bag_parser_spark.operators.dedup import last_write_wins
from bag_parser_spark.operators.joins import conditional_orphan_delete, update_join

ADRESSEN_COLUMNS = [
    "nummer_id",
    "nummer_begindatum_geldigheid",
    "nummer_einddatum_geldigheid",
    "pand_id",
    "pand_begindatum_geldigheid",
    "pand_einddatum_geldigheid",
    "verblijfsobject_id",
    "gemeente_id",
    "woonplaats_id",
    "openbare_ruimte_id",
    "object_type",
    "gebruiksdoel",
    "postcode",
    "huisnummer",
    "huisletter",
    "toevoeging",
    "oppervlakte",
    "rd_x",
    "rd_y",
    "latitude",
    "longitude",
    "bouwjaar",
    "hoofd_nummer_id",
    "geometry",
]


def _nonempty(c: Column) -> Column:
    return F.coalesce(c, F.lit("")) != F.lit("")


def enrich_woonplaatsen(
    woonplaatsen: DataFrame, gemeente_woonplaatsen: DataFrame
) -> DataFrame:
    """Pass 1 (J2): woonplaatsen.gemeente_id ← gemeente_woonplaatsen
    (reference database_sqlite.py:79-85). The relation table is small —
    broadcast; must be unique per woonplaats_id (latest relation wins)."""
    gw = last_write_wins(
        gemeente_woonplaatsen.select(
            F.col("woonplaats_id").alias("id"), "gemeente_id"
        ).filter(F.col("id").isNotNull()),
        keys=["id"],
        order_by=[F.col("gemeente_id")],
    )
    return update_join(woonplaatsen, F.broadcast(gw), "id")


def build_adressen_base(
    nummers: DataFrame,
    openbare_ruimten: DataFrame,
    woonplaatsen: DataFrame,
    verblijfsobjecten: DataFrame,
    panden: DataFrame,
) -> DataFrame:
    """Pass 2 (J1): the 4-way chained LEFT JOIN (reference
    database_sqlite.py:347-375). openbare_ruimten / woonplaatsen broadcast;
    nummers ⋈ verblijfsobjecten and ⋈ panden are the big joins (sort-merge
    on id keys; AQE may promote to broadcast at small scale)."""
    n = nummers.alias("n")
    o = F.broadcast(openbare_ruimten.alias("o"))
    w = F.broadcast(woonplaatsen.alias("w"))
    v = verblijfsobjecten.alias("v")
    p = panden.alias("p")
    joined = (
        n.join(o, F.col("o.id") == F.col("n.openbare_ruimte_id"), "left")
        .join(w, F.col("w.id") == F.col("o.woonplaats_id"), "left")
        .join(v, F.col("v.nummer_id") == F.col("n.id"), "left")
        .join(p, F.col("v.pand_id") == F.col("p.id"), "left")
    )
    return joined.select(
        F.col("n.id").alias("nummer_id"),
        F.col("n.begindatum_geldigheid").alias("nummer_begindatum_geldigheid"),
        F.col("n.einddatum_geldigheid").alias("nummer_einddatum_geldigheid"),
        F.col("p.id").alias("pand_id"),
        F.col("p.begindatum_geldigheid").alias("pand_begindatum_geldigheid"),
        F.col("p.einddatum_geldigheid").alias("pand_einddatum_geldigheid"),
        F.col("v.id").alias("verblijfsobject_id"),
        F.col("w.gemeente_id").alias("gemeente_id"),
        F.col("o.woonplaats_id").alias("woonplaats_id"),
        F.col("o.id").alias("openbare_ruimte_id"),
        F.lit("verblijfsobject").alias("object_type"),
        F.col("v.gebruiksdoel").alias("gebruiksdoel"),
        F.col("n.postcode").alias("postcode"),
        F.col("n.huisnummer").alias("huisnummer"),
        F.col("n.huisletter").alias("huisletter"),
        F.col("n.toevoeging").alias("toevoeging"),
        F.col("v.oppervlakte").alias("oppervlakte"),
        F.col("v.rd_x").alias("rd_x"),
        F.col("v.rd_y").alias("rd_y"),
        F.col("v.latitude").alias("latitude"),
        F.col("v.longitude").alias("longitude"),
        F.col("p.bouwjaar").alias("bouwjaar"),
        F.lit(None).cast("string").alias("hoofd_nummer_id"),
        F.col("p.geometry").alias("geometry"),
    )


def apply_meerdere_panden(
    adressen: DataFrame, verblijfsobjecten: DataFrame, panden: DataFrame
) -> DataFrame:
    """Pass 3 (J4): verblijfsobjecten with comma-joined pand_id → explode →
    join panden → last pand's bouwjaar/geometry overwrite ("only last one
    remains" — reference database_sqlite.py:398-437). adressen.pand_id
    stays NULL for these rows, exactly like the reference (the base join
    found no pand with the literal comma-list id)."""
    multi = verblijfsobjecten.filter(F.col("pand_id").contains(",")).select(
        "nummer_id",
        F.posexplode(F.split(F.col("pand_id"), ",")).alias("ord", "pand_id"),
    )
    pj = multi.join(
        panden.select(F.col("id").alias("pand_id"), "bouwjaar", "geometry"),
        "pand_id",
        "left",
    )
    last = last_write_wins(pj, keys=["nummer_id"], order_by=[F.col("ord")])
    return update_join(
        adressen, last.select("nummer_id", "bouwjaar", "geometry"), "nummer_id"
    )


def apply_plaats_overlay(
    adressen: DataFrame, plaatsen: DataFrame, object_type: str
) -> DataFrame:
    """Pass 4 (J3): ligplaatsen / standplaatsen coordinate + geometry +
    object_type overwrite on matching nummer_id (reference
    database_sqlite.py:440-464)."""
    pl = plaatsen.select(
        "nummer_id", "rd_x", "rd_y", "latitude", "longitude", "geometry"
    ).filter(_nonempty(F.col("nummer_id")))
    pl = last_write_wins(pl, keys=["nummer_id"], order_by=[F.col("rd_x")])
    return update_join(
        adressen, pl.withColumn("object_type", F.lit(object_type)), "nummer_id"
    )


def apply_woonplaats_override(
    adressen: DataFrame, nummers: DataFrame
) -> DataFrame:
    """Pass 5 (J6): nummer-level WoonplaatsRef beats the openbare ruimte's
    woonplaats (reference database_sqlite.py:522-530, `IS NOT ''`)."""
    n = nummers.filter(_nonempty(F.col("woonplaats_id"))).select(
        F.col("id").alias("nummer_id"),
        F.col("woonplaats_id").cast("int").alias("woonplaats_id"),
    )
    return update_join(adressen, F.broadcast(n), "nummer_id")


NEVEN_INHERITED = [
    "pand_id",
    "verblijfsobject_id",
    "gebruiksdoel",
    "oppervlakte",
    "rd_x",
    "rd_y",
    "latitude",
    "longitude",
    "bouwjaar",
    "geometry",
]


def apply_nevenadressen(
    adressen: DataFrame, verblijfsobjecten: DataFrame
) -> DataFrame:
    """Pass 6 (J5): neven rows inherit the hoofd row's building attributes
    and record hoofd_nummer_id (reference database_sqlite.py:466-518).
    Joins the *current* adressen state (after passes 3-5), matching the
    reference's pass ordering. Pairs are deduped per neven id (the
    reference's temp-table PK would abort on duplicates)."""
    pairs = verblijfsobjecten.filter(_nonempty(F.col("nevenadressen"))).select(
        F.col("nummer_id").alias("hoofd_nummer_id"),
        F.explode(F.split(F.col("nevenadressen"), ",")).alias("nummer_id"),
    )
    pairs = last_write_wins(
        pairs, keys=["nummer_id"], order_by=[F.col("hoofd_nummer_id")]
    )
    hoofd = adressen.select(
        F.col("nummer_id").alias("hoofd_nummer_id"), *NEVEN_INHERITED
    )
    return update_join(
        adressen, pairs.join(hoofd, "hoofd_nummer_id", "left"), "nummer_id"
    )


def clean_adressen(
    adressen: DataFrame,
    openbare_ruimten: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Pass 7 (P11 + P12): dummy-value nulling (bouwjaar 1005 / > 2040,
    oppervlakte 999999 / 1 — reference database_sqlite.py:542-601) and the
    conditional orphan delete (only when 0 < count < threshold — reference
    database_sqlite.py:604-612). An orphan has a NULL or dangling
    openbare_ruimte_id; one left_anti count against the broadcast ids
    counts both kinds, and is the one driver-side action in the build."""
    out = adressen.withColumns({
        "bouwjaar": null_dummy(F.col("bouwjaar"), dummy_values=[1005], gt=2040),
        "oppervlakte": null_dummy(
            F.col("oppervlakte"), dummy_values=[999999.0, 1.0]
        ),
    })
    return conditional_orphan_delete(
        out,
        F.broadcast(openbare_ruimten.select(F.col("id").alias("__or_id__"))),
        on=F.col("openbare_ruimte_id") == F.col("__or_id__"),
        threshold=cfg.delete_addresses_without_public_spaces_threshold,
    )


def build_adressen(
    nummers: DataFrame,
    openbare_ruimten: DataFrame,
    woonplaatsen: DataFrame,
    verblijfsobjecten: DataFrame,
    panden: DataFrame,
    ligplaatsen: DataFrame,
    standplaatsen: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """The full adressen DAG, passes 2-6 in reference order as one lineage.
    ``woonplaatsen`` must already be gemeente-enriched (pass 1)."""
    a = build_adressen_base(
        nummers, openbare_ruimten, woonplaatsen, verblijfsobjecten, panden
    )
    a = apply_meerdere_panden(a, verblijfsobjecten, panden)
    a = apply_plaats_overlay(a, ligplaatsen, "ligplaats")
    a = apply_plaats_overlay(a, standplaatsen, "standplaats")
    a = apply_woonplaats_override(a, nummers)
    a = apply_nevenadressen(a, verblijfsobjecten)
    return a.select(*ADRESSEN_COLUMNS)
