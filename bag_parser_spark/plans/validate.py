"""BAG integrity validation battery (SURVEY §3.3 / §5).

The reference runs ~20 sequential scalar SQL checks (reference
database_sqlite.py:621-758). Here they run as five actions: one fused
conditional aggregation over adressen (A2 — one scan instead of ~10; it
also carries the openbare-ruimte check through a broadcast left join and
the sentinel-address lookup), one left_anti count per remaining
referential check, the UTF-8 sentinel lookup, and one job for the four
table sizes. The result is a tidy report DataFrame (check, value, passed)
plus a boolean verdict — the same four check families:

  1. referential integrity (anti-joins)
  2. completeness thresholds
  3. sentinel records (UTF-8 canary, woonplaats-override address)
  4. null-location checks
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bag_parser_spark.config import DEFAULT_CONFIG, EngineConfig
from bag_parser_spark.operators.joins import anti_join


@dataclass
class CheckResult:
    check: str
    value: float | int | str | None
    passed: bool


def validate_bag(
    adressen: DataFrame,
    gemeenten: DataFrame,
    woonplaatsen: DataFrame,
    openbare_ruimten: DataFrame,
    provincies: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
) -> tuple[DataFrame, bool]:
    """Returns (report DataFrame, all_passed). Mirrors reference
    database_sqlite.py:621-758 check for check, with thresholds from cfg
    (production defaults; fixture-scaled in tests)."""
    results: list[CheckResult] = []

    # --- fused scalar battery over adressen: ONE scan (A2) ---
    # the left join against the DISTINCT openbare-ruimte ids keeps one row
    # per address, so __o_id__ is NULL exactly for the orphans (NULL or
    # dangling openbare_ruimte_id) and every other aggregate is unchanged
    or_ids = openbare_ruimten.select(F.col("id").alias("__o_id__")).distinct()
    pc, hn, expected_wpl = cfg.sentinel_address
    is_sentinel = (F.col("postcode") == pc) & (F.col("huisnummer") == hn)
    row = adressen.join(
        F.broadcast(or_ids), F.col("openbare_ruimte_id") == F.col("__o_id__"),
        "left",
    ).agg(
        F.count(F.lit(1)).alias("n_adressen"),
        F.count(F.when(F.col("pand_id").isNotNull(), 1)).alias("n_pand"),
        F.count(F.when(F.col("object_type") == "ligplaats", 1)).alias("n_lig"),
        F.count(F.when(F.col("object_type") == "standplaats", 1)).alias("n_sta"),
        F.count(F.when(F.col("woonplaats_id").isNull(), 1)).alias("n_no_wpl"),
        F.count(F.when(F.col("gemeente_id").isNull(), 1)).alias("n_no_gem"),
        F.count(F.when(F.col("__o_id__").isNull(), 1)).alias("n_no_or"),
        F.count(
            F.when(
                F.col("latitude").isNull() & F.col("pand_id").isNotNull(), 1
            )
        ).alias("n_pand_no_loc"),
        F.count(
            F.when(
                F.col("latitude").isNull()
                & (F.col("gebruiksdoel") == "ligplaats"),
                1,
            )
        ).alias("n_lig_no_loc"),
        F.count(
            F.when(
                F.col("latitude").isNull()
                & (F.col("gebruiksdoel") == "standplaats"),
                1,
            )
        ).alias("n_sta_no_loc"),
        F.max("nummer_begindatum_geldigheid").alias("max_nummer_begin"),
        F.max("pand_begindatum_geldigheid").alias("max_pand_begin"),
        # the sentinel's woonplaats, NULL struct when no address matches;
        # the lowest nummer_id wins if several do
        F.min_by(
            F.struct("woonplaats_id"), F.when(is_sentinel, F.col("nummer_id"))
        ).alias("sentinel"),
    ).collect()[0]

    # --- referential integrity: anti-join counts (J7) ---
    gem_without_adres = anti_join(
        gemeenten,
        adressen.select("gemeente_id").distinct(),
        on=gemeenten["id"] == F.col("gemeente_id"),
    ).count()
    # left_anti keeps NULL gemeente_id rows: one count covers both kinds
    wpl_without_gem = anti_join(
        woonplaatsen,
        gemeenten.select(F.col("id").alias("__g_id__")),
        on=F.col("gemeente_id") == F.col("__g_id__"),
    ).count()
    adres_without_or = row["n_no_or"]

    results.append(CheckResult("gemeenten_zonder_adressen", gem_without_adres,
                               gem_without_adres == 0))
    results.append(CheckResult("woonplaatsen_zonder_gemeente", wpl_without_gem,
                               wpl_without_gem == 0))
    results.append(CheckResult("adressen_zonder_openbare_ruimte",
                               adres_without_or, adres_without_or == 0))
    results.append(CheckResult("adressen_zonder_woonplaats", row["n_no_wpl"],
                               row["n_no_wpl"] == 0))
    results.append(CheckResult("adressen_zonder_gemeente", row["n_no_gem"],
                               row["n_no_gem"] == 0))

    # --- sentinel records ---
    gid, gnaam = cfg.sentinel_gemeente
    utf8_rows = gemeenten.filter(F.col("id") == gid).select("naam").collect()
    utf8_ok = bool(utf8_rows) and utf8_rows[0]["naam"] == gnaam
    results.append(
        CheckResult("gemeentenamen_utf8",
                    utf8_rows[0]["naam"] if utf8_rows else None, utf8_ok)
    )
    sentinel_wpl = row["sentinel"]["woonplaats_id"] if row["sentinel"] else None
    results.append(
        CheckResult("nummer_woonplaats_override", sentinel_wpl,
                    sentinel_wpl == expected_wpl)
    )

    # --- null-location checks ---
    results.append(CheckResult("panden_zonder_locatie", row["n_pand_no_loc"],
                               row["n_pand_no_loc"] == 0))
    results.append(CheckResult("ligplaatsen_zonder_locatie",
                               row["n_lig_no_loc"], row["n_lig_no_loc"] == 0))
    results.append(CheckResult("standplaatsen_zonder_locatie",
                               row["n_sta_no_loc"], row["n_sta_no_loc"] == 0))

    # --- completeness thresholds ---
    # the four table sizes as one job over the tagged union
    sized = [openbare_ruimten, woonplaatsen, gemeenten, provincies]
    tagged = reduce(lambda a, b: a.unionByName(b), [
        df.select(F.lit(k).alias("__t__")) for k, df in enumerate(sized)
    ])
    n_or, n_wpl, n_gem, n_prov = tagged.agg(*[
        F.count(F.when(F.col("__t__") == k, 1)) for k in range(len(sized))
    ]).collect()[0]
    results += [
        CheckResult("aantal_adressen", row["n_adressen"],
                    row["n_adressen"] >= cfg.min_adressen),
        CheckResult("aantal_adressen_met_pand", row["n_pand"],
                    row["n_pand"] >= cfg.min_adressen_with_pand),
        CheckResult("aantal_ligplaatsen", row["n_lig"],
                    row["n_lig"] >= cfg.min_ligplaatsen),
        CheckResult("aantal_standplaatsen", row["n_sta"],
                    row["n_sta"] >= cfg.min_standplaatsen),
        CheckResult("aantal_openbare_ruimten", n_or,
                    n_or >= cfg.min_openbare_ruimten),
        CheckResult("aantal_woonplaatsen", n_wpl, n_wpl >= cfg.min_woonplaatsen),
        CheckResult("aantal_gemeenten", n_gem, n_gem >= cfg.min_gemeenten),
        CheckResult("aantal_provincies", n_prov,
                    n_prov == cfg.exact_provincies),
        CheckResult("laatste_nummer_begindatum", row["max_nummer_begin"], True),
        CheckResult("laatste_pand_begindatum", row["max_pand_begin"], True),
    ]

    all_passed = all(r.passed for r in results)
    report = adressen.sparkSession.createDataFrame(
        [(r.check, str(r.value), r.passed) for r in results],
        "check string, value string, passed boolean",
    )
    return report, all_passed
