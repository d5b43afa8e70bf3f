"""Query catalog: every SURVEY §2 operator as a named (spark, sf_dir) →
DataFrame callable plus its DuckDB oracle SQL. This is the engine's public
query surface and the driver's correctness gate.

Determinism contract: every query is a deterministic function of its input
tables — any-value aggregates use min(), top-k has total-order tiebreakers,
double aggregates go through exact decimal sums, and floating expressions
use identical operand order in the Spark and SQL forms so IEEE results are
bit-identical.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bag_parser_spark.functions import rijksdriehoek as rd
from bag_parser_spark.functions import scalars
from bag_parser_spark.operators import aggregates as agg
from bag_parser_spark.operators import dedup, joins, similarity, text
from bag_parser_spark.sources.parquet import load_table


@dataclass(frozen=True)
class QueryDef:
    fn: Callable[[SparkSession, str], DataFrame]
    sql: str | None  # DuckDB oracle; None → rows-only check
    doc: str = ""


_REGISTRY: dict[str, QueryDef] = {}


def register(name: str, sql: str | None, doc: str = ""):
    def deco(fn):
        _REGISTRY[name] = QueryDef(fn=fn, sql=sql, doc=doc)
        return fn

    return deco


def registry() -> dict[str, QueryDef]:
    _load_extensions()
    return dict(_REGISTRY)


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# J1/J9 — chained left joins (the flagship address-lookup shape)
# reference database_sqlite.py:347-375, exporter.py:52-73, readme.MD:54-78
# ---------------------------------------------------------------------------

@register(
    "j1_chained_left_join",
    """
    SELECT l.l_orderkey, l.l_linenumber,
           l.l_returnflag || l.l_linestatus AS flag_status,
           l.l_extendedprice, o.o_totalprice, o.o_orderpriority,
           c.c_name, n.n_name AS nation_name, r.r_name AS region_name
    FROM lineitem l
    LEFT JOIN orders o   ON l.l_orderkey = o.o_orderkey
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    LEFT JOIN nation n   ON c.c_nationkey = n.n_nationkey
    LEFT JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE l.l_quantity >= 30
    """,
    doc="J1/J9: 4-dim snowflake left-join chain with F2 concat + filter "
    "(reference database_sqlite.py:347-375, exporter.py:52-73). Dims "
    "broadcast; fact never shuffles.",
)
def q_j1(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 30)
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    # orders/customer are fact-scale tables (the nummers/verblijfsobjecten
    # analog): no broadcast hint — AQE sort-merges at scale, converts to
    # broadcast at runtime while they're small. nation/region are true dims.
    joined = joins.chained_left_join(
        l,
        [
            (o, F.col("l_orderkey") == F.col("o_orderkey"), False),
            (c, F.col("o_custkey") == F.col("c_custkey"), False),
            (n, F.col("c_nationkey") == F.col("n_nationkey"), True),
            (r, F.col("n_regionkey") == F.col("r_regionkey"), True),
        ],
    )
    return joined.select(
        "l_orderkey",
        "l_linenumber",
        scalars.concat_nonnull(F.col("l_returnflag"), F.col("l_linestatus")).alias(
            "flag_status"
        ),
        "l_extendedprice",
        "o_totalprice",
        "o_orderpriority",
        "c_name",
        F.col("n_name").alias("nation_name"),
        F.col("r_name").alias("region_name"),
    )


# ---------------------------------------------------------------------------
# J2 — update-join (woonplaatsen.gemeente_id ← gemeente_woonplaatsen)
# reference database_sqlite.py:79-85
# ---------------------------------------------------------------------------

@register(
    "j2_update_join",
    """
    SELECT c.c_custkey, c.c_name,
           CASE WHEN n.n_nationkey IS NOT NULL THEN n.n_name ELSE '' END
             AS nation_name
    FROM customer c
    LEFT JOIN (SELECT * FROM nation WHERE n_regionkey < 2) n
      ON c.c_nationkey = n.n_nationkey
    """,
    doc="J2: UPDATE-join = left join + overwrite-when-matched (reference "
    "database_sqlite.py:79-85); unmatched rows keep the '' default.",
)
def q_j2(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").withColumn("nation_name", F.lit(""))
    n = _t(spark, sf_dir, "nation").filter(F.col("n_regionkey") < 2).select(
        F.col("n_nationkey").alias("c_nationkey"),
        F.col("n_name").alias("nation_name"),
    )
    updated = joins.update_join(c, n, "c_nationkey")
    return updated.select("c_custkey", "c_name", "nation_name")


# ---------------------------------------------------------------------------
# J6 — coalesce-override update-join (nummer-level woonplaats override)
# reference database_sqlite.py:522-530
# ---------------------------------------------------------------------------

@register(
    "j6_coalesce_override",
    """
    SELECT o.o_orderkey,
           COALESCE(NULLIF(c.c_mktsegment, ''), o.o_orderpriority)
             AS priority_resolved
    FROM orders o
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    """,
    doc="J6/F11: override only when source value non-empty "
    "(reference database_sqlite.py:522-530 `IS NOT ''`).",
)
def q_j6(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    # no broadcast hint: customer is fact-scale — AQE decides (see q_j1)
    return (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"), "left")
        .select(
            "o_orderkey",
            F.coalesce(
                scalars.nullif_empty(F.col("c_mktsegment")), F.col("o_orderpriority")
            ).alias("priority_resolved"),
        )
    )


# ---------------------------------------------------------------------------
# J7/J8 — anti / semi joins (NOT IN / IN probe sets)
# reference database_sqlite.py:649-677
# ---------------------------------------------------------------------------

@register(
    "j7_anti_join",
    """
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE c.c_custkey NOT IN
      (SELECT o_custkey FROM orders WHERE o_totalprice > 200000)
    """,
    doc="J7: customers without (large) orders (reference "
    "database_sqlite.py:649-652 'gemeenten without adressen'). left_anti — "
    "no NULL keys here, so NOT IN semantics coincide.",
)
def q_j7(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000)
    return joins.anti_join(
        c, o, on=F.col("c_custkey") == F.col("o_custkey")
    ).select("c_custkey", "c_name")


@register(
    "j8_semi_join",
    """
    SELECT n.n_nationkey, n.n_name
    FROM nation n
    WHERE n.n_nationkey IN (SELECT DISTINCT c_nationkey FROM customer)
    """,
    doc="J8: DISTINCT-probe semi join (reference database_sqlite.py:651,659).",
)
def q_j8(spark, sf_dir):
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    return joins.semi_join(
        n, c, on=F.col("n_nationkey") == F.col("c_nationkey")
    ).select("n_nationkey", "n_name")


# ---------------------------------------------------------------------------
# W1/S7 — last-write-wins upsert (REPLACE INTO)
# reference database_sqlite.py:98-162
# ---------------------------------------------------------------------------

@register(
    "w1_last_write_wins",
    """
    SELECT user_id, event_type, event_id, value
    FROM (
      SELECT user_id, event_type, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
    doc="W1/S7: REPLACE-INTO upsert as deterministic last-write-wins window "
    "(reference database_sqlite.py:98-162); event_id is the explicit "
    "arrival-order tiebreaker Spark needs in place of insertion order.",
)
def q_w1(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return dedup.last_write_wins(
        e, keys=["user_id", "event_type"], order_by=[F.col("ts"), F.col("event_id")]
    ).select("user_id", "event_type", "event_id", "value")


# ---------------------------------------------------------------------------
# A1 — grouped stats with derived key + any-value column
# reference exporter.py:93-142
# ---------------------------------------------------------------------------

@register(
    "a1_grouped_stats",
    f"""
    SELECT substring(p_brand, 1, 7) AS brand_prefix,
           {agg.exact_avg_sql('p_retailprice', 6)} AS avg_price,
           MIN(p_type) AS any_type,
           COUNT(1) AS aantal
    FROM part
    WHERE p_brand <> ''
    GROUP BY substring(p_brand, 1, 7)
    """,
    doc="A1: postcode4/5/6-style grouped stats (reference exporter.py:93-142):"
    " derived substring key, exact decimal avg, COUNT(1), deterministic "
    "any-value (min) for SQLite's bare-column-in-GROUP-BY.",
)
def q_a1(spark, sf_dir):
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") != "")
    return agg.grouped_stats(
        p,
        group_key=F.substring(F.col("p_brand"), 1, 7),
        key_name="brand_prefix",
        avg_cols={"avg_price": F.col("p_retailprice")},
        any_value_cols={"any_type": F.col("p_type")},
        count_name="aantal",
    ).select("brand_prefix", "avg_price", "any_type", "aantal")


# ---------------------------------------------------------------------------
# A2 — count battery (multi-aggregate single pass)
# reference database_sqlite.py:621-758
# ---------------------------------------------------------------------------

@register(
    "a2_count_battery",
    """
    SELECT COUNT(*) AS n_lineitem,
           COUNT(CASE WHEN l_quantity > 25 THEN 1 END) AS n_bigqty,
           COUNT(DISTINCT l_suppkey) AS n_suppliers,
           COUNT(CASE WHEN l_returnflag = 'R' THEN 1 END) AS n_returned
    FROM lineitem
    """,
    doc="A2: the reference's ~15 COUNT checks (database_sqlite.py:621-758) "
    "fused into ONE scan via conditional aggregation — one job instead of "
    "15 sequential queries.",
)
def q_a2(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    return l.agg(
        F.count(F.lit(1)).alias("n_lineitem"),
        F.count(F.when(F.col("l_quantity") > 25, 1)).alias("n_bigqty"),
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.count(F.when(F.col("l_returnflag") == "R", 1)).alias("n_returned"),
    )


# ---------------------------------------------------------------------------
# A3/O1 — max via ORDER BY DESC LIMIT 1
# reference database_sqlite.py:640-646
# ---------------------------------------------------------------------------

@register(
    "a3_latest_date",
    """
    SELECT CAST(o_orderdate AS DATE) AS latest_orderdate, o_orderkey
    FROM orders
    ORDER BY o_orderdate DESC, o_orderkey DESC
    LIMIT 1
    """,
    doc="A3/O1: latest begindatum via ORDER BY DESC LIMIT 1 (reference "
    "database_sqlite.py:640-646); Spark plans TakeOrderedAndProject.",
)
def q_a3(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return agg.top_k(
        o, [F.col("o_orderdate").desc(), F.col("o_orderkey").desc()], 1
    ).select(F.col("o_orderdate").cast("date").alias("latest_orderdate"), "o_orderkey")


@register(
    "a4_distinct",
    "SELECT DISTINCT c_mktsegment FROM customer",
    doc="A4: DISTINCT projection (reference database_sqlite.py:651,659).",
)
def q_a4(spark, sf_dir):
    return _t(spark, sf_dir, "customer").select("c_mktsegment").distinct()


@register(
    "a5_dedup_scan",
    """
    SELECT n_regionkey, n_nationkey, n_name
    FROM (
      SELECT n_regionkey, n_nationkey, n_name,
             ROW_NUMBER() OVER (PARTITION BY n_regionkey
                                ORDER BY n_nationkey ASC) AS rn
      FROM nation
    ) WHERE rn = 1
    """,
    doc="A5: provincie dedup-while-scanning (reference gemeente_parser.py:35-37)"
    " as deterministic first-per-group.",
)
def q_a5(spark, sf_dir):
    n = _t(spark, sf_dir, "nation")
    return dedup.dedup_exact(n, on=["n_regionkey"], id_col="n_nationkey").select(
        "n_regionkey", "n_nationkey", "n_name"
    )


# ---------------------------------------------------------------------------
# P3/P4/P5 — temporal validity + status predicates
# reference bag_parser.py:15-35
# ---------------------------------------------------------------------------

@register(
    "p3_temporal_filter",
    """
    WITH e AS (
      SELECT event_id, event_type,
             strftime(ts, '%Y-%m-%d') AS begindatum,
             CASE WHEN user_id % 5 = 0 THEN ''
                  ELSE strftime(ts + INTERVAL 180 DAY, '%Y-%m-%d') END
               AS einddatum
      FROM events
    )
    SELECT event_id, event_type, begindatum, einddatum
    FROM e
    WHERE begindatum <= '2024-06-30'
      AND (einddatum = '' OR einddatum >= '2024-06-30')
    """,
    doc="P3/P5: active-record temporal predicate — ISO string compare, empty "
    "einddatum = still valid (reference bag_parser.py:15-31); pushes down "
    "to the scan.",
)
def q_p3(spark, sf_dir):
    e = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("begindatum"),
        F.when(F.col("user_id") % 5 == 0, F.lit("")).otherwise(
            F.date_format(F.col("ts") + F.expr("INTERVAL 180 DAY"), "yyyy-MM-dd")
        ).alias("einddatum"),
    )
    return e.filter(
        scalars.temporal_validity_predicate(
            F.col("begindatum"), F.col("einddatum"), "2024-06-30"
        )
    )


@register(
    "p6_conditional_name",
    """
    SELECT p_partkey,
           CASE WHEN p_brand <> '' THEN p_brand ELSE p_name END AS naam
    FROM part
    """,
    doc="P6: short-vs-long name choice (reference database_sqlite.py:94-97).",
)
def q_p6(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        scalars.choose_name(
            F.col("p_name"), F.col("p_brand"), use_short=True
        ).alias("naam"),
    )


@register(
    "p11_clean_dummies",
    """
    SELECT p_partkey,
           CASE WHEN p_size IN (1) OR p_size > 45 THEN NULL
                ELSE p_size END AS p_size_clean,
           CASE WHEN p_retailprice IN (901.0) THEN NULL
                ELSE p_retailprice END AS price_clean
    FROM part
    """,
    doc="P11: dummy-value nulling (reference database_sqlite.py:542-601 — "
    "bouwjaar 1005/>2040, oppervlakte 999999/1 → NULL).",
)
def q_p11(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        scalars.null_dummy(F.col("p_size"), dummy_values=[1], gt=45).alias(
            "p_size_clean"
        ),
        scalars.null_dummy(F.col("p_retailprice"), dummy_values=[901.0]).alias(
            "price_clean"
        ),
    )


@register(
    "p12_orphan_delete",
    """
    WITH dim AS (SELECT c_custkey FROM customer WHERE c_custkey % 3 <> 0),
         orph AS (SELECT count(*) AS n
                  FROM orders o LEFT JOIN dim d ON o.o_custkey = d.c_custkey
                  WHERE d.c_custkey IS NULL)
    SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus
    FROM orders o
    WHERE (SELECT n FROM orph) >= 10000
       OR o.o_custkey IN (SELECT c_custkey FROM dim)
    """,
    doc="P12: conditional orphan delete (reference database_sqlite.py:"
    "604-612, config.py:48) — orphans are removed only when their count is "
    "below a threshold; a large count means systemic breakage and the table "
    "passes through unchanged. Count = one driver action; both branches "
    "distributed (left_anti count → left_semi keep).",
)
def q_p12(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    dim = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 3 != 0)
        .select("c_custkey")
    )
    kept = joins.conditional_orphan_delete(
        o, dim, on=F.col("o_custkey") == F.col("c_custkey"), threshold=10000
    )
    return kept.select("o_orderkey", "o_custkey", "o_orderstatus")


# ---------------------------------------------------------------------------
# F1/F2/F11 — scalar pack (SQLite quirks made explicit)
# ---------------------------------------------------------------------------

@register(
    "f1_scalar_pack",
    """
    SELECT c_custkey,
           substring(c_name, 1, 5) AS name5,
           c_name || '/' || c_mktsegment AS name_seg,
           NULLIF(c_mktsegment, '') AS seg_nullable,
           CASE WHEN c_name LIKE '%,%' THEN 1 ELSE 0 END AS has_comma
    FROM customer
    """,
    doc="F1 (SQLite SUBSTR(x,0,6) = chars 1..5), F2 concat, F11 NULLIF-empty,"
    " F10 comma detector (reference exporter.py:98, database_sqlite.py:527).",
)
def q_f1(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        scalars.sqlite_substr(F.col("c_name"), 0, 6).alias("name5"),
        F.concat(F.col("c_name"), F.lit("/"), F.col("c_mktsegment")).alias("name_seg"),
        scalars.nullif_empty(F.col("c_mktsegment")).alias("seg_nullable"),
        F.when(scalars.is_multivalue(F.col("c_name")), 1).otherwise(0).alias(
            "has_comma"
        ),
    )


# ---------------------------------------------------------------------------
# F6/F7 — RD ↔ WGS84 polynomial transform (expression-only, no UDF)
# reference bag/rijksdriehoek.py:42-96
# ---------------------------------------------------------------------------

_RD_X = "(80000.0 + (event_id % 997) * 150.0)"
_RD_Y = "(380000.0 + (event_id % 211) * 700.0)"


@register(
    "f6_rd_to_wgs84",
    f"""
    SELECT event_id,
           {_RD_X} AS rd_x,
           {_RD_Y} AS rd_y,
           {rd.rd_to_wgs84_lat_sql(_RD_X, _RD_Y)} AS latitude,
           {rd.rd_to_wgs84_lon_sql(_RD_X, _RD_Y)} AS longitude
    FROM events
    WHERE event_id % 7 = 0
    """,
    doc="F6/U1: RD→WGS84 Schreutelkamp-Strang van Hees polynomial as pure "
    "Column arithmetic (reference rijksdriehoek.py:42-57) — stays in "
    "whole-stage codegen, no UDF; oracle evaluates the identical IEEE "
    "expression tree.",
)
def q_f6(spark, sf_dir):
    e = _t(spark, sf_dir, "events").filter(F.col("event_id") % 7 == 0)
    x = F.lit(80000.0) + (F.col("event_id") % 997) * F.lit(150.0)
    y = F.lit(380000.0) + (F.col("event_id") % 211) * F.lit(700.0)
    return e.select(
        "event_id",
        x.alias("rd_x"),
        y.alias("rd_y"),
        rd.rd_to_wgs84_lat(x, y).alias("latitude"),
        rd.rd_to_wgs84_lon(x, y).alias("longitude"),
    )


_LAT = "(50.8::DOUBLE + (event_id % 271) * 0.01::DOUBLE)"
_LON = "(3.5::DOUBLE + (event_id % 331) * 0.01::DOUBLE)"


@register(
    "f7_wgs84_to_rd",
    f"""
    SELECT event_id,
           {rd.wgs84_to_rd_x_sql(_LAT, _LON)} AS rd_x,
           {rd.wgs84_to_rd_y_sql(_LAT, _LON)} AS rd_y
    FROM events
    WHERE event_id % 11 = 0
    """,
    doc="F7: WGS84→RD inverse polynomial (reference rijksdriehoek.py:60-96).",
)
def q_f7(spark, sf_dir):
    e = _t(spark, sf_dir, "events").filter(F.col("event_id") % 11 == 0)
    lat = F.lit(50.8) + (F.col("event_id") % 271) * F.lit(0.01)
    lon = F.lit(3.5) + (F.col("event_id") % 331) * F.lit(0.01)
    return e.select(
        "event_id",
        rd.wgs84_to_rd_x(lat, lon).alias("rd_x"),
        rd.wgs84_to_rd_y(lat, lon).alias("rd_y"),
    )


# ---------------------------------------------------------------------------
# J4 — explode + join + last-wins overwrite (multi-valued pand_id)
# reference database_sqlite.py:398-437
# ---------------------------------------------------------------------------

@register(
    "j4_explode_join_lastwins",
    """
    SELECT j.l_orderkey, p.p_size AS last_size,
           p.p_retailprice AS last_price
    FROM (SELECT l_orderkey, MAX(l_partkey) AS last_pk
          FROM lineitem GROUP BY l_orderkey) j
    JOIN part p ON p.p_partkey = j.last_pk
    """,
    doc="J4: comma-joined multi-value key → split → explode → join dim → "
    "'only last one remains' overwrite (reference database_sqlite.py:"
    "398-437). Spark path exercises the real explode mechanics with an "
    "explicit ordinal for last-wins; oracle states the net semantics.",
)
def q_j4(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    # reconstruct the reference's comma-packed multi-value column, then undo
    # it through the split/explode path (S4 ↔ F9/F10 round trip)
    packed = l.groupBy("l_orderkey").agg(
        F.array_join(F.sort_array(F.collect_list("l_partkey")), ",").alias(
            "pand_ids"
        )
    )
    exploded = packed.select(
        "l_orderkey",
        F.posexplode(scalars.split_multivalue(F.col("pand_ids"))).alias(
            "ord", "pk"
        ),
    )
    joined = exploded.join(
        F.broadcast(p), exploded["pk"].cast("long") == p["p_partkey"]
    )
    last = dedup.last_write_wins(
        joined, keys=["l_orderkey"], order_by=[F.col("ord")]
    )
    return last.select(
        "l_orderkey",
        F.col("p_size").alias("last_size"),
        F.col("p_retailprice").alias("last_price"),
    )


# ---------------------------------------------------------------------------
# J5 — explode + self-join update (nevenadres propagation)
# reference database_sqlite.py:466-518
# ---------------------------------------------------------------------------

@register(
    "j5_explode_self_join",
    """
    WITH h AS (SELECT o_custkey, MIN(o_orderkey) AS hoofd
               FROM orders GROUP BY o_custkey)
    SELECT o.o_orderkey, h.hoofd AS hoofd_orderkey,
           ho.o_orderdate AS hoofd_orderdate, o.o_totalprice
    FROM orders o
    JOIN h ON o.o_custkey = h.o_custkey
    JOIN orders ho ON ho.o_orderkey = h.hoofd
    WHERE o.o_orderkey <> h.hoofd
    """,
    doc="J5: hoofd/neven self-join propagation (reference database_sqlite"
    ".py:466-518): explode the neven list, join back to the hoofd row, "
    "inherit its attributes and record hoofd_nummer_id.",
)
def q_j5(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    # hoofd row per customer carries the comma-packed neven list (as the
    # reference's nevenadressen column does); explode → (hoofd, neven) pairs
    packed = o.groupBy("o_custkey").agg(
        F.min("o_orderkey").alias("hoofd"),
        F.array_join(F.sort_array(F.collect_list("o_orderkey")), ",").alias(
            "nevenadressen"
        ),
    )
    pairs = (
        packed.select(
            "hoofd",
            F.explode(scalars.split_multivalue(F.col("nevenadressen"))).alias(
                "neven_s"
            ),
        )
        .withColumn("neven", F.col("neven_s").cast("long"))
        .filter(F.col("neven") != F.col("hoofd"))
    )
    h = o.select(
        F.col("o_orderkey").alias("hoofd"),
        F.col("o_orderdate").alias("hoofd_orderdate"),
    )
    n = o.select("o_orderkey", "o_totalprice")
    return (
        pairs.join(h, on="hoofd")
        .join(n, pairs["neven"] == n["o_orderkey"])
        .select(
            "o_orderkey",
            F.col("hoofd").alias("hoofd_orderkey"),
            "hoofd_orderdate",
            "o_totalprice",
        )
    )


# ---------------------------------------------------------------------------
# J3 — ligplaats/standplaats overlay (coordinate + geometry + object_type
# overwrite on matching nummer_id)  reference database_sqlite.py:440-464
# ---------------------------------------------------------------------------

@register(
    "j3_plaats_overlay",
    """
    WITH adressen AS (
      SELECT CAST(c_custkey AS VARCHAR) AS nummer_id,
             CAST(c_custkey % 1000 AS DOUBLE) AS rd_x,
             CAST(c_custkey % 500 AS DOUBLE) AS rd_y,
             52.0::DOUBLE AS latitude, 4.0::DOUBLE AS longitude,
             '[base]' AS geometry, 'verblijfsobject' AS object_type
      FROM customer
    ),
    plaatsen AS (
      SELECT CAST(o_custkey AS VARCHAR) AS nummer_id,
             CAST(o_orderkey AS DOUBLE) AS rd_x,
             CAST(o_orderkey % 100 AS DOUBLE) AS rd_y,
             53.0::DOUBLE AS latitude, 5.0::DOUBLE AS longitude,
             '[plaats]' AS geometry
      FROM orders WHERE o_orderkey % 10 = 0
    ),
    winner AS (
      SELECT nummer_id, rd_x, rd_y, latitude, longitude, geometry FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY nummer_id
                                     ORDER BY rd_x DESC) AS rn
        FROM plaatsen
      ) WHERE rn = 1
    )
    SELECT a.nummer_id,
           CASE WHEN w.nummer_id IS NOT NULL THEN w.rd_x ELSE a.rd_x END
             AS rd_x,
           CASE WHEN w.nummer_id IS NOT NULL THEN w.rd_y ELSE a.rd_y END
             AS rd_y,
           CASE WHEN w.nummer_id IS NOT NULL THEN w.latitude
                ELSE a.latitude END AS latitude,
           CASE WHEN w.nummer_id IS NOT NULL THEN w.longitude
                ELSE a.longitude END AS longitude,
           CASE WHEN w.nummer_id IS NOT NULL THEN w.geometry
                ELSE a.geometry END AS geometry,
           CASE WHEN w.nummer_id IS NOT NULL THEN 'ligplaats'
                ELSE a.object_type END AS object_type
    FROM adressen a LEFT JOIN winner w ON a.nummer_id = w.nummer_id
    """,
    doc="J3: ligplaats/standplaats overlay (reference database_sqlite.py:"
    "440-464) — plaats rows dedupe last-write-wins per nummer_id, then "
    "coordinates + geometry + object_type overwrite matching adressen; "
    "unmatched rows pass through. Same apply_plaats_overlay used by the "
    "full BAG pipeline (plans/bag_pipeline.py), mapped onto the synthetic "
    "tables: customer = adressen, filtered orders = plaatsen (o_orderkey "
    "as the deterministic last-wins order).",
)
def q_j3(spark, sf_dir):
    from bag_parser_spark.plans.bag_pipeline import apply_plaats_overlay

    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    adressen = c.select(
        F.col("c_custkey").cast("string").alias("nummer_id"),
        (F.col("c_custkey") % 1000).cast("double").alias("rd_x"),
        (F.col("c_custkey") % 500).cast("double").alias("rd_y"),
        F.lit(52.0).alias("latitude"),
        F.lit(4.0).alias("longitude"),
        F.lit("[base]").alias("geometry"),
        F.lit("verblijfsobject").alias("object_type"),
    )
    plaatsen = o.filter(F.col("o_orderkey") % 10 == 0).select(
        F.col("o_custkey").cast("string").alias("nummer_id"),
        F.col("o_orderkey").cast("double").alias("rd_x"),
        (F.col("o_orderkey") % 100).cast("double").alias("rd_y"),
        F.lit(53.0).alias("latitude"),
        F.lit(5.0).alias("longitude"),
        F.lit("[plaats]").alias("geometry"),
    )
    return apply_plaats_overlay(adressen, plaatsen, "ligplaats").select(
        "nummer_id", "rd_x", "rd_y", "latitude", "longitude",
        "geometry", "object_type",
    )


# ---------------------------------------------------------------------------
# F5 — BAG date parse (length-gated timestamp string → DATE)
# reference utils.py:162-166
# ---------------------------------------------------------------------------

@register(
    "f5_bag_date_parse",
    """
    WITH s AS (
      SELECT event_id,
             CASE WHEN event_id % 3 = 0 THEN strftime(ts, '%Y-%m-%d')
                  ELSE strftime(ts, '%Y-%m-%dT%H:%M:%S') END AS bag_datum
      FROM events WHERE event_id % 9 = 0
    )
    SELECT event_id, bag_datum,
           CASE WHEN length(bag_datum) >= 16
                THEN CAST(CAST(substring(bag_datum, 1, 10) AS DATE)
                          AS VARCHAR) END AS parsed_date
    FROM s
    """,
    doc="F5: BAG date parse (reference utils.py:162-166 bag_date_to_date): "
    "only full timestamp strings (len >= 16) parse — the y/m/d prefix "
    "becomes a DATE, time-of-day dropped; shorter strings yield NULL. "
    "Oracle compares the ISO string form of the parsed date (CAST both "
    "sides) so the null-mixed date column hashes engine-stably; the DATE "
    "dtype surface itself is covered by a3_latest_date.",
)
def q_f5(spark, sf_dir):
    e = _t(spark, sf_dir, "events").filter(F.col("event_id") % 9 == 0)
    s = e.select(
        "event_id",
        F.when(
            F.col("event_id") % 3 == 0, F.date_format("ts", "yyyy-MM-dd")
        ).otherwise(
            F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss")
        ).alias("bag_datum"),
    )
    return s.select(
        "event_id",
        "bag_datum",
        scalars.parse_bag_datum(F.col("bag_datum"))
        .cast("string")
        .alias("parsed_date"),
    )


# ---------------------------------------------------------------------------
# P7/P8/P9 — geometry string round trip + F6 on parsed coords
# reference bag_parser.py:100-164, utils.py:196-198
# ---------------------------------------------------------------------------

@register(
    "p7_geometry_roundtrip",
    f"""
    WITH g AS (
      SELECT event_id,
             CAST(80000 + (event_id % 997) * 150 AS VARCHAR) || ' ' ||
             CAST(380000 + (event_id % 211) * 700 AS VARCHAR) || ' 0.0'
               AS pos
      FROM events WHERE event_id % 13 = 0
    )
    SELECT event_id, '[' || pos || ']' AS geometry,
           CAST(string_split(pos, ' ')[1] AS DOUBLE) AS rd_x,
           CAST(string_split(pos, ' ')[2] AS DOUBLE) AS rd_y,
           {rd.rd_to_wgs84_lat_sql(
        "CAST(string_split(pos, ' ')[1] AS DOUBLE)",
        "CAST(string_split(pos, ' ')[2] AS DOUBLE)")} AS latitude
    FROM g
    """,
    doc="P7/P8/P9/U3: posList string → bracket-wrapped geometry (reference "
    "bag_parser.py:100-101), first-point split → (rd_x, rd_y) doubles "
    "(utils.py:196-198), then F6 to latitude — the coordinate derivation "
    "path of bag_parser.py:146-164 as one projection.",
)
def q_p7(spark, sf_dir):
    e = _t(spark, sf_dir, "events").filter(F.col("event_id") % 13 == 0)
    pos = F.concat_ws(
        " ",
        (F.lit(80000) + (F.col("event_id") % 997) * 150).cast("string"),
        (F.lit(380000) + (F.col("event_id") % 211) * 700).cast("string"),
        F.lit("0.0"),
    )
    g = e.select("event_id", pos.alias("pos"))
    x, y = scalars.pos_to_rd(F.col("pos"))
    return g.select(
        "event_id",
        scalars.bracket_wrap(F.col("pos")).alias("geometry"),
        x.alias("rd_x"),
        y.alias("rd_y"),
        rd.rd_to_wgs84_lat(x, y).alias("latitude"),
    )


# ---------------------------------------------------------------------------
# F8/U2 — full geometry → WGS84 nested rings (the geometry-enabled path)
# reference utils.py:172-193
# ---------------------------------------------------------------------------

_G_X1 = "(80000 + (event_id % 997) * 150)"
_G_Y1 = "(380000 + (event_id % 211) * 700)"


def _f8_oracle_sql() -> str:
    geom = (
        f"'[' || CAST({_G_X1} AS VARCHAR) || ' ' || CAST({_G_Y1} AS VARCHAR)"
        f" || ' 0.0 ' || CAST({_G_X1} + 10 AS VARCHAR) || ' ' ||"
        f" CAST({_G_Y1} + 10 AS VARCHAR) || ' 0.0],[' ||"
        f" CAST({_G_X1} + 100 AS VARCHAR) || ' ' ||"
        f" CAST({_G_Y1} - 50 AS VARCHAR) || ' 0.0]'"
    )
    lon = rd.rd_to_wgs84_lon_sql("x", "y")
    lat = rd.rd_to_wgs84_lat_sql("x", "y")
    return f"""
    WITH g AS (
      SELECT event_id, {geom} AS geom
      FROM events WHERE event_id % 17 = 0
    ),
    rings AS (
      SELECT event_id, rn AS ring_no,
             string_split_regex(trim(regexp_replace(
               string_split(geom, ',')[rn], '^\\[|\\]$', '')), '\\s+') AS nums
      FROM g CROSS JOIN (VALUES (1), (2)) v(rn)
    ),
    pts AS (
      SELECT event_id, ring_no, p,
             CAST(nums[(p - 1) * 3 + 1] AS DOUBLE) AS x,
             CAST(nums[(p - 1) * 3 + 2] AS DOUBLE) AS y
      FROM rings CROSS JOIN (VALUES (1), (2)) w(p)
      WHERE p <= len(nums) / 3
    )
    SELECT event_id, ring_no, p AS point_no,
           {lon} AS lon, {lat} AS lat
    FROM pts
    """


@register(
    "f8_geometry_rings",
    _f8_oracle_sql(),
    doc="F8/U2: full multi-ring geometry string -> WGS84 rings (reference "
    "utils.py:172-193; 3D posList, z dropped, [lon,lat] order). The nested "
    "array<array<array<double>>> form (geometry_to_wgs_rings) is the "
    "engine-internal representation and the GeoJSON string "
    "(geometry_to_wgs_geojson, reference utils.py:193 json.dumps) the "
    "export form; the oracle row is the rings EXPLODED to flat "
    "(event_id, ring_no, point_no, lon, lat) rows so both engines hash "
    "raw doubles — nested-list cells crash the driver canonicalization "
    "and cross-engine JSON float formatting is not byte-stable. Map-only "
    "projection + generators — no UDF, no shuffle.",
)
def q_f8(spark, sf_dir):
    from bag_parser_spark.functions import geometry as geo

    e = _t(spark, sf_dir, "events").filter(F.col("event_id") % 17 == 0)
    x1 = (F.lit(80000) + (F.col("event_id") % 997) * 150).cast("long")
    y1 = (F.lit(380000) + (F.col("event_id") % 211) * 700).cast("long")
    geom = F.concat(
        F.lit("["),
        x1.cast("string"), F.lit(" "), y1.cast("string"), F.lit(" 0.0 "),
        (x1 + 10).cast("string"), F.lit(" "), (y1 + 10).cast("string"),
        F.lit(" 0.0],["),
        (x1 + 100).cast("string"), F.lit(" "), (y1 - 50).cast("string"),
        F.lit(" 0.0]"),
    )
    rings = e.select(
        "event_id",
        geo.geometry_to_wgs_rings(geom, is_3d=True).alias("rings"),
    )
    return (
        rings.select(
            "event_id",
            F.posexplode("rings").alias("__ri__", "__ring__"),
        )
        .select(
            "event_id",
            (F.col("__ri__") + 1).alias("ring_no"),
            F.posexplode("__ring__").alias("__pi__", "__pt__"),
        )
        .select(
            "event_id",
            "ring_no",
            (F.col("__pi__") + 1).alias("point_no"),
            F.col("__pt__")[0].alias("lon"),
            F.col("__pt__")[1].alias("lat"),
        )
    )


# ---------------------------------------------------------------------------
# public API used by __spark_entry__
# ---------------------------------------------------------------------------

# Driver-verification priority. The correctness driver samples the catalog in
# dict order with a bounded budget (every round so far recorded exactly the
# first 50 keys), so the order is re-rotated each round. r12 rotation
# (VERDICT r11 #2/#5; cohort from `scripts/rotation_audit.py
# --stale-after 4 --current-round 12`: 20 names at r7 greens, 48 at
# r8): the window leads with every query whose OPERATOR was rewritten
# in the r12 optimization pass (the guarded fan-out in the similarity/
# multimodal/text/sampling substrates, the pagerank iteration
# restructure, the Bloom bitmap guard — a stale green row is not
# evidence for new executing code), which by construction also covers
# the five r11 rewrites the r11 driver window never sampled
# (decontaminate_bloom, ml_pagerank_converged, dedup_simhash,
# sample_dsir, sim_ivfpq_topk — VERDICT r11 #5), then the two callers
# of the rewritten update_join (j2_update_join, j3_plaats_overlay). The
# remaining slots take 8 of the r7-stale cohort (oldest evidence; the 7
# deferred — a4_distinct, a5_dedup_scan, p6_conditional_name,
# p7_geometry_roundtrip, w3_rank_battery, url_domain_cap,
# url_canonicalize — plus url_canonical_dedup and url_domain_stats
# re-queue for r13, all from
# families still holding a window slot), plus the four r8-stale names
# that keep every operator family represented in the first 50
# (events_sessionize, f15_string_pack, j10_salted_skew_join,
# vocab_build). Queries not listed follow in registration order —
# nothing is dropped.
_DRIVER_PRIORITY: tuple[str, ...] = (
    # — r12 operator rewrites (36): pagerank restructure —
    "ml_pagerank_converged",
    # minhash signature substrate (binary minima aggregate) —
    "dedup_minhash_lsh", "dedup_verified_pairs", "dedup_incremental",
    "dedup_clusters", "dedup_lsh_recall", "split_leakage_safe",
    # sampling / bloom (also the r11-unsampled rewrites) —
    "sample_dsir", "decontaminate_bloom",
    # dedup / similarity fan-out + Bloom/simhash substrate —
    "dedup_simhash", "dedup_semantic", "dedup_embedding_cosine",
    "sim_hard_negatives", "sim_ivf_topk", "sim_ivf_filtered_topk",
    "sim_ivfpq_topk", "sim_ivfpq_recall", "sim_pq_encode",
    "sim_pq_recall", "sim_pq_adc_topk", "sim_pq_adc_batch",
    # multimodal payload-generator fan-out —
    "mm_image_neardup", "mm_image_ahash", "mm_image_features",
    "mm_jpeg_features", "mm_audio_features", "mm_frame_sample",
    "mm_resize",
    # text-operator fan-out (hash_classifier also backs the ml evals) —
    "text_main_content", "text_quality_metrics", "text_gopher_rules",
    "text_gopher_summary", "text_hash_classifier", "ml_auc_ranked",
    "ml_eval_calibration", "ml_eval_confusion",
    # — update-join rewrite: both callers of the one update_join —
    "j2_update_join", "j3_plaats_overlay",
    # — r7-stale cohort (oldest greens; 8 of the non-rewritten names) —
    "a3_latest_date", "j5_explode_self_join",
    "j6_coalesce_override", "j8_semi_join", "text_pii_redact",
    "tpch_q7_volume_shipping", "ts_window_battery",
    "url_blocklist_filter",
    # — r8-stale family-coverage fills —
    "events_sessionize", "f15_string_pack", "j10_salted_skew_join",
    "vocab_build",
)

# Queries REWRITTEN since their last green driver CORRECTNESS row: a stale
# green is not evidence for new code (ADVICE r4), so the ordering-contract
# test forces these into the driver window alongside never-validated names.
# Maintained by hand: add a name here when materially changing its query or
# operator; remove it once a NEWER driver round records a green row.
# (r11's entries — web_crawl_frontier, mm_image_neardup — got green r11
# rows post-rewrite and dropped off; mm_image_neardup re-enters for its
# r12 generator fan-out.)
_REWRITTEN_SINCE_DRIVER_ROW: tuple[str, ...] = (
    # r12 pagerank iteration restructure (pre-joined edge table, carried
    # dangling flag, uncut final iteration — plan changed, values pinned
    # by the unrolled-CTE oracle)
    "ml_pagerank_converged",
    # r12 guarded fan-out in the operator substrate: the locally
    # executing plan gains the scale-guarded repartition (sampling
    # _hashed_ngram_feats; similarity assignment/pair paths; multimodal
    # payload generators; text block/token scorers)
    "sample_dsir", "dedup_simhash", "dedup_semantic",
    "dedup_embedding_cosine", "sim_hard_negatives", "sim_ivf_topk",
    "sim_ivf_filtered_topk", "sim_ivfpq_topk", "sim_ivfpq_recall",
    "sim_pq_encode", "sim_pq_recall", "sim_pq_adc_topk",
    "sim_pq_adc_batch", "mm_image_neardup", "mm_image_ahash",
    "mm_image_features", "mm_jpeg_features", "mm_audio_features",
    "mm_frame_sample", "mm_resize", "text_main_content",
    "text_quality_metrics", "text_gopher_rules", "text_gopher_summary",
    "text_hash_classifier", "ml_auc_ranked", "ml_eval_calibration",
    "ml_eval_confusion",
    # r12 Bloom bitmap guard (literal <= 2^20, broadcast relation above)
    # — decontaminate_bloom's m=65536 plan is byte-identical, but the
    # operator is new code and its r10 green predates even the r11
    # single-pass rewrite (VERDICT r11 #5)
    "decontaminate_bloom",
    # r12 minhash signature aggregate: 16-byte binary minima, hex
    # restored per doc — outputs byte-identical (oracle + pairwise
    # probe), executing aggregate is new code
    "dedup_minhash_lsh", "dedup_verified_pairs", "dedup_incremental",
    "dedup_clusters", "dedup_lsh_recall", "split_leakage_safe",
    # update_join(target, source, key) replaces the set_cols form: j2
    # builds its source named after the target columns; j3 runs the
    # plaats overlay that now goes through it (plans changed, rows equal)
    "j2_update_join", "j3_plaats_overlay",
)


def _ordered_names() -> list[str]:
    prioritized = [n for n in _DRIVER_PRIORITY if n in _REGISTRY]
    seen = set(prioritized)
    return prioritized + [n for n in _REGISTRY if n not in seen]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _load_extensions()
    return {name: _REGISTRY[name].fn for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    _load_extensions()
    return {
        name: _REGISTRY[name].sql
        for name in _ordered_names()
        if _REGISTRY[name].sql is not None
    }


def _load_extensions() -> None:
    # registers the extension queries into _REGISTRY on first use
    from bag_parser_spark.plans import (  # noqa: F401
        catalog_agg,
        catalog_corpus,
        catalog_ext,
        catalog_scale,
        catalog_tpch,
        catalog_ts,
        catalog_web,
    )
