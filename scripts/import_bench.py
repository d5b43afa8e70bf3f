#!/usr/bin/env python
"""Import-path benchmark: scaled synthetic BAG delivery → full import_bag.

The reference's headline number is the ~6-minute full import of the real
BAG (reference readme.MD:86-88): ~9.5M addresses in ~360 s ≈ 26k
addresses/s single-node (parse_geometries=False, active_only=True). The
query-catalog bench (bench.py) never exercises that path, so this script
times it end to end on a deterministic generator-scaled fixture shaped
like the real delivery: per-entity zips of multi-object XML members, an
inactive-record fraction for the status filter, and the full pipeline —
zip extraction → XML parse → dedup/upsert → enrichment → adressen build →
cleaning → parquet sinks (the transaction-commit twin of the reference's
SQLite writes).

Fixture shape per N addresses (seed-free — fully index-derived, so the
same N always produces byte-identical XML): N nummeraanduidingen, N
verblijfsobjecten (1:1 hoofdadres), N panden (1:1), N/50 openbare
ruimten, N/2000 woonplaatsen+gemeenten (+GWR rows), N/500 ligplaatsen
and standplaatsen with their own nummers, and ~10% extra INACTIVE
num/vbo records that the P4/P5 status filter must drop. Members are
split across several XML files because the scan parallelizes per file —
mirroring the real delivery's many-member layout, not an artificial
single-blob worst case.

Usage:
    python scripts/import_bench.py [N_ADDRESSES [REPS]]  # default 50_000, 2
Prints one JSON line: {"metric": "import_bag", "n_addresses": ...,
"value": sec, "unit": "sec", "addresses_per_sec": ..., "rows": {...}}.
bench.py embeds the same measurement as its "import" field.
"""

from __future__ import annotations

import json
import os
import sys
import time
import zipfile

OBJ_NS = (
    ' xmlns:Objecten="www.kadaster.nl/schemas/lvbag/imbag/objecten/v20200601"'
    ' xmlns:Objecten-ref="www.kadaster.nl/schemas/lvbag/imbag/objecten-ref/v20200601"'
    ' xmlns:Historie="www.kadaster.nl/schemas/lvbag/imbag/historie/v20200601"'
    ' xmlns:nen5825="www.kadaster.nl/schemas/lvbag/imbag/nen5825/v20200601"'
    ' xmlns:gml="http://www.opengis.net/gml/3.2"'
)
GWR_NS = (
    ' xmlns:gwr="www.kadaster.nl/schemas/lvbag/gem-wpl-rel/gwr-producten-lvc/v20200601"'
    ' xmlns:bagtypes="www.kadaster.nl/schemas/lvbag/gem-wpl-rel/bag-types/v20200601"'
)
HIST = "<Historie:beginGeldigheid>2010-01-01</Historie:beginGeldigheid>"
# expired before any plausible snapshot date → dropped by the P3/P5 filter
HIST_DEAD = (
    HIST + "<Historie:eindGeldigheid>2015-01-01</Historie:eindGeldigheid>"
)
SNAPSHOT = "2026-01-01"


def _doc(ns: str, parts: list[str]) -> str:
    return (
        '<?xml version="1.0" encoding="UTF-8"?>\n<root'
        + ns + ">" + "".join(parts) + "</root>"
    )


def _zip_members(
    root: str, code: str, docs: list[str], members_per_zip: int = 4
) -> None:
    """Write ``docs`` as XML members spread over several ``{code}-pNN.zip``
    archives (the scan parallelizes per binary file)."""
    for z in range(0, len(docs), members_per_zip):
        zpath = os.path.join(root, f"{code}-p{z // members_per_zip:03d}.zip")
        with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as zf:
            for i, doc in enumerate(docs[z : z + members_per_zip]):
                zf.writestr(f"{code}{z + i:04d}.xml", doc)


def generate_fixture(
    root: str,
    n_addresses: int,
    objects_per_file: int = 5000,
    layout: str = "zips",
) -> None:
    """``layout="zips"`` mirrors the real delivery (per-entity zip
    archives); ``layout="plain"`` writes the same members as loose .xml
    files — the post-extract layout the XML scan reads in place.

    Cyclic GC is suspended for the duration (restored in the finally):
    the builder holds tens of millions of live strings at reference
    scale (9.6M addresses ≈ 30M records ≈ 20 GB), and CPython's gen2
    collections rescan the big record lists over and over — the r10
    9.6M generation spent most of its ~55 min there. The function
    allocates only strings and flat lists: no reference cycles exist
    for the collector to find."""
    import gc

    gc_was_enabled = gc.isenabled()
    gc.disable()
    try:
        _generate_fixture_inner(root, n_addresses, objects_per_file, layout)
    finally:
        if gc_was_enabled:
            gc.enable()


def _generate_fixture_inner(
    root: str,
    n_addresses: int,
    objects_per_file: int,
    layout: str,
) -> None:
    os.makedirs(root, exist_ok=True)
    n = n_addresses
    n_wpl = max(2, n // 2000)
    n_opr = max(2, n // 50)
    n_lig = n // 500
    n_sta = n // 500

    def batched(recs: list[str], ns: str = OBJ_NS) -> list[str]:
        return [
            _doc(ns, recs[i : i + objects_per_file])
            for i in range(0, len(recs), objects_per_file)
        ]

    wpl = [
        (
            f"<Objecten:Woonplaats><Objecten:identificatie>{1000 + k}"
            "</Objecten:identificatie>"
            f"<Objecten:naam>Plaats {k}</Objecten:naam>"
            "<Objecten:status>Woonplaats aangewezen</Objecten:status>"
            + HIST + "</Objecten:Woonplaats>"
        )
        for k in range(n_wpl)
    ]
    gwr = [
        (
            "<gwr:GemeenteWoonplaatsRelatie>"
            "<bagtypes:begindatumTijdvakGeldigheid>2010-01-01"
            "</bagtypes:begindatumTijdvakGeldigheid>"
            f"<gwr:gerelateerdeWoonplaats><gwr:identificatie>{1000 + k}"
            "</gwr:identificatie></gwr:gerelateerdeWoonplaats>"
            f"<gwr:gerelateerdeGemeente><gwr:identificatie>{100 + k}"
            "</gwr:identificatie></gwr:gerelateerdeGemeente>"
            "<gwr:status>definitief</gwr:status>"
            "</gwr:GemeenteWoonplaatsRelatie>"
        )
        for k in range(n_wpl)
    ]
    opr = [
        (
            f"<Objecten:OpenbareRuimte><Objecten:identificatie>OR{j:08d}"
            "</Objecten:identificatie>"
            f"<Objecten:naam>Teststraat {j}</Objecten:naam>"
            "<Objecten:type>Weg</Objecten:type>"
            "<Objecten:status>Naamgeving uitgegeven</Objecten:status>"
            f"<Objecten-ref:WoonplaatsRef>{1000 + j % n_wpl}"
            "</Objecten-ref:WoonplaatsRef>"
            + HIST + "</Objecten:OpenbareRuimte>"
        )
        for j in range(n_opr)
    ]

    def num_rec(ident: str, i: int, hist: str) -> str:
        return (
            f"<Objecten:Nummeraanduiding><Objecten:identificatie>{ident}"
            "</Objecten:identificatie>"
            f"<Objecten:postcode>{1000 + i % 8999:04d}"
            f"{'ABCDEFGHJKLMNPRSTVWXZ'[i % 21]}"
            f"{'ABCDEFGHJKLMNPRSTVWXZ'[(i // 21) % 21]}</Objecten:postcode>"
            f"<Objecten:huisnummer>{i % 400 + 1}</Objecten:huisnummer>"
            "<Objecten:status>Naamgeving uitgegeven</Objecten:status>"
            f"<Objecten-ref:OpenbareRuimteRef>OR{i % n_opr:08d}"
            "</Objecten-ref:OpenbareRuimteRef>"
            + hist + "</Objecten:Nummeraanduiding>"
        )

    def vbo_rec(ident: str, num_ref: str, i: int, hist: str) -> str:
        # every 7th VBO gets nevenadres refs (two on every 21st) so the
        # repeated-parent-tag comma-join path (S3+S4) carries real volume
        neven = ""
        if i % 7 == 0 and n > 1:
            for k in range(2 if i % 21 == 0 else 1):
                neven += (
                    "<Objecten:heeftAlsNevenadres>"
                    "<Objecten-ref:NummeraanduidingRef>"
                    f"NUM{(i + k + 1) % n:09d}"
                    "</Objecten-ref:NummeraanduidingRef>"
                    "</Objecten:heeftAlsNevenadres>"
                )
        return (
            f"<Objecten:Verblijfsobject><Objecten:identificatie>{ident}"
            "</Objecten:identificatie>"
            "<Objecten:heeftAlsHoofdadres><Objecten-ref:NummeraanduidingRef>"
            f"{num_ref}</Objecten-ref:NummeraanduidingRef>"
            "</Objecten:heeftAlsHoofdadres>" + neven +
            f"<gml:pos>{120000 + (i * 37) % 140000}.0 "
            f"{450000 + (i * 53) % 160000}.0</gml:pos>"
            "<Objecten:gebruiksdoel>woonfunctie</Objecten:gebruiksdoel>"
            f"<Objecten:oppervlakte>{40 + i % 360}</Objecten:oppervlakte>"
            f"<Objecten-ref:PandRef>PND{i:09d}</Objecten-ref:PandRef>"
            "<Objecten:status>Verblijfsobject in gebruik</Objecten:status>"
            + hist + "</Objecten:Verblijfsobject>"
        )

    nums = [num_rec(f"NUM{i:09d}", i, HIST) for i in range(n)]
    vbos = [
        vbo_rec(f"VBO{i:09d}", f"NUM{i:09d}", i, HIST) for i in range(n)
    ]
    # ~10% inactive records: expired validity — the scan-time filter must
    # drop them before any shuffle (same ids re-used on purpose: the
    # active record wins, exercising last-write-wins too)
    for i in range(0, n, 10):
        nums.append(num_rec(f"NUM{i:09d}", i, HIST_DEAD))
        vbos.append(vbo_rec(f"VBO{i:09d}", f"NUM{i:09d}", i, HIST_DEAD))
    pnd = [
        (
            f"<Objecten:Pand><Objecten:identificatie>PND{i:09d}"
            "</Objecten:identificatie>"
            f"<Objecten:oorspronkelijkBouwjaar>{1900 + i % 120}"
            "</Objecten:oorspronkelijkBouwjaar>"
            "<Objecten:status>Pand in gebruik</Objecten:status>"
            + HIST + "</Objecten:Pand>"
        )
        for i in range(n)
    ]
    lig = [
        (
            f"<Objecten:Ligplaats><Objecten:identificatie>LIG{i:09d}"
            "</Objecten:identificatie>"
            "<Objecten:heeftAlsHoofdadres><Objecten-ref:NummeraanduidingRef>"
            f"NUML{i:08d}</Objecten-ref:NummeraanduidingRef>"
            "</Objecten:heeftAlsHoofdadres>"
            "<gml:posList>120000.0 450000.0 120010.0 450000.0 "
            "120010.0 450010.0 120000.0 450000.0</gml:posList>"
            "<Objecten:status>Plaats aangewezen</Objecten:status>"
            + HIST + "</Objecten:Ligplaats>"
        )
        for i in range(n_lig)
    ]
    sta = [
        lig[i]
        .replace("Ligplaats>", "Standplaats>")
        .replace(f"LIG{i:09d}", f"STA{i:09d}")
        .replace(f"NUML{i:08d}", f"NUMS{i:08d}")
        for i in range(n_sta)
    ]
    # the lig/sta nummers ride in the NUM files
    for i in range(n_lig):
        nums.append(num_rec(f"NUML{i:08d}", n + i, HIST))
    for i in range(n_sta):
        nums.append(num_rec(f"NUMS{i:08d}", n + n_lig + i, HIST))

    if layout == "plain":
        def emit(code: str, docs: list[str]) -> None:
            for i, doc in enumerate(docs):
                with open(
                    os.path.join(root, f"{code}{i:04d}.xml"),
                    "w", encoding="utf-8",
                ) as f:
                    f.write(doc)
    elif layout == "zips":
        emit = lambda code, docs: _zip_members(root, code, docs)
    else:
        raise ValueError(f"unknown layout {layout!r}")
    emit("9999WPL", batched(wpl))
    emit("GEM-WPL-RELATIE", batched(gwr, GWR_NS))
    emit("9999OPR", batched(opr))
    emit("9999NUM", batched(nums))
    emit("9999VBO", batched(vbos))
    emit("9999PND", batched(pnd))
    emit("9999LIG", batched(lig))
    emit("9999STA", batched(sta))

    with open(os.path.join(root, "gemeenten.csv"), "w", encoding="utf-8") as f:
        f.write(
            "Gemeentecode,GemeentecodeGM,Gemeentenaam,Provinciecode,"
            "ProvinciecodePV,Provincienaam\n"
        )
        for k in range(n_wpl):
            f.write(
                f"{100 + k},GM{100 + k:04d},Gemeente {k},"
                f"{20 + k % 12},PV{20 + k % 12},Provincie {k % 12}\n"
            )


def _median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    m = n // 2
    return s[m] if n % 2 else (s[m - 1] + s[m]) / 2.0


def run_import_bench(
    spark,
    n_addresses: int,
    work_dir: str,
    reps: int = 2,
) -> dict:
    """Generate (untimed) then time the full import ``reps`` times;
    returns the metric dict with min + median + raw runs (single-run
    import numbers inherit full environment variance — the r5→r6 record
    showed a 1.7x swing on byte-identical code, VERDICT r6 #2/#3; the
    same >=2-rep min/median protocol bench.py uses for queries applies
    here). ``value``/``addresses_per_sec`` report the MIN run (the
    stable estimator); ``value_median`` exposes variance.

    ``addresses`` counts the adressen table the import produced — the
    same unit as the reference's 9.5M/360 s. The fixture is the zipped
    delivery layout, so every rep times the extraction too — the same
    stage split as the reference, whose 6-minute number also starts from
    the delivery zip. Each rep imports into a FRESH out_dir (removed
    between reps) so no parquet commit or cache from one rep shortcuts
    the next."""
    import shutil

    from bag_parser_spark.config import EngineConfig
    from bag_parser_spark.plans.bag_job import import_bag

    fixture = os.path.join(work_dir, f"bag_{n_addresses}_zips")
    if not os.path.isdir(fixture):
        generate_fixture(fixture, n_addresses)
    cfg = EngineConfig(active_only=True, snapshot_date=SNAPSHOT,
                       parse_geometries=False)
    times: list[float] = []
    rows: dict[str, int] = {}
    n_adressen = 0
    for rep in range(max(1, reps)):
        out_dir = os.path.join(work_dir, f"imported_{rep}")
        t0 = time.perf_counter()
        tables = import_bag(
            spark, fixture, os.path.join(fixture, "gemeenten.csv"),
            out_dir=out_dir, cfg=cfg,
        )
        n_adressen = tables["adressen"].count()
        times.append(round(time.perf_counter() - t0, 3))
        rows = {
            t: tables[t].count()
            for t in ("nummers", "verblijfsobjecten", "panden", "adressen")
        }
        shutil.rmtree(out_dir, ignore_errors=True)
    best = min(times)
    return {
        "metric": "import_bag",
        "n_addresses": n_adressen,
        "value": best,
        "value_median": round(_median(times), 3),
        "runs": times,
        "unit": "sec",
        "addresses_per_sec": round(n_adressen / best),
        "rows": rows,
    }


def main() -> int:
    import shutil
    import tempfile

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from bag_parser_spark.session import get_spark

    n = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    spark = get_spark(app_name="bag-import-bench")
    work = tempfile.mkdtemp(prefix="bag_import_bench_")
    try:
        print(json.dumps(run_import_bench(spark, n, work, reps)))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
