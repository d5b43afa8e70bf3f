"""Seeded input generators for the benchmark, run untimed and cached.

Three inputs, all owned here so that later edits to ``scripts/`` or the
test fixtures cannot shift what the benchmark measures:

* a zipped BAG delivery, adapted from ``scripts/import_bench.py``: per-entity
  zip archives of multi-object XML members, ~10% expired duplicates that the
  active filter must drop, ligplaatsen/standplaatsen with their own nummers;
* the catalog tables (TPC-H-like star schema plus ``events``, ``documents``
  and ``embeddings``) with the column names and types the catalog queries
  read;
* a WARC crawl of HTML pages with planted casualties for ``prepare``.

For the delivery and the crawl, the seed permutes record and member order
and draws every free value; the per-table counts, the export group counts
and the crawl's casualties stay the same for every seed, so the expected
counts the checks use do not depend on the seed. The catalog tables are
the same for every seed.
"""

from __future__ import annotations

import os
import random
import zipfile

import numpy as np

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
# expired before the snapshot date: the active filter drops these
HIST_DEAD = HIST + "<Historie:eindGeldigheid>2015-01-01</Historie:eindGeldigheid>"
SNAPSHOT = "2026-01-01"
PC_LETTERS = "ABCDEFGHJKLMNPRSTVWXZ"
OBJECTS_PER_MEMBER = 5000
MEMBERS_PER_ZIP = 4


def bag_counts(n: int) -> dict[str, int]:
    """Rows each imported table must hold for an ``n``-address delivery,
    plus the raw record counts the XML scan sees (``raw.*``)."""
    n_wpl, n_opr, n_lig = max(2, n // 2000), max(2, n // 50), n // 500
    n_dead = len(range(0, n, 10))
    return {
        "woonplaatsen": n_wpl,
        "gemeente_woonplaatsen": n_wpl,
        "openbare_ruimten": n_opr,
        "nummers": n + 2 * n_lig,
        "verblijfsobjecten": n,
        "panden": n,
        "ligplaatsen": n_lig,
        "standplaatsen": n_lig,
        "gemeenten": n_wpl,
        "provincies": min(12, n_wpl),
        "adressen": n + 2 * n_lig,
        "raw.nummers": n + n_dead + 2 * n_lig,
        "raw.verblijfsobjecten": n + n_dead,
    }


def _postcode(k: int) -> str:
    return (
        f"{1000 + k % 8999:04d}{PC_LETTERS[k % 21]}"
        f"{PC_LETTERS[(k // 21) % 21]}"
    )


def postcode_groups(n: int) -> dict[str, int]:
    """Distinct postcode4/5/6 keys over every address of the delivery.
    The seed permutes which nummer carries which postcode, never the set."""
    pcs = {_postcode(k) for k in range(bag_counts(n)["adressen"])}
    return {
        "p4": len({p[:4] for p in pcs}),
        "p5": len({p[:5] for p in pcs}),
        "p6": len(pcs),
    }


def _doc(ns: str, parts: list[str]) -> str:
    return '<?xml version="1.0" encoding="UTF-8"?>\n<root' + ns + ">" + "".join(parts) + "</root>"


def generate_bag_delivery(root: str, n: int, seed: int) -> None:
    """Write a zipped delivery of ``n`` addresses plus ``gemeenten.csv``."""
    rng = random.Random(seed)
    c = bag_counts(n)
    n_wpl, n_opr, n_lig = c["woonplaatsen"], c["openbare_ruimten"], c["ligplaatsen"]
    n_num = c["adressen"]
    pc_of = list(range(n_num))
    rng.shuffle(pc_of)
    huisnr = [rng.randint(1, 400) for _ in range(n_num)]

    wpl = [
        f"<Objecten:Woonplaats><Objecten:identificatie>{1000 + k}"
        f"</Objecten:identificatie><Objecten:naam>Plaats {k}</Objecten:naam>"
        "<Objecten:status>Woonplaats aangewezen</Objecten:status>"
        + HIST + "</Objecten:Woonplaats>"
        for k in range(n_wpl)
    ]
    gwr = [
        "<gwr:GemeenteWoonplaatsRelatie><bagtypes:begindatumTijdvakGeldigheid>"
        "2010-01-01</bagtypes:begindatumTijdvakGeldigheid>"
        f"<gwr:gerelateerdeWoonplaats><gwr:identificatie>{1000 + k}"
        "</gwr:identificatie></gwr:gerelateerdeWoonplaats>"
        f"<gwr:gerelateerdeGemeente><gwr:identificatie>{100 + k}"
        "</gwr:identificatie></gwr:gerelateerdeGemeente>"
        "<gwr:status>definitief</gwr:status></gwr:GemeenteWoonplaatsRelatie>"
        for k in range(n_wpl)
    ]
    opr = [
        f"<Objecten:OpenbareRuimte><Objecten:identificatie>OR{j:08d}"
        f"</Objecten:identificatie><Objecten:naam>Straat {rng.randrange(10**6)}"
        "</Objecten:naam><Objecten:type>Weg</Objecten:type>"
        "<Objecten:status>Naamgeving uitgegeven</Objecten:status>"
        f"<Objecten-ref:WoonplaatsRef>{1000 + j % n_wpl}</Objecten-ref:WoonplaatsRef>"
        + HIST + "</Objecten:OpenbareRuimte>"
        for j in range(n_opr)
    ]

    def num_rec(ident: str, i: int, hist: str) -> str:
        return (
            f"<Objecten:Nummeraanduiding><Objecten:identificatie>{ident}"
            f"</Objecten:identificatie><Objecten:postcode>{_postcode(pc_of[i])}"
            f"</Objecten:postcode><Objecten:huisnummer>{huisnr[i]}"
            "</Objecten:huisnummer><Objecten:status>Naamgeving uitgegeven"
            f"</Objecten:status><Objecten-ref:OpenbareRuimteRef>OR{i % n_opr:08d}"
            "</Objecten-ref:OpenbareRuimteRef>" + hist + "</Objecten:Nummeraanduiding>"
        )

    vbo_vals = [
        (rng.randint(120000, 259999), rng.randint(450000, 609999), rng.randint(40, 399))
        for _ in range(n)
    ]

    def vbo_rec(i: int, hist: str) -> str:
        # every 7th VBO carries nevenadres refs (two on every 21st)
        neven = ""
        if i % 7 == 0 and n > 1:
            for k in range(2 if i % 21 == 0 else 1):
                neven += (
                    "<Objecten:heeftAlsNevenadres><Objecten-ref:NummeraanduidingRef>"
                    f"NUM{(i + k + 1) % n:09d}</Objecten-ref:NummeraanduidingRef>"
                    "</Objecten:heeftAlsNevenadres>"
                )
        x, y, opp = vbo_vals[i]
        return (
            f"<Objecten:Verblijfsobject><Objecten:identificatie>VBO{i:09d}"
            "</Objecten:identificatie><Objecten:heeftAlsHoofdadres>"
            f"<Objecten-ref:NummeraanduidingRef>NUM{i:09d}"
            "</Objecten-ref:NummeraanduidingRef></Objecten:heeftAlsHoofdadres>"
            + neven + f"<gml:pos>{x}.0 {y}.0</gml:pos>"
            "<Objecten:gebruiksdoel>woonfunctie</Objecten:gebruiksdoel>"
            f"<Objecten:oppervlakte>{opp}</Objecten:oppervlakte>"
            f"<Objecten-ref:PandRef>PND{i:09d}</Objecten-ref:PandRef>"
            "<Objecten:status>Verblijfsobject in gebruik</Objecten:status>"
            + hist + "</Objecten:Verblijfsobject>"
        )

    nums = [num_rec(f"NUM{i:09d}", i, HIST) for i in range(n)]
    vbos = [vbo_rec(i, HIST) for i in range(n)]
    for i in range(0, n, 10):
        nums.append(num_rec(f"NUM{i:09d}", i, HIST_DEAD))
        vbos.append(vbo_rec(i, HIST_DEAD))
    pnd = [
        f"<Objecten:Pand><Objecten:identificatie>PND{i:09d}</Objecten:identificatie>"
        f"<Objecten:oorspronkelijkBouwjaar>{rng.randint(1900, 2019)}"
        "</Objecten:oorspronkelijkBouwjaar><Objecten:status>Pand in gebruik"
        "</Objecten:status>" + HIST + "</Objecten:Pand>"
        for i in range(n)
    ]

    def plaats(tag: str, code: str, i: int) -> str:
        x, y = rng.randint(120000, 259999), rng.randint(450000, 609999)
        ring = f"{x}.0 {y}.0 {x + 10}.0 {y}.0 {x + 10}.0 {y + 10}.0 {x}.0 {y}.0"
        return (
            f"<Objecten:{tag}><Objecten:identificatie>{code[:3]}{i:09d}"
            "</Objecten:identificatie><Objecten:heeftAlsHoofdadres>"
            f"<Objecten-ref:NummeraanduidingRef>NUM{code[3]}{i:08d}"
            "</Objecten-ref:NummeraanduidingRef></Objecten:heeftAlsHoofdadres>"
            f"<gml:posList>{ring}</gml:posList>"
            "<Objecten:status>Plaats aangewezen</Objecten:status>"
            + HIST + f"</Objecten:{tag}>"
        )

    lig = [plaats("Ligplaats", "LIGL", i) for i in range(n_lig)]
    sta = [plaats("Standplaats", "STAS", i) for i in range(n_lig)]
    for i in range(n_lig):
        nums.append(num_rec(f"NUML{i:08d}", n + i, HIST))
    for i in range(n_lig):
        nums.append(num_rec(f"NUMS{i:08d}", n + n_lig + i, HIST))

    os.makedirs(root, exist_ok=True)
    for code, recs, ns in (
        ("9999WPL", wpl, OBJ_NS),
        ("GEM-WPL-RELATIE", gwr, GWR_NS),
        ("9999OPR", opr, OBJ_NS),
        ("9999NUM", nums, OBJ_NS),
        ("9999VBO", vbos, OBJ_NS),
        ("9999PND", pnd, OBJ_NS),
        ("9999LIG", lig, OBJ_NS),
        ("9999STA", sta, OBJ_NS),
    ):
        rng.shuffle(recs)
        docs = [
            _doc(ns, recs[i : i + OBJECTS_PER_MEMBER])
            for i in range(0, len(recs), OBJECTS_PER_MEMBER)
        ]
        names = [f"{code}{k:04d}.xml" for k in range(len(docs))]
        order = list(range(len(docs)))
        rng.shuffle(order)
        for z in range(0, len(docs), MEMBERS_PER_ZIP):
            path = os.path.join(root, f"{code}-p{z // MEMBERS_PER_ZIP:03d}.zip")
            with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
                for k in order[z : z + MEMBERS_PER_ZIP]:
                    zf.writestr(names[k], docs[k])

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


# --- catalog tables -------------------------------------------------------

CATALOG_ROWS = {
    "region": 5,
    "nation": 25,
    "supplier": 100,
    "customer": 1500,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 120,
    "embeddings": 500,
}
_WORDS = (
    "the a fast slow big small data row column table query join filter sort "
    "merge hash scan group agg window key value order line part customer "
    "stream batch spark vector"
).split()


def generate_catalog_tables(root: str) -> None:
    """One parquet file per table, with ``CATALOG_ROWS`` rows each. The
    tables do not depend on the seed, so the oracle answers over them are
    computed once (the seed orders the queries instead)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(0)
    R = CATALOG_ROWS
    os.makedirs(root, exist_ok=True)

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(root, f"{name}.parquet"))

    def money(lo: float, hi: float, size: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, size), 2)

    def days(start: str, n_days: int, size: int) -> np.ndarray:
        return np.datetime64(start, "us") + rng.integers(0, n_days, size).astype(
            "timedelta64[D]"
        )

    write("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    write("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    write("supplier", {
        "s_suppkey": np.arange(R["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(R["supplier"])],
        "s_nationkey": rng.integers(0, 25, R["supplier"]).astype(np.int32),
        "s_acctbal": money(-999, 9999, R["supplier"]),
    })
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    write("customer", {
        "c_custkey": np.arange(R["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(R["customer"])],
        "c_nationkey": rng.integers(0, 25, R["customer"]).astype(np.int32),
        "c_acctbal": money(-999, 9999, R["customer"]),
        "c_mktsegment": segments[rng.integers(0, 5, R["customer"])],
    })
    adj = np.array(["cold", "small", "large", "shiny", "green", "heavy"])
    noun = np.array(["widget", "bolt", "gear", "valve", "spring"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    n_part = R["part"]
    write("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(
            np.char.add(adj[rng.integers(0, 6, n_part)], " "),
            noun[rng.integers(0, 5, n_part)],
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2),
    })
    n_ord = R["orders"]
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    write("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, R["customer"], n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000, 450000, n_ord),
        "o_orderdate": days("1995-01-01", 2500, n_ord),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)],
    })
    n_li = R["lineitem"]
    per_order = n_li // n_ord
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    li = {
        "l_orderkey": np.repeat(np.arange(n_ord, dtype=np.int64), per_order),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, R["supplier"], n_li).astype(np.int64),
        "l_linenumber": np.tile(np.arange(1, per_order + 1, dtype=np.int32), n_ord),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": days("1995-01-01", 2500, n_li),
    }
    perm = rng.permutation(n_li)
    write("lineitem", {k: v[perm] for k, v in li.items()})
    n_ev = R["events"]
    ts = np.sort(
        np.datetime64("2024-01-01", "us")
        + rng.integers(0, 30 * 86400 * 10**6, n_ev).astype("timedelta64[us]")
    )
    write("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, 150, n_ev).astype(np.int64),
        "event_type": np.array(["signup", "click", "error", "purchase", "view"])[
            rng.integers(0, 5, n_ev)
        ],
        "value": money(0, 200, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    # a stream of its own, so that the documents (whose MinHash oracles take
    # ~0.1 s per document in DuckDB) stay fixed when other tables change
    drng = np.random.default_rng(0)
    n_doc = R["documents"]
    words = np.array(_WORDS)
    texts = [
        " ".join(words[drng.integers(0, len(words), int(drng.integers(10, 80)))])
        for _ in range(n_doc)
    ]
    write("documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "en", "es", "de", "fr", "zh"])[drng.integers(0, 6, n_doc)],
        "source": [f"src{k}" for k in drng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    n_emb = R["embeddings"]
    centroids = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centroids[labels] + rng.normal(0, 1.5, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })


# --- WARC crawl -------------------------------------------------------------

_CONSONANTS = "bcdfghjklmnprstvwz"
_VOWELS = "aeiou"
# at most two function words in a row, so no 3-word shingle repeats across
# pages; "W" is a drawn word
_SENTENCES = (
    "The W of W W and W in the W W.",
    "W W is W with W W for W.",
    "A W W on the W W W as W.",
    "W and W W by W W from the W.",
    "This W W W to W W at W W.",
    "W W W an W W that W W W.",
)


def crawl_counts(n: int) -> dict[str, int]:
    """Planted casualties of an ``n``-page crawl and the survivors of each
    ``prepare_corpus`` stage they imply. Each casualty kind is n/20 pages:
    pages with two sentences (the crawl front half drops them), pages of
    under 50 words (the Gopher gate), exact copies and near copies of clean
    pages. Every other page is distinct prose that passes every gate."""
    k = n // 20
    c = {"records": n, "front_drop": k, "short": k, "exact": k, "near": k}
    s = {"input": n - k}
    s["quality_lang"] = s["input"]
    s["c4_lines"] = s["quality_lang"]
    s["gopher"] = s["c4_lines"] - k
    s["exact_dedup"] = s["gopher"] - k
    s["near_dedup"] = s["exact_dedup"] - k
    return {**c, "stages": s}


def generate_crawl(root: str, n: int, seed: int) -> None:
    """Write an ``n``-page WARC crawl (four per-record-gzip ``.warc.gz``
    files) with the casualties ``crawl_counts`` plants. Words are drawn
    consonant-vowel syllables, so no page shares a 3-word shingle with
    another unless planted, and none holds a C4 drop phrase."""
    import gzip

    rng = random.Random(seed)
    c = crawl_counts(n)
    k = c["front_drop"]

    def word() -> str:
        return "".join(rng.choice(_CONSONANTS) + rng.choice(_VOWELS)
                       for _ in range(rng.randint(2, 3)))

    def sentence() -> str:
        s = rng.choice(_SENTENCES)
        while "W" in s:
            s = s.replace("W", word(), 1)
        return s

    def body(n_sent: int) -> list[str]:
        return [sentence() for _ in range(n_sent)]

    clean = [body(rng.randint(10, 14)) for _ in range(n - 4 * k)]
    pages = list(clean)
    pages += [list(clean[i]) for i in range(k)]  # exact copies
    for i in range(k, 2 * k):  # near copies: one word of one sentence changed
        near = list(clean[i])
        j = len(near) // 2
        words = near[j].split(" ")
        words[1] = word()
        near[j] = " ".join(words)
        pages.append(near)
    pages += [body(4) for _ in range(k)]  # 4 sentences, under 50 words
    pages += [body(2) for _ in range(k)]  # fewer than 3 lines: front half drops

    def html(sents: list[str]) -> bytes:
        nav = " ".join(f'<a href="/{w}">{w.title()}</a>' for w in (word() for _ in range(6)))
        paras, i = [], 0
        while i < len(sents):
            step = rng.randint(1, 2)
            paras.append("<p>" + " ".join(sents[i : i + step]) + "</p>")
            i += step
        return (
            f"<html><head><title>{word().title()}</title></head><body>"
            f"<nav>{nav}</nav><h1>{word().title()} {word()}</h1>"
            + "".join(paras)
            + "<script>var t = 1;</script></body></html>"
        ).encode()

    rng.shuffle(pages)
    os.makedirs(root, exist_ok=True)
    files: list[list[bytes]] = [[] for _ in range(4)]
    for pos, sents in enumerate(pages):
        host = ("www." if pos % 3 == 0 else "") + f"site{pos % 37:02d}.com"
        url = f"https://{host}/p/{pos:05d}-{word()}.html"
        payload = b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n" + html(sents)
        head = (
            "WARC/1.0\r\nWARC-Type: response\r\n"
            f"WARC-Record-ID: <urn:uuid:{pos:08d}-0000-0000-0000-000000000000>\r\n"
            "WARC-Date: 2026-01-01T00:00:00Z\r\n"
            f"WARC-Target-URI: {url}\r\n"
            "Content-Type: application/http; msgtype=response\r\n"
            f"Content-Length: {len(payload)}\r\n\r\n"
        ).encode()
        files[pos % 4].append(gzip.compress(head + payload + b"\r\n\r\n", mtime=0))
    for f, recs in enumerate(files):
        with open(os.path.join(root, f"crawl-{f}.warc.gz"), "wb") as fh:
            fh.write(b"".join(recs))


def cached(kind: str, cache_dir: str, seed: int, make) -> str:
    """Return ``cache_dir/kind-seed``, building it with ``make(path)`` once.
    A marker file written last makes an interrupted build count as absent."""
    path = os.path.join(cache_dir, f"{kind}-{seed}")
    marker = os.path.join(path, ".complete")
    if not os.path.exists(marker):
        import shutil

        shutil.rmtree(path, ignore_errors=True)
        make(path)
        open(marker, "w").close()
    return path
