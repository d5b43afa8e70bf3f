"""WARC source: record parsing (plain + per-record-gzip layouts), HTTP
payload splitting, type filtering, truncation tolerance, and the raw
crawl -> visible text -> C4 lines pipeline end-to-end."""

from __future__ import annotations

import gzip

from pyspark.sql import functions as F

from bag_parser_spark.sources import warc

_HTML = (
    b"<html><body><h1>A heading</h1>"
    b"<p>This is the first real sentence of the page.</p>"
    b"<p>And here is another good long sentence to keep.</p>"
    b"<p>Plus a third full sentence for the line gate.</p>"
    b"<script>var tracked = true;</script></body></html>"
)

_HTTP = (
    b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n"
    b"Server: test\r\n\r\n" + _HTML
)

_RECORDS = [
    ("warcinfo", "", {"Content-Type": "application/warc-fields"},
     b"software: testcrawler/1.0\r\n"),
    ("request", "https://example.com/page",
     {"Content-Type": "application/http;msgtype=request"},
     b"GET /page HTTP/1.1\r\nHost: example.com\r\n\r\n"),
    ("response", "https://example.com/page",
     {"Content-Type": "application/http;msgtype=response"}, _HTTP),
    ("response", "https://example.com/other",
     {"Content-Type": "application/http;msgtype=response"},
     b"HTTP/1.1 404 Not Found\r\nContent-Type: text/plain\r\n\r\ngone"),
]


def _write(tmp_path, per_record_gzip):
    name = "crawl.warc.gz" if per_record_gzip else "crawl.warc"
    (tmp_path / name).write_bytes(
        warc.build_warc_bytes(_RECORDS, per_record_gzip=per_record_gzip)
    )


def test_warc_parse_records_plain_bytes():
    data = warc.build_warc_bytes(_RECORDS)
    recs = list(warc.parse_warc_records(data))
    assert [r[1]["warc-type"] for r in recs] == [
        "warcinfo", "request", "response", "response",
    ]
    assert recs[2][2] == _HTTP
    # offsets strictly increase and start at 0
    offs = [r[0] for r in recs]
    assert offs[0] == 0 and offs == sorted(set(offs))
    # a truncated tail record ends iteration cleanly, keeping the rest
    cut = data + b"WARC/1.0\r\nWARC-Type: response\r\nContent-Length: 999\r\n\r\nshort"
    assert len(list(warc.parse_warc_records(cut))) == 4


def test_split_http_payload():
    status, ctype, body = warc.split_http_payload(_HTTP)
    assert status == 200 and ctype == "text/html; charset=utf-8"
    assert body == _HTML
    raw = b"not http at all"
    assert warc.split_http_payload(raw) == (None, None, raw)


def test_read_warc_both_layouts(spark, tmp_path):
    _write(tmp_path, per_record_gzip=False)
    _write(tmp_path, per_record_gzip=True)
    df = warc.read_warc(spark, str(tmp_path))
    rows = df.orderBy("warc_file", "record_offset").collect()
    # 2 files x 2 response records (default type filter)
    assert len(rows) == 4
    assert {r["warc_type"] for r in rows} == {"response"}
    ok = [r for r in rows if r["http_status"] == 200]
    assert len(ok) == 2
    assert bytes(ok[0]["payload"]) == _HTML
    assert ok[0]["target_uri"] == "https://example.com/page"
    assert ok[0]["http_content_type"].startswith("text/html")
    # gzip decompression really ran per concatenated member
    gz = [r for r in rows if r["warc_file"].endswith(".warc.gz")]
    assert len(gz) == 2
    # all record types when the filter is off; raw payload keeps headers
    allr = warc.read_warc(
        spark, str(tmp_path), record_types=None, parse_http=False
    )
    assert allr.count() == 8
    resp = allr.filter(
        (F.col("warc_type") == "response") & (F.col("http_status").isNull())
    )
    assert resp.count() == 4  # parse_http off -> no status extracted


def test_warc_to_clean_text_pipeline(spark, tmp_path):
    """The full raw-web front half: WARC scan -> HTTP body -> HTML ->
    visible text -> C4 line filter, all in one lazy plan."""
    from bag_parser_spark.operators import text

    _write(tmp_path, per_record_gzip=True)
    pages = (
        warc.read_warc(spark, str(tmp_path))
        .filter(
            (F.col("http_status") == 200)
            & F.col("http_content_type").startswith("text/html")
        )
        .select(
            F.col("target_uri").alias("url"),
            F.decode(F.col("payload"), "UTF-8").alias("html"),
        )
        .withColumn("visible", text.html_to_text(F.col("html")))
    )
    # html_to_text keeps sentence text, drops the script block
    row = pages.head()
    assert "first real sentence" in row["visible"]
    assert "tracked" not in row["visible"]
    # sentences -> lines, then the C4 gate keeps the 3 full sentences
    lined = pages.select(
        "url",
        F.regexp_replace(F.col("visible"), r"\. ", ".\n").alias("text"),
    )
    out = text.c4_line_filter(lined, id_col="url").head()
    assert out["n_kept"] == 3 and not out["drop_doc"]


def test_crawl_to_documents_front_half(spark, tmp_path):
    """crawl_to_documents assembles WARC -> html -> C4 -> canonical URL
    in one lazy plan and returns curation-ready rows."""
    _write(tmp_path, per_record_gzip=True)
    docs = warc.crawl_to_documents(spark, str(tmp_path))
    rows = docs.collect()
    assert len(rows) == 1  # only the 200 text/html response survives
    r = rows[0].asDict()
    assert r["url"] == "https://example.com/page"
    assert r["canonical_url"] == "https://example.com/page"
    assert r["n_kept"] == 3 and not r["drop_doc"]
    assert "first real sentence" in r["text"] and "tracked" not in r["text"]


def test_streaming_warc_ingest(spark, tmp_path):
    """run_ingest_stream(source_format='warc'): micro-batches of crawl
    segment files run the record parser + front half, then the
    incremental dedup keyed by URL; a second drain sees only NEW
    segment files (checkpoint), and a replayed (re-keyed) copy of an
    already-accepted page is removed by content dedup — replay
    idempotence across the crawl path."""
    from bag_parser_spark.streaming.corpus import run_ingest_stream

    themes = {
        1: ("The quick brown fox jumps over the lazy dog today.",
            "It rests by the old stone bridge for a while.",
            "Birds sing their songs about the summer evenings."),
        2: ("Distributed query engines shuffle data between executors.",
            "Broadcast joins avoid moving the large fact table.",
            "Adaptive execution repartitions skewed stages at runtime."),
        3: ("Sourdough bread needs a mature starter and patience.",
            "Fold the dough gently every thirty minutes while rising.",
            "Bake inside a covered pot for a crackling crust."),
    }

    def page(i, text_suffix):
        a, b, c = themes[i]
        body = (
            f"<html><body><p>{a}</p><p>{b}</p>"
            f"<p>{c} Suffix {text_suffix}.</p></body></html>"
        ).encode()
        return (
            "response", f"https://site{i}.com/p/{i}",
            {"Content-Type": "application/http;msgtype=response"},
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body,
        )

    src = tmp_path / "crawl"
    src.mkdir()
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    (src / "seg0.warc.gz").write_bytes(
        warc.build_warc_bytes([page(1, "one"), page(2, "two")],
                              per_record_gzip=True)
    )
    run_ingest_stream(
        spark, str(src), state, ckpt, source_format="warc"
    )
    acc = spark.read.parquet(f"{state}/accepted")
    assert sorted(r["url"] for r in acc.collect()) == [
        "https://site1.com/p/1", "https://site2.com/p/2",
    ]
    # second drain: one genuinely new page + an exact CONTENT replay of
    # page 1 under a different URL -> only the new page is accepted
    (src / "seg1.warc").write_bytes(
        warc.build_warc_bytes([
            page(3, "three"),
            ("response", "https://mirror.net/copy-of-1",
             {"Content-Type": "application/http;msgtype=response"},
             page(1, "one")[3]),
        ])
    )
    run_ingest_stream(
        spark, str(src), state, ckpt, source_format="warc"
    )
    acc = spark.read.parquet(f"{state}/accepted")
    urls_now = sorted(r["url"] for r in acc.collect())
    assert urls_now == [
        "https://site1.com/p/1", "https://site2.com/p/2",
        "https://site3.com/p/3",
    ], urls_now
    # the accepted state carries the domain column (warc mode keys on url)
    assert "registered_domain" in acc.columns


def test_read_wet_roundtrip_and_front_half(spark, tmp_path):
    """WET sidecar (VERDICT r7 #8): identical WARC framing, 'conversion'
    records carrying pre-extracted text/plain. read_wet filters to
    conversion records (warcinfo skipped), wet_to_documents applies the
    C4 line gate directly (no HTML step) and canonicalizes the URL; a
    raw-WARC reader over the same directory must see none of it (no
    'response' records)."""
    from bag_parser_spark.sources import warc

    text1 = (
        "The quick brown fox jumps over the lazy dog tonight.\n"
        "It then rests by the old stone bridge for a while.\n"
        "Birds sing their songs about the warm summer evening."
    )
    text2 = "too short\nno punct"  # every line fails the C4 gate
    records = [
        ("warcinfo", "", {"Content-Type": "application/warc-fields"},
         b"software: test"),
        ("conversion", "https://WWW.Site1.com/p/1#frag",
         {"Content-Type": "text/plain"}, text1.encode()),
        ("conversion", "https://site2.com/p/2",
         {"Content-Type": "text/plain"}, text2.encode()),
    ]
    d = tmp_path / "wet"
    d.mkdir()
    (d / "seg0.warc.wet.gz").write_bytes(
        warc.build_warc_bytes(records, per_record_gzip=True)
    )
    recs = warc.read_wet(spark, str(d)).collect()
    assert sorted(r["warc_type"] for r in recs) == ["conversion"] * 2
    assert {bytes(r["payload"]).decode() for r in recs} == {text1, text2}
    docs = {r["url"]: r for r in
            warc.wet_to_documents(spark, str(d)).collect()}
    ok = docs["https://WWW.Site1.com/p/1#frag"]
    assert ok["drop_doc"] is False and ok["n_kept"] == 3
    assert ok["text"].startswith("The quick brown fox")
    assert ok["canonical_url"] == "https://site1.com/p/1"
    assert docs["https://site2.com/p/2"]["drop_doc"] is True
    # the raw-WARC reader over the same dir sees no response records
    assert warc.read_warc(spark, str(d)).count() == 0


def test_read_wat_links_roundtrip(spark, tmp_path):
    """WAT sidecar: 'metadata' records carrying the crawl-side JSON
    envelope. wat_links_frame parses the envelope JVM-side with the
    pruned schema, explodes the harvested links, and resolves each
    href against the page URL with the same resolve_link contract as
    the HTML path — absolute pass-through, root-relative joins
    scheme://host, path-relative joins the base directory,
    fragment-only/javascript: drop; records with no HTML-Metadata
    (e.g. a robots.txt fetch) and non-metadata records vanish."""
    import json

    from bag_parser_spark.sources import warc

    env1 = {
        "Envelope": {
            "WARC-Header-Metadata": {
                "WARC-Target-URI": "https://www.Site1.com/a/page.html"
            },
            "Payload-Metadata": {
                "HTTP-Response-Metadata": {
                    "HTML-Metadata": {
                        "Head": {"Title": "Page One"},
                        "Links": [
                            {"path": "A@/href",
                             "url": "HTTP://Ext.COM/x", "text": "ext"},
                            {"path": "A@/href", "url": "/about"},
                            {"path": "A@/href", "url": "other.html"},
                            {"path": "A@/href", "url": "#frag"},
                            {"path": "A@/href", "url": "javascript:void(0)"},
                        ],
                    }
                }
            },
        }
    }
    env2 = {"Envelope": {"Payload-Metadata": {
        "HTTP-Response-Metadata": {}}}}  # no HTML-Metadata: dropped
    # a page on a NON-default port: relative links must resolve to the
    # SAME origin, port included (ADVICE r8 — the base host previously
    # had its port stripped, sending these to the wrong origin; same
    # contract as the HTML-side extract_links '8080' test)
    env3 = {
        "Envelope": {
            "WARC-Header-Metadata": {
                "WARC-Target-URI": "https://site3.io:8080/docs/index.html"
            },
            "Payload-Metadata": {
                "HTTP-Response-Metadata": {
                    "HTML-Metadata": {
                        "Head": {"Title": "Ported"},
                        "Links": [
                            {"path": "A@/href", "url": "/root.html"},
                            {"path": "A@/href", "url": "sibling.html"},
                        ],
                    }
                }
            },
        }
    }
    records = [
        ("warcinfo", "", {"Content-Type": "application/warc-fields"},
         b"software: test"),
        ("metadata", "https://www.Site1.com/a/page.html",
         {"Content-Type": "application/json"},
         json.dumps(env1).encode()),
        ("metadata", "https://site2.com/robots.txt",
         {"Content-Type": "application/json"},
         json.dumps(env2).encode()),
        ("metadata", "https://site3.io:8080/docs/index.html",
         {"Content-Type": "application/json"},
         json.dumps(env3).encode()),
    ]
    d = tmp_path / "wat"
    d.mkdir()
    (d / "seg0.warc.wat.gz").write_bytes(
        warc.build_warc_bytes(records, per_record_gzip=True)
    )
    all_rows = warc.wat_links_frame(warc.read_wat(spark, str(d))).collect()
    rows = [r for r in all_rows
            if r["url"] == "https://www.Site1.com/a/page.html"]
    got = {r["link_no"]: r for r in rows}
    assert len(rows) == 3  # fragment + javascript dropped
    assert all(r["title"] == "Page One" for r in rows)
    assert got[0]["link_url"] == "HTTP://Ext.COM/x"  # absolute untouched
    assert got[1]["link_url"] == "https://site1.com/about"
    assert got[2]["link_url"] == "https://site1.com/a/other.html"
    assert got[2]["link_href"] == "other.html"
    ported = {r["link_no"]: r["link_url"] for r in all_rows
              if r["url"] == "https://site3.io:8080/docs/index.html"}
    assert ported == {
        0: "https://site3.io:8080/root.html",
        1: "https://site3.io:8080/docs/sibling.html",
    }
