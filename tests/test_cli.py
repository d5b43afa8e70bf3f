"""CLI front door (`python -m bag_parser_spark`) + SQLite-compat sink.

The subprocess test drives import → export → validate end-to-end on the
XML fixture — the exact workflow a reference user runs via
import_bag.py / export_to_csv.py / test_sqlite_db.py. The sink tests
roundtrip DataFrames through a SQLite file (write → re-read with sqlite3
→ value compare), proving a consumer of the reference's bag.sqlite can
read ours.
"""

from __future__ import annotations

import pytest

import csv
import glob
import os
import sqlite3
import subprocess
import sys

from pyspark.sql import functions as F

from bag_parser_spark.sources.parquet import load_table
from bag_parser_spark.sources.sqlite_compat import write_sqlite_table
from tests.conftest import SF_SMOKE
from tests.test_bag_job import SNAPSHOT, _write_inputs

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run_cli(*args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "-m", "bag_parser_spark", *args],
        cwd=REPO,
        env={**os.environ, "SPARK_GRAFT_CPUS": "4"},
        capture_output=True,
        text=True,
        timeout=600,
    )


@pytest.mark.slow
def test_cli_import_export_validate_end_to_end(tmp_path):
    _write_inputs(tmp_path)
    out_dir = str(tmp_path / "db")
    sqlite_path = str(tmp_path / "bag.sqlite")

    r = _run_cli(
        "import", "--bag", str(tmp_path),
        "--gemeenten", str(tmp_path / "gemeenten.csv"),
        "--out", out_dir, "--sqlite", sqlite_path,
        "--snapshot-date", SNAPSHOT,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert os.path.isdir(os.path.join(out_dir, "adressen"))
    # the SQLite artifact is directly queryable the reference way
    # (readme.MD:54-78: plain sqlite3 over adressen)
    con = sqlite3.connect(sqlite_path)
    rows = con.execute(
        "SELECT nummer_id, postcode, woonplaats_id FROM adressen"
    ).fetchall()
    n_gem = con.execute("SELECT COUNT(*) FROM gemeenten").fetchone()[0]
    con.close()
    assert rows == [("NUM1", "1181BN", 1050)]
    assert n_gem == 2

    csv_out = str(tmp_path / "all.csv")
    r = _run_cli("export", "--db", out_dir, "-a", "--out", csv_out,
                 "--single-file")
    assert r.returncode == 0, r.stderr[-2000:]
    csv_file = glob.glob(os.path.join(csv_out, "*.csv"))[0]
    with open(csv_file, newline="", encoding="utf-8") as f:
        recs = list(csv.DictReader(f))
    assert len(recs) == 1
    assert recs[0]["straat"] == "Dorpsstraat"
    assert recs[0]["postcode"] == "1181BN"
    assert recs[0]["gemeente"] == "Amstelveen"

    # fixture-scaled thresholds; sentinel gemeente 1900 is absent from this
    # minimal fixture so the battery reports that FAIL → exit code 1, while
    # the referential-integrity family passes
    r = _run_cli(
        "validate", "--db", out_dir,
        "--min-adressen", "1", "--min-adressen-with-pand", "1",
        "--min-ligplaatsen", "0", "--min-standplaatsen", "0",
        "--min-openbare-ruimten", "1", "--min-woonplaatsen", "1",
        "--min-gemeenten", "1",
    )
    assert r.returncode == 1, r.stderr[-2000:]
    report = {
        line.split("\t")[0]: line.split("\t")[2]
        for line in r.stdout.strip().splitlines()
        if "\t" in line
    }
    assert report["aantal_adressen"] == "PASS"
    assert report["adressen_zonder_openbare_ruimte"] == "PASS"
    assert report["woonplaatsen_zonder_gemeente"] == "PASS"
    assert report["gemeentenamen_utf8"] == "FAIL"  # sentinel not in fixture

    # the parquet table set is ALSO directly queryable the reference way —
    # raw SQL via the CLI (readme.MD:54-78 parity without the SQLite file)
    r = _run_cli(
        "query", "--db", out_dir,
        "SELECT a.postcode, g.naam AS gemeente "
        "FROM adressen a "
        "JOIN woonplaatsen w ON a.woonplaats_id = w.id "
        "JOIN gemeenten g ON w.gemeente_id = g.id",
    )
    assert r.returncode == 0, r.stderr[-2000:]
    lines = r.stdout.strip().splitlines()
    assert lines[0] == "postcode\tgemeente"
    assert lines[1:] == ["1181BN\tAmstelveen"]


def test_sqlite_sink_roundtrip_typed_table(spark, tmp_path):
    """write → re-read with sqlite3, as the reference's consumers read
    bag.sqlite → the declared column types and key, and an exact value
    match, on a table mixing long, double and string columns (the
    adressen dtype surface)."""
    db = str(tmp_path / "rt.sqlite")
    src = load_table(spark, SF_SMOKE, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    n = write_sqlite_table(src, db, "customer", primary_key="c_custkey")
    assert n == src.count() > 0
    con = sqlite3.connect(db)
    try:
        # (name, declared type, is primary key) per column
        decl = [
            (r[1], r[2], r[5])
            for r in con.execute('PRAGMA table_info("customer")')
        ]
        got = sorted(con.execute('SELECT * FROM "customer"').fetchall())
    finally:
        con.close()
    assert decl == [
        ("c_custkey", "INTEGER", 1),
        ("c_name", "TEXT", 0),
        ("c_acctbal", "REAL", 0),
        ("c_mktsegment", "TEXT", 0),
    ]
    assert got == sorted(map(tuple, src.collect()))


def test_sqlite_sink_batching_and_overwrite(spark, tmp_path):
    """Batched executemany path (rows > batch_size) and DROP+CREATE
    overwrite semantics (the REPLACE-artifact analog)."""
    db = str(tmp_path / "b.sqlite")
    df = spark.range(0, 2500).select(
        F.col("id"), (F.col("id") % 7).cast("double").alias("v")
    )
    assert write_sqlite_table(df, db, "t", batch_size=100) == 2500
    # overwrite with a smaller table — stale rows must not survive
    assert write_sqlite_table(df.filter(F.col("id") < 10), db, "t") == 10
    con = sqlite3.connect(db)
    assert con.execute("SELECT COUNT(*), MAX(id) FROM t").fetchone() == (10, 9)
    con.close()


def test_sqlite_sink_failure_preserves_previous_table(spark, tmp_path):
    """Atomicity contract: a mid-write failure (executor error surfacing
    through toLocalIterator) must roll back and leave the PREVIOUS table
    contents intact — re-exports never destroy the old artifact."""
    import pytest

    db = str(tmp_path / "atomic.sqlite")
    ok = spark.range(5).select(F.col("id"))
    assert write_sqlite_table(ok, db, "t") == 5
    bad = spark.range(10).select(
        F.when(F.col("id") == 7, F.expr("raise_error('boom')"))
        .otherwise(F.col("id").cast("string"))
        .alias("id")
    )
    with pytest.raises(Exception, match="boom"):
        write_sqlite_table(bad, db, "t", batch_size=2)
    con = sqlite3.connect(db)
    try:
        rows = con.execute("SELECT id FROM t ORDER BY id").fetchall()
    finally:
        con.close()
    assert rows == [(0,), (1,), (2,), (3,), (4,)]


@pytest.mark.slow
def test_cli_prepare_writes_split_corpus(tmp_path):
    """`prepare` must write a split-partitioned parquet corpus whose JSON
    summary matches the artifact, with deterministic split assignment
    (md5-bucket, layout-stable) and the near-dup canonicalization on."""
    import json

    out_dir = str(tmp_path / "corpus")
    proc = _run_cli(
        "prepare",
        "--docs", "/root/testdata/sf0.001/documents.parquet",
        "--out", out_dir,
        "--splits", "train=0.9,test=0.1",
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert summary["n_out"] == sum(summary["splits"].values())
    assert set(summary["splits"]) <= {"train", "test"}
    assert summary["splits"]["train"] > summary["splits"].get("test", 0)
    # artifact matches the summary
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        "SELECT split, COUNT(*) FROM read_parquet(?, hive_partitioning=1) "
        "GROUP BY split", [f"{out_dir}/*/*.parquet"]
    ).fetchall()
    assert dict(rows) == summary["splits"]
    # kept docs satisfy the quality gate
    (qmin,) = con.execute(
        "SELECT MIN(quality) FROM read_parquet(?, hive_partitioning=1)",
        [f"{out_dir}/*/*.parquet"],
    ).fetchone()
    assert qmin >= 0.7


@pytest.mark.slow
def test_cli_prepare_decontaminate_flag(tmp_path):
    """`prepare --decontaminate eval.parquet` drops the doc that contains
    an eval 8-gram and keeps the clean one — the CLI wiring for the
    Bloom-prefiltered decontamination stage."""
    import json

    import duckdb

    ev = " ".join(f"e{i}" for i in range(20))
    docs_path = str(tmp_path / "docs.parquet")
    eval_path = str(tmp_path / "eval.parquet")
    con = duckdb.connect()
    clean = " ".join(f"b{i}" for i in range(30))
    contaminated = ev + " x1 x2"
    con.execute(
        f"""COPY (SELECT * FROM (VALUES (1, '{contaminated}'),
            (2, '{clean}')) t(doc_id, text))
            TO '{docs_path}' (FORMAT PARQUET)"""
    )
    con.execute(
        f"COPY (SELECT '{ev}' AS text) TO '{eval_path}' (FORMAT PARQUET)"
    )
    con.close()
    out_dir = str(tmp_path / "corpus")
    proc = _run_cli(
        "prepare", "--docs", docs_path, "--out", out_dir,
        "--min-quality", "0", "--any-lang", "--no-near-dedup",
        "--decontaminate", eval_path,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert summary["decontaminated"] and summary["n_out"] == 1
    con = duckdb.connect()
    kept = [
        r[0]
        for r in con.execute(
            "SELECT doc_id FROM read_parquet(?, hive_partitioning=1)",
            [f"{out_dir}/*/*.parquet"],
        ).fetchall()
    ]
    con.close()
    assert kept == [2]


@pytest.mark.slow
def test_cli_ingest_incremental_dedup(spark, tmp_path):
    """`ingest` drains new files through the streaming dedup pipeline;
    rerunning with the same checkpoint after a second delivery only
    processes the new file and the accepted state stays duplicate-free."""
    import json

    t1 = " ".join(f"w{i}" for i in range(30))
    t2 = " ".join(f"q{i}" for i in range(30))
    src = tmp_path / "incoming"
    src.mkdir()
    spark.createDataFrame(
        [(1, t1), (2, t2), (3, t1)], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(src / "d1.parquet"))
    args = [
        "ingest", "--source", f"{src}/*",
        "--state", str(tmp_path / "state"),
        "--checkpoint", str(tmp_path / "ckpt"),
    ]
    r = _run_cli(*args)
    assert r.returncode == 0, r.stderr[-2000:]
    assert json.loads(r.stdout.strip().splitlines()[-1])["n_accepted"] == 2

    spark.createDataFrame(
        [(11, t1 + " extra tail words"), (12, " ".join(f"z{i}" for i in range(30)))],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(str(src / "d2.parquet"))
    r = _run_cli(*args)
    assert r.returncode == 0, r.stderr[-2000:]
    assert json.loads(r.stdout.strip().splitlines()[-1])["n_accepted"] == 3


@pytest.mark.slow
def test_cli_ingest_budget_deferral(spark, tmp_path):
    """`ingest --crawl-delays/--batch-window-sec` applies the per-batch
    politeness budget through the CLI, and the engine-owned deferral
    drains across deliveries: batch-1 overflow docs persist to
    deferred/ and are admitted by the NEXT delivery's window without
    the source re-sending them. Half-configured flags exit loudly."""
    import json

    txt = lambda i: " ".join(f"w{j}-{i}" for j in range(30))  # noqa: E731
    src = tmp_path / "incoming"
    src.mkdir()
    spark.createDataFrame(
        [(i, txt(i), f"https://slow.com/p/{i}") for i in (1, 2)],
        "doc_id long, text string, url string",
    ).coalesce(1).write.parquet(str(src / "d1.parquet"))
    delays = tmp_path / "delays"
    spark.createDataFrame(
        [("slow.com", "*", 10.0)],
        "domain string, agent string, crawl_delay double",
    ).write.parquet(str(delays))
    args = [
        "ingest", "--source", f"{src}/*",
        "--state", str(tmp_path / "state"),
        "--checkpoint", str(tmp_path / "ckpt"),
        "--schema", "doc_id long, text string, url string",
        "--url-col", "url",
        "--crawl-delays", str(delays),
        "--batch-window-sec", "4.0",
        "--max-deferred-per-domain", "5",
    ]
    r = _run_cli(*args)
    assert r.returncode == 0, r.stderr[-2000:]
    # budget 1: one admitted, one deferred
    assert json.loads(r.stdout.strip().splitlines()[-1])["n_accepted"] == 1
    assert (tmp_path / "state" / "deferred").is_dir()
    # second delivery (a different host) fires the next window: the
    # deferred slow doc AND the new doc admit — the source never
    # re-sent doc 1/2
    spark.createDataFrame(
        [(9, txt(9), "https://other.org/x")],
        "doc_id long, text string, url string",
    ).coalesce(1).write.parquet(str(src / "d2.parquet"))
    r = _run_cli(*args)
    assert r.returncode == 0, r.stderr[-2000:]
    assert json.loads(r.stdout.strip().splitlines()[-1])["n_accepted"] == 3
    assert not (tmp_path / "state" / "deferred").exists()
    # half-configured budget flags exit loudly before draining
    r = _run_cli(*[a for a in args if a not in ("--batch-window-sec", "4.0")])
    assert r.returncode != 0
    assert "--batch-window-sec" in r.stderr


@pytest.mark.slow
def test_cli_import_plain_and_zipped_delivery(tmp_path):
    """`import` on a plain (pre-extracted) delivery and on the ZIPPED
    per-entity-zip layout of the same fixture: the CLI extracts the zips
    under --out, runs the JVM XML scan, removes the extraction dir after
    the persist cut, and both produce the same adressen."""
    import sys as _sys

    _sys.path.insert(0, REPO)
    from scripts.import_bench import SNAPSHOT, generate_fixture

    out = {}
    for layout in ("plain", "zips"):
        fixture = tmp_path / layout
        generate_fixture(str(fixture), 300, objects_per_file=100,
                         layout=layout)
        out_dir = str(tmp_path / f"db_{layout}")
        r = _run_cli(
            "import", "--bag", str(fixture),
            "--gemeenten", str(fixture / "gemeenten.csv"),
            "--out", out_dir, "--snapshot-date", SNAPSHOT,
        )
        assert r.returncode == 0, r.stderr[-2000:]
        import duckdb

        con = duckdb.connect()
        out[layout] = con.execute(
            "SELECT nummer_id, postcode, huisnummer, openbare_ruimte_id, "
            "woonplaats_id, pand_id FROM "
            f"read_parquet('{out_dir}/adressen/*.parquet') ORDER BY nummer_id"
        ).fetchall()
        con.close()
        assert not os.path.exists(os.path.join(out_dir, "_xml_extract"))
    assert out["plain"] == out["zips"] and len(out["plain"]) == 300


@pytest.mark.slow
def test_cli_prepare_gopher_and_domain_flags(tmp_path):
    """`prepare --gopher --url-col url --max-per-domain --block-domains
    --allow-domains` — the CLI wiring for both r7 stages in one run:
    blocklisted domain dropped (allowlist overrides), per-domain cap
    held, gopher rejections counted in the summary JSON."""
    import json

    import duckdb

    good = (
        "the quick brown fox jumps over the lazy dog and then it runs "
        "off to the river where this good animal rests for a while as "
        "birds sing songs about summer evenings by that old stone bridge "
        "near a quiet village with warm lights glowing in windows there "
        "and people walk home slowly talking about their long pleasant day "
    )
    rows = []
    for i in range(12):
        dom = ["a.com", "b.org", "blocked.net", "saved.net"][i % 4]
        rows.append((i, good + f"unique w{i}", f"https://www.{dom}/p/{i}"))
    rows.append((100, "tiny", "https://a.com/p/100"))  # gopher-rejected
    docs_path = str(tmp_path / "docs.parquet")
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t (doc_id BIGINT, text VARCHAR, url VARCHAR)"
    )
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    con.execute(f"COPY t TO '{docs_path}' (FORMAT PARQUET)")
    con.close()
    out_dir = str(tmp_path / "corpus")
    proc = _run_cli(
        "prepare", "--docs", docs_path, "--out", out_dir,
        "--min-quality", "0", "--any-lang", "--no-near-dedup",
        "--gopher", "--url-col", "url", "--max-per-domain", "2",
        "--block-domains", "blocked.net,saved.net",
        "--allow-domains", "saved.net",
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert summary["gopher"] and summary["max_per_domain"] == 2
    assert summary["gopher_counts"]["r_too_short"] == 1
    con = duckdb.connect()
    doms = dict(
        con.execute(
            "SELECT registered_domain, COUNT(*) FROM "
            "read_parquet(?, hive_partitioning=1) GROUP BY 1",
            [f"{out_dir}/*/*.parquet"],
        ).fetchall()
    )
    kept_ids = {
        r[0]
        for r in con.execute(
            "SELECT doc_id FROM read_parquet(?, hive_partitioning=1)",
            [f"{out_dir}/*/*.parquet"],
        ).fetchall()
    }
    con.close()
    assert "blocked.net" not in doms
    assert "saved.net" in doms          # allowlist overrides blocklist
    assert all(n <= 2 for n in doms.values())
    assert 100 not in kept_ids          # gopher-rejected doc absent


@pytest.mark.slow
def test_cli_prepare_from_warc(tmp_path):
    """`prepare --from-warc` runs the raw-crawl front half (WARC ->
    visible text -> C4 line gate, URL-keyed) before the standard
    curation stages and writes a split corpus."""
    import json

    import duckdb

    from bag_parser_spark.sources import warc as W

    def page(i):
        body = (
            f"<html><body><h1>Page {i}</h1>"
            f"<p>The quick brown fox number {i} jumps over the lazy dog.</p>"
            f"<p>It then rests by the old stone bridge for a while.</p>"
            f"<p>Birds sing their songs about summer evening {i} there.</p>"
            "<script>var skip = 1;</script></body></html>"
        ).encode()
        return (
            "response", f"https://site{i % 2}.com/p/{i}",
            {"Content-Type": "application/http;msgtype=response"},
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body,
        )

    records = [page(i) for i in range(6)]
    # a 404 and a non-html 200 must be dropped by the front half
    records.append(("response", "https://site0.com/miss",
                    {"Content-Type": "application/http;msgtype=response"},
                    b"HTTP/1.1 404 Not Found\r\n\r\ngone"))
    records.append(("response", "https://site0.com/data.json",
                    {"Content-Type": "application/http;msgtype=response"},
                    b"HTTP/1.1 200 OK\r\nContent-Type: application/json"
                    b"\r\n\r\n{}"))
    crawl_dir = tmp_path / "crawl"
    crawl_dir.mkdir()
    (crawl_dir / "seg0.warc.gz").write_bytes(
        W.build_warc_bytes(records, per_record_gzip=True)
    )
    out_dir = str(tmp_path / "corpus")
    proc = _run_cli(
        "prepare", "--from-warc", "--docs", str(crawl_dir),
        "--out", out_dir, "--min-quality", "0", "--any-lang",
        "--no-near-dedup", "--max-per-domain", "2",
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    # 404 + json never entered curation; 2 domains x 3 html pages,
    # capped at 2 per domain -> 4 survive
    assert summary["n_out"] == 4 and summary["max_per_domain"] == 2
    con = duckdb.connect()
    rows = con.execute(
        "SELECT url, text, registered_domain FROM "
        f"read_parquet('{out_dir}/*/*.parquet', hive_partitioning=1)"
    ).fetchall()
    con.close()
    assert len(rows) == summary["n_out"]
    assert all("skip" not in t for _, t, _ in rows)  # script gone
    assert all("." in t and "fox" in t for _, t, _ in rows)
    from collections import Counter
    per_dom = Counter(d for *_, d in rows)
    assert per_dom == {"site0.com": 2, "site1.com": 2}


@pytest.mark.slow
def test_cli_ingest_from_warc(tmp_path):
    """`ingest --from-warc` drains crawl segments through the WARC
    front half + incremental dedup and reports the accepted count."""
    import json

    from bag_parser_spark.sources import warc as W

    body1 = (
        b"<html><body><p>Sourdough bread needs a mature starter.</p>"
        b"<p>Fold the dough gently every thirty minutes today.</p>"
        b"<p>Bake inside a covered pot for a crackling crust.</p>"
        b"</body></html>"
    )
    body2 = (
        b"<html><body><p>Distributed engines shuffle data between "
        b"executors constantly.</p><p>Broadcast joins avoid moving the "
        b"large fact table.</p><p>Adaptive execution splits skewed "
        b"partitions at runtime.</p></body></html>"
    )
    recs = [
        ("response", f"https://site{i}.com/a",
         {"Content-Type": "application/http;msgtype=response"},
         b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + b)
        for i, b in ((1, body1), (2, body2))
    ]
    src = tmp_path / "crawl"
    src.mkdir()
    (src / "seg.warc.gz").write_bytes(
        W.build_warc_bytes(recs, per_record_gzip=True)
    )
    proc = _run_cli(
        "ingest", "--from-warc", "--source", str(src),
        "--state", str(tmp_path / "state"),
        "--checkpoint", str(tmp_path / "ckpt"),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert summary["n_accepted"] == 2


@pytest.mark.slow
def test_cli_prepare_full_web_pipeline_stage_report(tmp_path):
    """VERDICT r7 #6: ONE CLI invocation composes the whole web-curation
    chain — WARC -> readability main-content extraction -> C4 lines ->
    domain block / robots / cap -> quality -> C4 gate -> Gopher ->
    exact dedup -> near dedup -> split — and --stage-report emits the
    stage-by-stage survivor counts, asserted exactly here. The fixture
    plants one casualty per gate: 2 blocked.net pages (blocklist), a
    robots.com /private/ page (--robots politeness gate), a 4th
    site0.com page (cap 3), an under-50-words page (gopher), an
    identical-body pair (exact dedup), and a one-word-apart pair (near
    dedup); nav link bars vanish via --main-content."""
    import json
    from collections import Counter

    import duckdb

    from bag_parser_spark.sources import warc as W

    NAV = ('<div><a href="/">Homelink</a> <a href="/a">Aboutlink</a> '
           '<a href="/c">Contactlink</a></div>')

    def prose(i, tweak="summer"):
        # per-page vocabulary spread through EVERY sentence so distinct
        # pages sit far below the 0.5 near-dup Jaccard (a shared
        # skeleton alone would make all pages near-dups of each other),
        # while the near.com pair (same i, one tweak word) stays high
        w = [f"alpha{i}", f"beta{i}", f"gamma{i}", f"delta{i}",
             f"omega{i}", f"sigma{i}", f"kappa{i}", f"theta{i}"]
        return (
            f"<p>The quick {w[0]} fox of {w[1]} valley jumps over the "
            f"lazy {w[2]} dog and keeps a steady happy pace. "
            f"It then rests by the old {w[3]} bridge near the quiet "
            f"{tweak} river for a long {w[4]} while.</p>"
            f"<p>Birds sing their gentle {w[5]} songs about warm evening "
            f"light in the tall {w[6]} trees of page {w[7]}. "
            f"People walk slowly along the {w[0]} winding path and talk "
            f"about small {w[1]} things that matter to them.</p>"
            f"<p>Later the village bakers prepare fresh {w[2]} bread "
            f"with soft golden {w[3]} crusts for the early market crowd. "
            f"Children play near the {w[4]} fountain while their parents "
            f"buy {w[5]} fruit and cheese from friendly sellers.</p>"
        )

    def page(url, body_html):
        body = f"<html><body>{NAV}{body_html}</body></html>".encode()
        return (
            "response", url,
            {"Content-Type": "application/http;msgtype=response"},
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body,
        )

    records = [
        # 4 unique site0 pages -> cap 3 drops one
        *[page(f"https://site0.com/p/{i}", prose(i)) for i in range(4)],
        # 2 blocked pages
        *[page(f"https://blocked.net/p/{i}", prose(10 + i))
          for i in range(2)],
        # identical-body pair on two URLs -> exact dedup drops one
        page("https://dup.com/a", prose(20)),
        page("https://dup.com/b", prose(20)),
        # one-word-apart pair -> near dedup drops one
        page("https://near.com/a", prose(30, tweak="summer")),
        page("https://near.com/b", prose(30, tweak="winter")),
        # robots.com: /private/ star-disallowed, /public/ allowed
        page("https://robots.com/private/1", prose(40)),
        page("https://robots.com/public/1", prose(41)),
        # passes C4 (3 lines of >= 4 words) but < 50 words -> gopher
        page("https://short.com/x",
             "<p>We keep this page very small today. "
             "It holds only a few simple words. "
             "Nothing else lives on this page now.</p>"),
    ]
    crawl_dir = tmp_path / "crawl"
    crawl_dir.mkdir()
    (crawl_dir / "seg0.warc.gz").write_bytes(
        W.build_warc_bytes(records, per_record_gzip=True)
    )
    robots_pq = str(tmp_path / "robots.parquet")
    con = duckdb.connect()
    con.execute(
        "COPY (SELECT 'robots.com' AS domain, "
        "'User-agent: *' || chr(10) || 'Disallow: /private/' "
        f"AS robots_txt) TO '{robots_pq}' (FORMAT PARQUET)"
    )
    con.close()
    out_dir = str(tmp_path / "corpus")
    proc = _run_cli(
        "prepare", "--from-warc", "--docs", str(crawl_dir),
        "--out", out_dir, "--min-quality", "0", "--any-lang",
        "--main-content", "--c4-lines", "--gopher",
        "--max-per-domain", "3", "--block-domains", "blocked.net",
        "--robots", robots_pq, "--stage-report",
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert summary["stages"] == {
        "input": 13,
        "domain_allowed": 11,   # - 2 blocked.net
        "robots_allowed": 10,   # - robots.com/private/1
        "domain_capped": 9,     # - 1 site0.com over the cap
        "quality_lang": 9,      # min-quality 0 / any-lang: no casualty
        "c4_lines": 9,          # front half already line-cleaned
        "gopher": 8,            # - short.com (< 50 words)
        "exact_dedup": 7,       # - one of dup.com
        "near_dedup": 6,        # - one of near.com
    }
    assert summary["n_out"] == 6
    assert summary["c4_counts"] == {"total": 9, "kept": 9}
    assert summary["gopher_counts"]["total"] == 9
    assert summary["gopher_counts"]["kept"] == 8
    assert summary["gopher_counts"]["r_too_short"] >= 1
    assert summary["robots"] and summary["robots_agent"] == "*"
    con = duckdb.connect()
    rows = con.execute(
        "SELECT url, text, registered_domain FROM "
        f"read_parquet('{out_dir}/*/*.parquet', hive_partitioning=1)"
    ).fetchall()
    con.close()
    assert len(rows) == 6
    # --main-content killed the nav bar in every surviving doc
    assert all("Homelink" not in t for _, t, _ in rows)
    per_dom = Counter(d for *_, d in rows)
    assert per_dom["site0.com"] == 3 and per_dom["blocked.net"] == 0
    assert per_dom["robots.com"] == 1
    assert not any("/private/" in u for u, *_ in rows)


@pytest.mark.slow
def test_cli_prepare_from_jsonl(tmp_path):
    """`prepare --from-jsonl` reads gzipped JSONL with the explicit
    --input-schema (never inference) and runs the same curation
    pipeline: the exact-dup pair collapses, the split artifact carries
    the surviving docs."""
    import gzip
    import json

    src = tmp_path / "jl"
    src.mkdir()
    text = " ".join(f"word{i}" for i in range(40))
    rows = [
        {"doc_id": 1, "text": f"{text} one"},
        {"doc_id": 2, "text": f"{text} two"},
        {"doc_id": 3, "text": f"{text} one"},  # exact dup of 1
    ]
    with gzip.open(src / "docs.jsonl.gz", "wt") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    out_dir = str(tmp_path / "corpus")
    proc = _run_cli(
        "prepare", "--from-jsonl", "--docs", str(src),
        "--input-schema", "doc_id long, text string",
        "--out", out_dir, "--min-quality", "0", "--any-lang",
        "--no-near-dedup",
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert summary["n_out"] == 2
    import duckdb

    con = duckdb.connect()
    ids = {r[0] for r in con.execute(
        "SELECT doc_id FROM "
        f"read_parquet('{out_dir}/*/*.parquet', hive_partitioning=1)"
    ).fetchall()}
    con.close()
    assert ids == {1, 2}


@pytest.mark.slow
def test_cli_ingest_dsir_gate(spark, tmp_path):
    """`ingest --dsir-target/--dsir-reference` freezes the importance
    distribution into the state dir, `--dsir-min-key` gates each batch
    against it, and a later drain REUSES the frozen table without
    re-passing the target (VERDICT r8 #6). The threshold is calibrated
    from the frozen scores so the gate provably rejects someone."""
    import json

    from bag_parser_spark.operators import sampling
    from bag_parser_spark.streaming.corpus import _DSIR_BUCKETS, _DSIR_SEED

    def doc(i):
        if i % 2 == 0:
            return f"alpha beta gamma delta doc {i} alpha beta unique{i}"
        return f"zeta eta theta iota doc {i} kappa lambda unique{i}"

    docs = spark.createDataFrame(
        [(i, doc(i)) for i in range(1, 13)], "doc_id long, text string"
    )
    target = spark.createDataFrame(
        [(j, "alpha beta gamma alpha beta delta") for j in range(3)],
        "doc_id long, text string",
    )
    src = tmp_path / "incoming"
    src.mkdir()
    docs.coalesce(1).write.parquet(str(src / "d1.parquet"))
    tdir, rdir = str(tmp_path / "target"), str(tmp_path / "ref")
    target.coalesce(1).write.parquet(tdir)
    docs.coalesce(1).write.parquet(rdir)
    lam = sampling.dsir_lam_table(
        docs, target, n_buckets=_DSIR_BUCKETS, seed=_DSIR_SEED
    )
    keys = sorted(
        (r["sample_key"] for r in sampling.dsir_score_frozen(
            docs, lam, n_buckets=_DSIR_BUCKETS, seed=_DSIR_SEED
        ).collect()),
        reverse=True,
    )
    thr = keys[5]  # keep exactly 6 of 12
    r = _run_cli(
        "ingest", "--source", f"{src}/*",
        "--state", str(tmp_path / "state"),
        "--checkpoint", str(tmp_path / "ckpt"),
        "--dsir-target", tdir, "--dsir-reference", rdir,
        "--dsir-min-key", str(thr),
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert json.loads(r.stdout.strip().splitlines()[-1])["n_accepted"] == 6

    # second delivery: the frozen table is reused from the state dir —
    # no --dsir-target needed; same per-doc rule applies to new docs
    docs2 = spark.createDataFrame(
        [(i, doc(i)) for i in range(13, 17)], "doc_id long, text string"
    )
    docs2.coalesce(1).write.parquet(str(src / "d2.parquet"))
    expected2 = {
        row["doc_id"]
        for row in sampling.dsir_score_frozen(
            docs2, lam, n_buckets=_DSIR_BUCKETS, seed=_DSIR_SEED
        ).filter(F.col("sample_key") >= thr).collect()
    }
    r = _run_cli(
        "ingest", "--source", f"{src}/*",
        "--state", str(tmp_path / "state"),
        "--checkpoint", str(tmp_path / "ckpt"),
        "--dsir-min-key", str(thr),
    )
    assert r.returncode == 0, r.stderr[-2000:]
    got = json.loads(r.stdout.strip().splitlines()[-1])["n_accepted"]
    assert got == 6 + len(expected2)

    # min-key without any frozen state fails loudly with the pointer
    r = _run_cli(
        "ingest", "--source", f"{src}/*",
        "--state", str(tmp_path / "nostate"),
        "--checkpoint", str(tmp_path / "ckpt3"),
        "--dsir-min-key", "0.0",
    )
    assert r.returncode != 0
    assert "dsir_lam" in (r.stderr + r.stdout)
