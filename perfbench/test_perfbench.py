"""Tests of the benchmark itself: ``python -m pytest perfbench -q`` from the
repository root."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import run  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_match_benchmark_json():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    assert [w["name"] for w in spec["workloads"]] == ["bag", "catalog_core"]


def _zip_members(root: str) -> dict[str, bytes]:
    import zipfile

    out = {}
    for name in sorted(os.listdir(root)):
        if name.endswith(".zip"):
            with zipfile.ZipFile(os.path.join(root, name)) as zf:
                out.update({m: zf.read(m) for m in zf.namelist()})
    return out


def test_bag_seed_changes_inputs_not_counts(tmp_path):
    a, b, a2 = (str(tmp_path / k) for k in ("a", "b", "a2"))
    inputs.generate_bag_delivery(a, 1000, seed=1)
    inputs.generate_bag_delivery(b, 1000, seed=2)
    inputs.generate_bag_delivery(a2, 1000, seed=1)
    assert _zip_members(a) == _zip_members(a2)
    ma, mb = _zip_members(a), _zip_members(b)
    assert ma != mb
    # same records per entity, whatever the seed
    count = lambda m, tag: sum(v.count(f"<Objecten:{tag}>".encode()) for v in m.values())
    for tag in ("Nummeraanduiding", "Verblijfsobject", "Pand", "Ligplaats"):
        assert count(ma, tag) == count(mb, tag)
    assert count(ma, "Nummeraanduiding") == inputs.bag_counts(1000)["raw.nummers"]
    # the seed moves postcodes between nummers, never changes their set
    pcs = lambda m: {
        p[:6] for v in m.values()
        for p in v.decode().split("<Objecten:postcode>")[1:]
    }
    assert pcs(ma) == pcs(mb)
    assert len(pcs(ma)) == inputs.postcode_groups(1000)["p6"]


def test_catalog_seed_orders_queries_over_fixed_tables(tmp_path):
    import pyarrow.parquet as pq

    import workloads

    a = workloads.CatalogWorkload(str(tmp_path), seed=1)
    b = workloads.CatalogWorkload(str(tmp_path), seed=2)
    assert a.order != b.order and sorted(a.order) == sorted(b.order) == sorted(workloads.CORE)
    assert a.order == workloads.CatalogWorkload(str(tmp_path), seed=1).order
    inputs.generate_catalog_tables(str(tmp_path / "again"))
    for t, n in inputs.CATALOG_ROWS.items():
        ta = pq.read_table(os.path.join(a.tables, f"{t}.parquet"))
        assert ta.num_rows == n
        assert ta.equals(pq.read_table(tmp_path / "again" / f"{t}.parquet"))


def _warc_pages(root: str) -> list[bytes]:
    import gzip

    return [gzip.decompress(open(os.path.join(root, f), "rb").read())
            for f in sorted(os.listdir(root))]


def test_crawl_seed_changes_inputs_not_counts(tmp_path):
    a, b, a2 = (str(tmp_path / k) for k in ("a", "b", "a2"))
    inputs.generate_crawl(a, 200, seed=1)
    inputs.generate_crawl(b, 200, seed=2)
    inputs.generate_crawl(a2, 200, seed=1)
    assert _warc_pages(a) == _warc_pages(a2)
    assert _warc_pages(a) != _warc_pages(b)
    for root in (a, b):
        assert sum(p.count(b"WARC-Type: response") for p in _warc_pages(root)) == 200
    want = inputs.crawl_counts(200)
    assert want["stages"]["near_dedup"] == 200 - 4 * 10


def test_self_time_subtracts_children():
    from observe import Span, Tracer

    tr = Tracer()
    tr.spans = [Span("op:x", 0.0, 10.0, None, 0), Span("a:1", 1.0, 4.0, 0, 0),
                Span("a:2", 3.0, 6.0, 0, 0)]
    assert tr.self_times() == pytest.approx([5.0, 3.0, 3.0])


def test_tracing_overhead_uses_untraced_runs_of_the_same_code(tmp_path, monkeypatch):
    monkeypatch.setattr(run, "WORK", str(tmp_path))
    runs = tmp_path / "runs"
    runs.mkdir()
    for seed, code, secs in ((1, "new", 10.0), (2, "new", 12.0), (3, "old", 50.0)):
        rec = {"code": code, "ops": [{"seconds": secs}, {"seconds": 99.0}]}
        (runs / f"bag-seed{seed}-trace0.json").write_text(json.dumps(rec))
    (runs / "bag-seed4-trace1.json").write_text(json.dumps(
        {"code": "new", "ops": [{"seconds": 70.0}]}))
    assert run._untraced_op_seconds("bag", "new") == 11.0
    assert run._untraced_op_seconds("bag", "other") is None
    assert run._untraced_op_seconds("catalog_core", "new") is None


def test_process_tree_readings():
    import observe

    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)"])
    try:
        assert child.pid in observe.descendants()
        cpu = observe.tree_cpu()
        assert cpu["driver_py"] > 0 and "py" in cpu
        rss = observe.tree_peak_rss()
        assert rss["driver_py"] > 0 and rss["n_py"] >= 1
    finally:
        child.kill()
        child.wait()


def _run(*args: str) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), *args],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["bag", "catalog_core"])
def test_smoke_run(workload):
    out = _run("--workload", workload, "--seed", "3", "--seconds", "1",
               "--trace", "0", "--smoke")
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 2
    assert set(out["metrics"]) == set(run.END_TO_END)
    assert all(m["value"] > 0 for m in out["metrics"].values())


@pytest.mark.parametrize("workload,layer", [
    ("bag", "bag_xml.nummeraanduiding_s"),
    ("catalog_core", "corpus_prep.curate_s"),
])
def test_smoke_traced_run(workload, layer):
    out = _run("--workload", workload, "--seed", "3", "--seconds", "1",
               "--trace", "1", "--smoke")
    assert out["correct"]
    assert set(out["metrics"]) == set(run.per_layer_units())
    assert out["metrics"][layer]["value"] > 0
    assert out["metrics"]["spark.jobs"]["value"] > 0


def test_fails_without_the_program(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for f in ("run.py", "inputs.py", "workloads.py", "observe.py"):
        (bench / f).write_bytes(open(os.path.join(HERE, f), "rb").read())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "bag", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert proc.returncode != 0 and not proc.stdout.strip()
