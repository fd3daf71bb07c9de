"""Measurement-core tests: bench.py's host-derived heap, its driver
contract (the BENCH_FULL.json key set and the bounded stdout line), and
the tools built on it — tools/battery.py never clobbers the committed
battery, tools/bench_scale.py never clobbers a snapshot's hand-kept
fields."""

import json
import sys

import pytest

import bench
from sensor_data_pipeline_spark import plans
from sensor_data_pipeline_spark.plans import QuerySpec

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture
def _no_env(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)


def test_heap_env_override_wins(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    monkeypatch.setattr(bench, "_host_mem_gib", lambda: 512.0)
    assert bench.driver_heap() == "3g"


def test_heap_capped_at_24g(_no_env, monkeypatch):
    monkeypatch.setattr(bench, "_host_mem_gib", lambda: 512.0)
    assert bench.driver_heap() == "24g"


@pytest.mark.parametrize("host_gib", [1.0, 2.0, 7.7, 15.6, 35.9])
def test_heap_never_exceeds_host_ram(_no_env, monkeypatch, host_gib):
    monkeypatch.setattr(bench, "_host_mem_gib", lambda: host_gib)
    heap = bench.driver_heap()
    assert heap.endswith("g") and 1 <= int(heap[:-1]) <= host_gib


def test_heap_fits_this_host(_no_env):
    assert int(bench.driver_heap()[:-1]) <= bench._host_mem_gib()


def _broken(spark, sf_dir):
    raise RuntimeError("seeded failure\nsecond line")


def test_bench_driver_contract(spark, tmp_path, monkeypatch, capsys):
    """bench.main on a two-query registry plus one failing query: the
    artifact carries the BENCH_FULL key set, the printed line parses
    within 2000 chars, and the failure sets the return code."""
    keep = ("q01_pricing_summary", "q07_agg_stats")
    registry = {n: plans.REGISTRY[n] for n in keep}
    registry["q00_broken"] = QuerySpec("q00_broken", _broken, None, "test")
    monkeypatch.setattr(plans, "REGISTRY", registry)
    monkeypatch.setattr(bench, "start_session", lambda app_name: spark)
    monkeypatch.setattr(bench, "SF_DIR", SF_SMOKE)
    artifact = tmp_path / "BENCH_FULL.json"
    monkeypatch.setenv("BENCH_ARTIFACT", str(artifact))

    assert bench.main() == 1

    full = json.loads(artifact.read_text())
    assert set(full) == {
        "metric", "value", "unit", "headline_definition", "queries",
        "cold_total", "cold_queries", "warm_total", "warm_queries", "sf",
        "failures",
    }
    assert set(full["queries"]) == set(full["cold_queries"]) == set(keep)
    assert full["failures"] == {"q00_broken": "seeded failure"}
    assert full["sf"] == 0.001
    assert full["value"] == round(sum(full["queries"].values()), 3)

    line = capsys.readouterr().out.strip().splitlines()[-1]
    assert len(line) <= 2000
    out = json.loads(line)
    assert set(out) == {
        "metric", "value", "unit", "headline", "sf", "warm_total",
        "n_queries", "detail", "queries", "failures", "queries_omitted",
    }
    assert out["n_queries"] == 2
    assert out["queries_omitted"] == 2 - len(out["queries"])
    assert set(out["failures"]) == {"q00_broken"}


def test_battery_failed_run_leaves_committed_battery(tmp_path, monkeypatch):
    from tools import battery, battery_guard

    committed = tmp_path / "BATTERY.json"
    committed.write_text(json.dumps({"queries": {"q1": 2.0, "q2": 3.0}, "value": 5.0}))
    before = committed.read_bytes()
    suite = {
        "metric": "declared_query_suite_wall_clock", "value": 5.0, "unit": "sec",
        "queries": {"q1": 2.0, "q2": 3.0}, "warm_total": 5.0, "sf": 0.1,
        "failures": {"q3": "boom"},
    }
    monkeypatch.setattr(battery_guard, "ROOT", str(tmp_path))
    monkeypatch.setattr(sys, "argv", ["battery.py", SF_SMOKE])
    monkeypatch.setattr(bench, "start_session", lambda app_name: None)
    monkeypatch.setattr(bench, "warm", lambda spark, sf_dir: None)
    monkeypatch.setattr(bench, "run_suite", lambda spark, sf_dir: dict(suite))

    assert battery.main() == 1
    assert committed.read_bytes() == before
    assert not (tmp_path / "BENCH_FULL.json").exists()

    # a clean run replaces it, guard fields computed against the old one
    del suite["failures"]
    assert battery.main() == 0
    new = json.loads(committed.read_text())
    assert new["host_factor_vs_prev"] == 1.0 and new["regressions_vs_prev"] == {}
    assert (tmp_path / "BENCH_FULL.json").read_bytes() == committed.read_bytes()


def test_bench_scale_merge_keeps_hand_kept_fields(tmp_path):
    """An sf1 -> sf10 run lands in BENCH_SF10.json under sf1/sf10 labels
    and leaves the snapshot's metric, definition and note alone."""
    from tools import bench_scale

    assert bench_scale.scale_labels("/x/sf0.1", "/x/.scratch/sf1") == (
        "sf0.1_sec", "sf1_sec", "BENCH_SF1.json",
    )
    lbl_small, lbl_big, name = bench_scale.scale_labels("/x/sf1", "/x/sf10")
    assert (lbl_small, lbl_big, name) == ("sf1_sec", "sf10_sec", "BENCH_SF10.json")
    with pytest.raises(SystemExit):
        bench_scale.scale_labels("/x/replica", "/x/sf10")

    path = tmp_path / name
    kept = {
        "metric": "scaleup_stress_100x",
        "definition": "hand-kept definition",
        "note": "hand-kept note",
        "queries": {"qa": {"sf1_sec": 1.0, "sf10_sec": 5.0, "ratio": 5.0}},
        "max_ratio": 5.0,
    }
    path.write_text(json.dumps(kept))
    row = {"sf1_sec": 1.0, "sf10_sec": 8.0, "ratio": 8.0}
    bench_scale.write_artifact(str(path), {"qb": row}, lbl_small, lbl_big)

    doc = json.loads(path.read_text())
    for field in ("metric", "definition", "note"):
        assert doc[field] == kept[field]
    assert doc["queries"] == {**kept["queries"], "qb": row}
    assert doc["max_ratio"] == 8.0
