"""The benchmark's own tests. They need no Spark session:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
FIXTURES = os.path.join(HERE, "fixtures")
sys.path.insert(0, ROOT)

from perfbench import check, datagen, mix, run, tracing  # noqa: E402


@pytest.fixture(scope="module")
def registry():
    from sensor_data_pipeline_spark.plans import REGISTRY

    return REGISTRY


# ---------------------------------------------------------------------------
# same seed, same inputs
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("workload", sorted(mix.MIXES))
def test_same_seed_same_mix(registry, workload):
    cats, n = mix.MIXES[workload]
    names = mix.pool(registry, cats)
    costs = mix.load_costs()
    a = mix.sample(names, n, 7, costs)
    assert a == mix.sample(names, n, 7, costs)
    assert len(a) == n == len(set(a)) and set(a) <= set(names)
    assert a != mix.sample(names, n, 8, costs)


def test_query_floor_pool_is_the_relational_and_sensor_families(registry):
    assert len(mix.pool(registry, mix.QUERY_FLOOR_CATEGORIES)) == 174


def test_every_pool_query_can_be_drawn(registry):
    cats, n = mix.MIXES["query-floor"]
    names = mix.pool(registry, cats)
    seen = set()
    for seed in range(2000):
        seen.update(mix.sample(names, n, seed, mix.load_costs()))
    assert seen == set(names)


def test_seeded_mixes_cost_about_the_same(registry):
    cats, n = mix.MIXES["query-floor"]
    names, costs = mix.pool(registry, cats), mix.load_costs()
    totals = [sum(costs[q] for q in mix.sample(names, n, seed, costs)) for seed in range(20)]
    assert max(totals) / min(totals) < 1.15


def _bytes(d):
    return {f: open(os.path.join(d, f), "rb").read() for f in sorted(os.listdir(d))}


def test_same_seed_same_tables_byte_for_byte(tmp_path):
    datagen.write_tables(str(tmp_path / "a"), 3, 0.001)
    datagen.write_tables(str(tmp_path / "b"), 3, 0.001)
    datagen.write_tables(str(tmp_path / "c"), 4, 0.001)
    a, b, c = (_bytes(str(tmp_path / x)) for x in "abc")
    assert a == b
    assert a["lineitem.parquet"] != c["lineitem.parquet"]


def test_same_seed_same_sensor_files():
    a = datagen.sensor_file(5, 12, 500, 0.5)
    assert a == datagen.sensor_file(5, 12, 500, 0.5)
    assert a[0] != datagen.sensor_file(6, 12, 500, 0.5)[0]
    assert a[0] != datagen.sensor_file(5, 13, 500, 0.5)[0]


def test_sensor_file_counts_its_corrupt_rows():
    data, bad = datagen.sensor_file(1, 0, 4000, 0.5)
    lines = data.decode().splitlines()
    assert len(lines) == 4000
    n_bad = 0
    for line in lines:
        msg = json.loads(line)
        assert msg["topic"].startswith("sensors/dev-")
        try:
            json.loads(msg["payload"])
        except json.JSONDecodeError:
            n_bad += 1
    assert n_bad == bad and 40 <= bad <= 120  # about 2%


# ---------------------------------------------------------------------------
# percentiles
# ---------------------------------------------------------------------------


def test_tail_percentile_needs_ten_samples_beyond():
    assert tracing.tail_percentile(list(range(99)), 0.9) is None  # rank 90: 9 beyond
    assert tracing.tail_percentile(list(range(1, 101)), 0.9) == 90.0  # 10 beyond
    assert tracing.tail_percentile(list(range(1, 1001)), 0.99) == 990.0
    assert tracing.tail_percentile([1.0] * 15, 0.5) is None


def test_median_and_weighted_median():
    assert tracing.median([3.0, 1.0, 2.0]) == 2.0
    assert tracing.weighted_median([(5.0, 1), (1.0, 10), (9.0, 1)]) == 1.0
    assert tracing.weighted_median([(1.0, 1), (2.0, 1), (3.0, 8)]) == 3.0


def test_spans_self_time():
    tr = tracing.Tracer("t")
    with tr.span("query", "q"):
        with tr.span("plans.build", "q"):
            pass
    outer, inner = tr.spans
    assert inner["parent"] == 0 and outer["parent"] is None
    st = tr.self_times()
    assert st["query"] == pytest.approx(outer["end"] - outer["start"] - (inner["end"] - inner["start"]))


# ---------------------------------------------------------------------------
# log parsers, on committed fixtures
# ---------------------------------------------------------------------------


def test_event_log_parser():
    groups = tracing.parse_event_log(os.path.join(FIXTURES, "eventlog.json"))
    q1, q2 = groups["q1|warm|collect"], groups["q2|warm|build"]
    assert q1["jobs"] >= 1 and q1["stages"] >= 2  # a shuffle: map and reduce stages
    assert q1["shuffle_write_bytes"] > 0 and q1["shuffle_read_bytes"] > 0
    assert q1["tasks"] >= 4 and q1["run_ms"] >= 0 and q1["cpu_ns"] > 0
    assert q2["jobs"] == 1 and q2["stages"] == 1 and q2["tasks"] == 2
    assert q2["shuffle_write_bytes"] == 0
    assert q2["last_job_end_ms"] >= q1["last_job_end_ms"] > 0


def test_checkpoint_parsers_read_compact_files():
    ckpt = os.path.join(FIXTURES, "checkpoint")
    names = os.listdir(os.path.join(ckpt, "sources", "0"))
    assert any(n.endswith(".compact") for n in names)
    claims = tracing.source_file_batches(ckpt)
    assert sorted(claims) == [f"f{i}.txt" for i in range(4)]
    assert all(len(ids) == 1 for ids in claims.values())
    assert sorted(next(iter(ids)) for ids in claims.values()) == [0, 1, 2, 3]
    assert set(tracing.commit_times(ckpt)) >= {0, 1, 2, 3}


# ---------------------------------------------------------------------------
# output checks
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def tiny_data(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("tiny"))
    datagen.write_tables(d, 11, 0.001)
    return d


def test_oracle_check_catches_a_dropped_row(registry, tiny_data):
    from pyspark.sql import types as T

    spec = registry["q01_pricing_summary"]
    con = check.duck_conn(tiny_data)
    cols, rows = check.oracle_rows(con, spec.oracle, set())
    assert len(rows) > 1
    schema = T.StructType([T.StructField(c, T.StringType()) for c in cols])
    good = pd.DataFrame(rows, columns=cols).astype(object)
    assert check.check_query(con, spec, good, schema) is None
    mutant = good.iloc[1:]
    assert "rows" in check.check_query(con, spec, mutant, schema)
    changed = good.copy()
    changed.iloc[0, 0] = "x"
    assert check.check_query(con, spec, changed, schema) == "value hash differs"


def test_spark_rows_restore_collect_values():
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("i", T.LongType()),
            T.StructField("d", T.DoubleType()),
            T.StructField("s", T.StringType()),
            T.StructField("t", T.TimestampType()),
        ]
    )
    pdf = pd.DataFrame(
        {
            "i": [1.0, float("nan")],
            "d": [0.5, float("nan")],
            "s": ["a", None],
            "t": [pd.Timestamp("2024-01-01 00:00:01"), pd.NaT],
        }
    )
    rows = check.spark_rows(pdf, schema)
    assert rows[0][0] == 1 and isinstance(rows[0][0], int)
    assert rows[1][0] is None and rows[1][2] is None and rows[1][3] is None
    assert rows[1][1] != rows[1][1]  # null double reads as NaN, as on the oracle side
    assert str(rows[0][3]) == "2024-01-01 00:00:01"


# ---------------------------------------------------------------------------
# BENCHMARK.json agrees with what run.py prints
# ---------------------------------------------------------------------------


def test_benchmark_json_matches_declared_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


def test_result_line_fills_unexercised_layers_with_zero():
    out = run._format({"correct": True, "attempted": 3, "failed": 0, "metrics": {"plans.build_s": (0.2, "s")}}, True)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["metrics"]["plans.build_s"] == {"value": 0.2, "unit": "s"}
    assert out["metrics"]["streaming.batches"] == {"value": 0, "unit": "count"}
    with pytest.raises(RuntimeError):
        run._format({"correct": True, "attempted": 1, "failed": 0, "metrics": {"nope": (1, "s")}}, False)
