"""The benchmark's own tests (no Spark session needed):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from datetime import datetime, timezone

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import harness  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402

JUNE = datetime(2024, 6, 15, tzinfo=timezone.utc)
MARCH = datetime(2026, 3, 2, tzinfo=timezone.utc)


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


# --- seeded inputs ---------------------------------------------------------

def test_tables_same_seed_identical_other_seed_different():
    a, b, c = (inputs.table_arrays(s) for s in (7, 7, 8))
    assert a.keys() == b.keys() == c.keys()
    for name in a:
        assert a[name].equals(b[name]), name
    differ = [n for n in a if not a[n].equals(c[n])]
    # every generated table but the two fixed dimensions moves
    assert sorted(set(a) - set(differ)) == ["nation", "region"]


def test_feeds_same_seed_identical_other_seed_different():
    a = inputs.hub_feed_records(3, 60, now=JUNE)
    b = inputs.hub_feed_records(3, 60, now=JUNE)
    c = inputs.hub_feed_records(4, 60, now=JUNE)
    assert a == b
    assert a["month1"] != c["month1"]


def test_fresh_share_is_set_by_seed_not_run_date():
    a = inputs.hub_feed_records(5, 200, now=JUNE)
    b = inputs.hub_feed_records(5, 200, now=MARCH)
    assert a["fresh"] == b["fresh"]
    assert 0.3 < len(a["fresh"]) / 220 < 0.9
    # last_modified follows the month it is generated in
    assert a["month1"]["models"][0]["last_modified"] != \
        b["month1"]["models"][0]["last_modified"]
    assert inputs.expected_release_counts(a) == \
        inputs.expected_release_counts(b)


def test_incremental_counts_only_grow_by_fresh_and_new_repos():
    recs = inputs.hub_feed_records(9, 150, now=JUNE)
    first, second = inputs.expected_release_counts(recs)
    assert second["repository"] == 150 + 15
    assert all(second[t] >= first[t] for t in first)
    assert second["tag"] >= first["tag"]


def test_delivery_stream_seeded():
    a = inputs.delivery_stream(1, 3, 1000)
    b = inputs.delivery_stream(1, 3, 1000)
    c = inputs.delivery_stream(2, 3, 1000)
    for x, y in zip(a["edge_batches"], b["edge_batches"]):
        assert all(np.array_equal(p, q) for p, q in zip(x, y))
    assert np.array_equal(a["emb"], b["emb"])
    assert not np.array_equal(a["emb"], c["emb"])
    assert a["docs"]["text"] == b["docs"]["text"]


def test_expected_components_union_find():
    # chains of 10 over 100 vertices; bridge chain 20.. to chain 0..,
    # then chain 50.. to 20.., and fresh vertex 100 onto vertex 55
    batches = [(np.array([25]), np.array([3])),
               (np.array([51, 100]), np.array([22, 55]))]
    got = inputs.expected_components(100, batches)
    assert got[20] == 0 and got[50] == 0 and got[100] == 0


# --- statistics and sample counts -----------------------------------------

def test_percentile_is_nearest_rank():
    xs = list(range(1, 11))  # 1..10
    assert harness.percentile(xs, 50) == 5
    assert harness.percentile(xs, 90) == 9
    assert harness.percentile(xs, 100) == 10
    assert harness.percentile([4.0], 90) == 4.0
    assert harness.percentile(list(range(100)), 90) == 89
    with pytest.raises(ValueError):
        harness.percentile([], 50)


def test_median():
    assert harness.median([3, 1, 2]) == 2
    assert harness.median([4, 1, 2, 3]) == 2.5


def test_run_passes_counts_samples_and_passes():
    calls = []

    def make_pass(i):
        return [harness.Op(f"op{i}_{j}", "m",
                           run=lambda j=j: calls.append(j) or j,
                           check=lambda r: r != 2,
                           rows=lambda r: 10)
                for j in range(4)]

    timed = harness.run_passes(make_pass, 3)
    assert len(timed.pass_seconds) == 3
    assert len(timed.samples) == 12 == len(calls)
    assert [s.ok for s in timed.samples].count(False) == 3
    assert all(abs(p - sum(s.seconds for s in timed.samples[4 * i:4 * i + 4]))
               < 1e-12 for i, p in enumerate(timed.pass_seconds))


def test_pass_count_depends_on_seconds_only():
    assert harness.pass_count(20, 9.5) == 2
    assert harness.pass_count(20, 10.5) == 1
    assert harness.pass_count(20, 45.0) == 1
    assert harness.pass_count(20, 6.0) == 3


def test_raising_op_counts_as_failed():
    def boom():
        raise RuntimeError("x")

    s = harness.run_op(harness.Op("bad", "m", boom, check=lambda r: True))
    assert not s.ok and "RuntimeError" in s.error


def test_end_to_end_quantiles_from_samples():
    timed = harness.Timed(
        samples=[harness.Sample(f"q{i}", "m", i / 100.0, True, 5)
                 for i in range(1, 21)],
        pass_seconds=[1.0, 3.0, 2.0])
    out = run.end_to_end(timed, 7.0, 512.0)
    assert out["op_p50_ms"][0] == pytest.approx(100.0)
    assert "op_p90_ms" not in out  # 20 ops: fewer than 10 beyond p90
    assert out["wall_s"][0] == 2.0
    assert out["rows_per_s"][0] == pytest.approx(100 / 2.1)


def test_p90_reported_from_100_ops():
    timed = harness.Timed(
        samples=[harness.Sample(f"q{i}", "m", i / 1000.0, True, 1)
                 for i in range(1, 101)],
        pass_seconds=[5.05])
    out = run.end_to_end(timed, 1.0, 1.0)
    assert out["op_p90_ms"][0] == pytest.approx(90.0)
    assert out["op_p50_ms"][0] == pytest.approx(50.0)


def test_rows_per_s_counts_write_ops_where_there_are_any():
    reads = [harness.Sample("r", "m", 1.0, True, 1000)]
    writes = [harness.Sample("w", "m", 2.0, True, 50, writes=True),
              harness.Sample("w", "m", 3.0, True, 150, writes=True)]
    assert harness.rows_per_s(reads) == 1000.0
    assert harness.rows_per_s(reads + writes) == 40.0


# --- result hashing --------------------------------------------------------

def test_result_hash_ignores_row_and_column_order():
    a = pd.DataFrame({"x": [2, 1], "y": ["b", "a"], "z": [0.0, -0.0]})
    b = pd.DataFrame({"z": [0.0, 0.0], "y": ["a", "b"], "x": [1, 2]})
    assert harness.result_hash(a) == harness.result_hash(b)
    c = b.assign(z=[0.0, 1e-300])
    assert harness.result_hash(a) != harness.result_hash(c)


def test_result_hash_normalizes_types():
    a = pd.DataFrame({"i": np.array([1, 2], dtype=np.int32),
                      "v": [np.array([1.0, 2.0]), None],
                      "t": pd.to_datetime(["2024-01-01", "2024-01-02"])
                      .tz_localize("UTC")})
    b = pd.DataFrame({"i": [2, 1], "v": [None, [1.0, 2.0]],
                      "t": pd.to_datetime(["2024-01-02", "2024-01-01"])})
    assert harness.result_hash(a) == harness.result_hash(b)


# --- the metric contract ---------------------------------------------------

def test_end_to_end_metrics_match_benchmark_json():
    timed = harness.Timed(
        samples=[harness.Sample("q", "m", 0.5, True, 1)] * 3,
        pass_seconds=[1.5])
    printed = run.end_to_end(timed, 1.0, 1.0)
    declared = {m["name"]: m["unit"] for m in _benchmark()["end_to_end"]}
    assert {k: u for k, (_v, u) in printed.items()} == declared


def test_per_layer_metrics_match_benchmark_json():
    declared = {m["name"]: m["unit"] for m in _benchmark()["per_layer"]}
    printed = {n: tracing.unit_of(n) for n in tracing.metric_names()}
    assert printed == declared
    assert len(printed) == len(tracing.metric_names())


def test_benchmark_json_shape():
    b = _benchmark()
    assert set(b) == {"command", "paths", "run_seconds", "workloads",
                      "end_to_end", "per_layer"}
    setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s"
    assert setup[0]["bound"] == max(m["bound"] for m in b["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in b["end_to_end"])
    from workloads import WORKLOADS

    assert {w["name"] for w in b["workloads"]} <= set(WORKLOADS)


def test_serving_runs_every_registry_module():
    """Every ``<module>.op_s`` per-layer metric has an op in a
    ``serving`` pass: a registry query, or a maintained-index fold."""
    sys.path.insert(1, ROOT)
    from hfcommunity_spark.queries import all_queries
    from workloads import ServingReads, _module_of

    registry = all_queries()
    ran = {_module_of(registry[n]) for n in ServingReads.queries}
    ran |= {module for module, _fn in tracing.WRITERS.values()}
    assert set(tracing.REGISTRY_MODULES) <= ran


def test_union_of_intervals():
    assert tracing._union([(0, 2), (1, 3), (5, 6), (6, 6)]) == 4
    assert tracing._union([]) == 0


def test_refuses_to_run_without_the_engine(tmp_path):
    """In a directory holding only BENCHMARK.json and perfbench/, the
    command exits non-zero without printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "curation",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
