"""Self-tests of the benchmark (no Spark session needed).

    python3 -m pytest perfbench/tests -q

Run from the root of a checkout.
"""

from __future__ import annotations

import itertools
import json
import os

import pytest

from perfbench import data, stats
from perfbench.layers import per_layer
from perfbench.run import e2e_metrics

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


GENERATORS = {"tile_read": data.tile_read_cycles, "tile_write_mix": data.write_mix_cycles,
              "curation_batch": data.curation_cycles,
              "curation_full": lambda seed: data.curation_cycles(seed, data.CURATION_ALL)}


def _cycles(name: str, seed: int, n: int = 3) -> list:
    return list(itertools.islice(GENERATORS[name](seed), n))


@pytest.mark.parametrize("name", list(GENERATORS))
def test_same_seed_same_requests(name):
    assert _cycles(name, 7) == _cycles(name, 7)


@pytest.mark.parametrize("name", ["tile_read", "tile_write_mix", "curation_full"])
def test_different_seeds_differ(name):
    assert _cycles(name, 7) != _cycles(name, 8)


def test_stored_data_is_fixed(tmp_path):
    import pyarrow.parquet as pq

    def stored(name):
        d = str(tmp_path / name)
        data.write_tables(d)
        return [pq.read_table(f"{d}/{t}.parquet")
                for t in ("lineitem", "documents", "embeddings")]

    assert stored("a") == stored("b")


def test_every_cycle_holds_the_fixed_op_mix():
    for cycle in _cycles("tile_read", 3, 5):
        assert sorted(r["op"] for r in cycle) == sorted(data.TILE_READS)
    for seed in range(8):
        for i, cycle in enumerate(_cycles("tile_write_mix", seed, 4)):
            ops = [r["op"] for r in cycle]
            assert ops[:1] + ["uid_write"] + ops[2:] == list(data.WRITE_MIX)
            # update and delete alternate, so two cycles hold both
            assert ops[1] == data.UID_WRITES[i % 2]
            # every op of a cycle lands in its hot tile, but the heatmap
            assert len({r["tile"] for r in cycle[:-1]}) == 1
    for cycle in _cycles("curation_batch", 3, 2):
        assert sorted(r["op"] for r in cycle) == sorted(data.CURATION_ENTRIES)
    for cycle in _cycles("curation_full", 3, 2):
        assert sorted(r["op"] for r in cycle) == sorted(data.CURATION_ALL)
    assert set(data.CURATION_ENTRIES) <= set(data.CURATION_ALL)


def test_workloads_match_benchmark_json():
    from perfbench.run import WORKLOADS

    assert {w["name"] for w in _bench()["workloads"]} <= set(WORKLOADS)


def _samples(name: str) -> list[dict]:
    reqs = _cycles(name, 1, 1)[0]
    return [{"op": r["op"], "s": 0.5 + 0.1 * i, "ok": True, "cycle": c,
             "traced": c == 1, "span": f"pb{c}-{i}", "rows": len(r.get("rows", ()))}
            for c in (0, 1) for i, r in enumerate(reqs)]


# the end-to-end metrics every workload reports, and those of the op types
# in each workload's mix
COMMON_E2E = {
    "setup_s": "s", "requests_per_s": "ops/s", "error_rate": "ratio",
    "read_p50_s": "s", "pass_s": "s", "peak_rss_mb": "MB",
}
OP_E2E = {
    "tile_read": {"tile_p50_s": "s", "heatmap_p50_s": "s", "mvt_p50_s": "s",
                  "mvt_batch_p50_s": "s", "lookup_p50_s": "s"},
    "tile_write_mix": {"heatmap_p50_s": "s", "mvt_p50_s": "s", "write_p50_s": "s",
                       "ingest_rows_per_s": "rows/s"},
    "curation_batch": {},
    "curation_full": {},
}


@pytest.mark.parametrize("name", list(GENERATORS))
def test_every_end_to_end_metric_is_emitted_with_its_unit(name):
    from perfbench.run import E2E

    got = e2e_metrics([3.0, 1.0, 2.0], _samples(name), 1234.5)
    units = {k: u for k, (_v, u) in got.items()}
    assert units.items() >= {**COMMON_E2E, **OP_E2E[name]}.items()
    bench = {m["name"]: m["unit"] for m in _bench()["end_to_end"]}
    assert bench == {k: units[k] for k in E2E}
    assert all(got[k][0] > 0 for k in E2E)
    assert got["setup_s"][0] == 2.0
    assert got["error_rate"][0] == 0.0


def _event_log(tmp_path, groups: list[str]) -> str:
    d = tmp_path / "eventlog"
    d.mkdir()
    events = []
    sql = "org.apache.spark.sql.execution.ui."
    for j, g in enumerate(groups):
        scan = {"nodeName": "Scan parquet", "metrics": [
            {"name": "number of files read", "accumulatorId": 100 + j}]}
        events += [
            {"Event": sql + "SparkListenerSQLExecutionStart", "executionId": j,
             "sparkPlanInfo": {"nodeName": "Project", "metrics": [], "children": [scan]}},
            {"Event": sql + "SparkListenerDriverAccumUpdates", "executionId": j,
             "accumUpdates": [[100 + j, 2]]},
            {"Event": "SparkListenerJobStart", "Job ID": j, "Stage IDs": [j],
             "Properties": {"spark.jobGroup.id": g, "spark.sql.execution.id": str(j)}},
            {"Event": "SparkListenerTaskEnd", "Stage ID": j, "Task Metrics": {
                "Executor Run Time": 100, "Executor CPU Time": 5e7,
                "JVM GC Time": 1, "Input Metrics": {"Records Read": 10}}},
            {"Event": "SparkListenerStageCompleted", "Stage Info": {
                "Stage ID": j, "Accumulables": [
                    {"Name": "data sent to Python workers", "Value": 64}]}},
        ]
    (d / "app").write_text("\n".join(json.dumps(e) for e in events))
    return str(d)


@pytest.mark.parametrize("name", list(GENERATORS))
def test_every_per_layer_metric_is_emitted_with_its_unit(name, tmp_path):
    from perfbench.run import TRACED_E2E

    samples = _samples(name)
    spans = []
    for s in samples:
        if not s["traced"]:
            continue
        t = float(len(spans))
        spans.append({"id": s["span"], "parent": None, "name": "op", "op": s["op"],
                      "start": t, "end": t + s["s"], "cpu_s": 0.1})
        for k, ph in enumerate(("build", "plan", "exec")):
            spans.append({"id": f"{s['span']}{ph}", "parent": s["span"], "name": ph,
                          "start": t + 0.1 * k, "end": t + 0.1 * (k + 1), "cpu_s": 0.0})
    spans.append({"id": "src", "parent": None, "name": "sources.read",
                  "start": 0.0, "end": 0.01, "cpu_s": 0.0})
    log = _event_log(tmp_path, [s["id"] for s in spans if s["name"] in ("build", "exec")])
    got, op_split = per_layer(samples, spans, log, {})
    want = {m["name"]: m["unit"] for m in _bench()["per_layer"]}
    assert {k: u for k, (_v, u) in got.items()} | TRACED_E2E == want
    assert got["api.build_jobs"][0] == 1.0
    assert got["spark.jobs"][0] == 2.0
    assert got["table_ops.files_read"][0] == 4.0
    assert got["python.bytes_sent"][0] == 128.0
    assert set(op_split) >= {s["op"] for s in samples}


@pytest.mark.parametrize("trace, min_cycles, want", [(0, 1, 1), (0, 3, 3), (1, 1, 2)])
def test_measure_runs_at_least_min_cycles(trace, min_cycles, want):
    """With no time to fill, a run measures the workload's floor of
    cycles (a traced run one untraced and one traced)."""
    import argparse
    import types

    from perfbench.run import _measure

    class FakeSpark:
        sparkContext = types.SimpleNamespace(setLocalProperty=lambda *a: None)

    wl = types.SimpleNamespace(min_cycles=min_cycles, probe_source=lambda: None,
                               call=lambda req: (None, lambda: True))
    from perfbench.trace import Tracer

    cycles = iter([[{"op": "a"}, {"op": "b"}]] * 10)
    args = argparse.Namespace(seconds=0.0, trace=trace)
    samples, ok_n, bad_n = _measure(wl, cycles, Tracer(FakeSpark(), False), args)
    assert len({s["cycle"] for s in samples}) == want
    assert (ok_n, bad_n) == (2 * want, 0)


def test_tail_keeps_ten_samples_beyond():
    xs = list(range(1, 41))
    value, pct, n = stats.tail(xs)
    assert (value, pct, n) == (30, 75.0, 40)
    assert sum(x > value for x in xs) == 10
    assert stats.tail(xs[:10]) is None


def test_cycle_time_sums_per_op_medians():
    samples = [{"op": "a", "s": s, "cycle": c} for c, s in enumerate((1.0, 3.0))]
    samples += [{"op": "b", "s": 2.0, "cycle": c} for c in (0, 1)]
    assert stats.cycle_time(samples) == 4.0


def test_feature_model_matches_heatmap_oracle(tmp_path):
    """The model's heatmap and tile counts equal the program's DuckDB
    oracle SQL over the same stored data."""
    from tank_spark.operators.heatmap import heatmap_oracle
    from tank_spark.operators.tiles import _oracle

    from perfbench.oracle import FeatureModel, duckdb_con

    sf = str(tmp_path)
    data.write_tables(sf)
    model = FeatureModel.from_duckdb(sf)
    con = duckdb_con(sf, ("lineitem",))
    for tile in ((9, 80, 196), (13, 1281, 3137), (14, 2562, 6275), data.OVERVIEW):
        want = sorted(tuple(r) for r in con.execute(heatmap_oracle(*tile)).fetchall())
        assert model.heatmap(*tile) == want
        for kind in (None, "road"):
            n = len(con.execute(_oracle(*tile, kind)).fetchall())
            assert model.count(*tile, kind) == n


def test_feature_model_follows_uid_writes():
    from perfbench.oracle import FeatureModel

    model = FeatureModel([(5, "a", "road"), (5, "b", "poi"), (9, "c", "road")])
    from tank_spark.geom.morton import interleave

    tile = next((x, y) for x in range(8) for y in range(8) if interleave(x, y) == 5)
    assert model.pick(tile, 0.0) == "a" and model.pick(tile, 0.99) == "b"
    model.update("a", "water")
    assert model.counts[5] == {"road": 0, "poi": 1, "water": 1}
    model.delete("b")
    assert model.pick(tile, 0.99) == "a"
    model.delete("a")
    assert model.pick(tile, 0.0) == "c"  # the next live feature in hash order
    assert model.total() == 1
