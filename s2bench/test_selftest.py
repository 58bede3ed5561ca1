"""Self-tests of the benchmark's own code (no Spark needed):

    python3 -m pytest s2bench/test_selftest.py -q
"""

from __future__ import annotations

import json
import math
import os
import statistics

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from s2bench import checks, inputs
from s2bench.metrics import END_TO_END_UNITS, PER_LAYER_UNITS
from s2bench.stats import geomean, median, quartile_spread, self_times
from s2bench.workloads import WORKLOADS

BENCH = json.load(open(os.path.join(os.path.dirname(os.path.dirname(__file__)), "BENCHMARK.json")))


def test_printed_metrics_match_benchmark_json():
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == PER_LAYER_UNITS
    assert [w["name"] for w in BENCH["workloads"]] == sorted(WORKLOADS)
    assert all(m["bound"] <= BENCH["end_to_end"][0]["bound"] for m in BENCH["end_to_end"])


def test_median_geomean_spread():
    assert median([3, 1, 2]) == 2
    assert median([4, 1, 3, 2]) == 2.5
    assert math.isclose(geomean([1, 4, 16]), 4.0)
    with pytest.raises(ValueError):
        geomean([1.0, 0.0])
    xs = [10, 11, 12, 13, 14, 15, 16, 17, 18, 19]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    assert math.isclose(quartile_spread(xs), (q3 - q1) / 14.5)


def test_span_self_times():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 1, "start": 2.0, "end": 3.0},
        {"id": 3, "parent": 0, "start": 5.0, "end": 9.0},
    ]
    assert self_times(spans) == {0: 3.0, 1: 2.0, 2: 1.0, 3: 4.0}
    # a subtree without its parent keeps the root's full duration
    assert self_times(spans[1:3]) == {1: 2.0, 2: 1.0}


def test_inputs_are_a_function_of_the_seed():
    a, b = inputs.events_table(7, 500), inputs.events_table(7, 500)
    assert a.equals(b)
    c = inputs.events_table(8, 500)
    assert not set(a.column("event_id").to_pylist()) & set(c.column("event_id").to_pylist())


def test_planted_wrong_components_fail():
    want = {1: (1, 2), 2: (1, 2), 5: (5, 1)}
    got = pd.DataFrame({"event_id": [1, 2, 5], "cluster_id": [1, 1, 5], "cluster_size": [2, 2, 1]})
    assert checks.check_components(got, want) == []
    got.loc[1, "cluster_id"] = 2
    assert checks.check_components(got, want)


def test_planted_wrong_oracle_row_fails():
    compare = checks.tool("check_oracles").compare
    ref = pd.DataFrame({"region_id": ["a", "b"], "event_id": [1, 2]})
    assert compare("q", ref.copy(), ref) == []
    assert compare("q", ref.assign(event_id=[1, 3]), ref)
    assert compare("q", ref.iloc[:1], ref)


def test_planted_wrong_manifest_and_caps_fail(tmp_path):
    stage = tmp_path / "joined"
    stage.mkdir()
    pq.write_table(pa.table({"x": np.arange(5)}), stage / "part-0.parquet")
    manifest = {"total_rows": 5, "partitions": [{"pid": 0, "rows": 5}]}
    (stage / "_MANIFEST.json").write_text(json.dumps(manifest))
    assert checks.manifest_problems(str(tmp_path), "joined") == []
    manifest["partitions"][0]["rows"] = 4
    (stage / "_MANIFEST.json").write_text(json.dumps(manifest))
    assert checks.manifest_problems(str(tmp_path), "joined")

    from rust_s2_spark.engine import specs

    rid, cx, cy, cz, _ = specs.cap_rows()[0]
    lat, lng = math.degrees(math.asin(cz)), math.degrees(math.atan2(cy, cx))
    geo = pd.DataFrame({"doc_id": ["in", "out"], "lat": [lat, -lat], "lng": [lng, lng + 180.0]})
    assert (rid, "in") in checks.cap_pairs(geo)
    assert all(d != "out" for _, d in checks.cap_pairs(geo))


def test_process_tree_and_cpu_seconds():
    from s2bench.run import cpu_s, descendants

    table = {1: (0, 0.0, 0.0), 2: (1, 0.0, 0.0), 3: (2, 0.0, 0.0), 4: (0, 0.0, 0.0)}
    assert sorted(descendants(1, table)) == [1, 2, 3]
    a = cpu_s()
    np.sort(np.random.default_rng(0).random(1 << 22))
    assert cpu_s() > a


def test_printed_passes_do_not_depend_on_wall_time(monkeypatch):
    import time
    from types import SimpleNamespace

    from s2bench import run

    r = run.Run.__new__(run.Run)
    r.spark = SimpleNamespace(sparkContext=None)
    monkeypatch.setattr(run, "memory_mb", lambda sc: {})
    for trace, want in ((0, [0, 0]), (1, [1, 0, 1, 0])):
        r.args, r.passes = SimpleNamespace(trace=trace, seconds=0), []
        r.run_pass = lambda traced: r.passes.append(int(traced))
        r.measure()
        assert r.passes == want and r.gated == len(want)
    # passes that fill --seconds go to the record, not into the printed figures
    r.args, r.passes = SimpleNamespace(trace=0, seconds=0.05), []
    r.run_pass = lambda traced: (time.sleep(0.01), r.passes.append(int(traced)))
    r.measure()
    assert r.gated == 2 and len(r.passes) > 2
