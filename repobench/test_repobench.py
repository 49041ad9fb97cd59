"""Tests of the benchmark itself: the non-pruning guard, seeded inputs and
the metric contract. Run from the checkout root:

    python3 -m pytest repobench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from repobench import data, guard, oracle, run, trace  # noqa: E402
from repobench.workloads import PER_LAYER, WORKLOADS, Context  # noqa: E402

SMALL = {"features": 2_000, "tables": 0.001}


@pytest.fixture(scope="module")
def work(tmp_path_factory):
    return str(tmp_path_factory.mktemp("repobench"))


@pytest.fixture(scope="module")
def spark(work):
    from torchfusion_spark.session import session

    confs = run.isolate(ROOT, work, 2)
    s = session(app_name="repobench_tests", master="local[2]", extra_conf=confs)
    yield s
    run.stop_spark(s)


def _context(spark, work, name, seed=0):
    wl = WORKLOADS[name]
    inputs = data.materialize(work, seed, wl.inputs, SMALL[wl.inputs], wl.files)
    ctx = Context(spark, wl, inputs, work)
    ctx.setup()
    return ctx


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_timed_action_keeps_every_guarded_node(spark, work, name):
    ctx = _context(spark, work, name)
    lost = {s: guard.pruned(ctx.build(s)) for s in ctx.workload.statements}
    assert not any(lost.values()), lost


def test_count_drops_the_inference_udf(spark, work):
    df = _context(spark, work, "infer_scan").build("infer")
    assert guard.guarded_nodes(guard.full_plan(df))["ArrowEvalPython"] == 1
    assert guard.pruned(df, guard.count_plan) == {"ArrowEvalPython": (1, 0)}
    assert guard.pruned(df) == {}


def test_inference_check_catches_a_wrong_prediction(spark, work):
    ctx = _context(spark, work, "infer_scan")
    assert ctx.check("infer") == []
    t = pq.read_table(f"{ctx.inputs}/feats")
    x = t.column("embedding").combine_chunks().flatten().to_numpy().reshape(t.num_rows, -1)
    got = ctx.build("infer").toPandas()
    got.loc[0, "predicted"] = (got.loc[0, "predicted"] + 1) % 10
    assert oracle.check_predictions(got, x, t.column("vec_id").to_numpy())


def test_inputs_follow_the_seed(work):
    def tables(seed):
        out = data.materialize(work, seed, "tables", 0.001)
        return {t: pq.read_table(f"{out}/{t}.parquet") for t in oracle.TABLES}

    first, again, other = tables(3), tables(3), tables(4)
    for t in oracle.TABLES:
        assert first[t].equals(again[t])
        assert first[t].num_rows == other[t].num_rows
        assert first[t].schema == other[t].schema
    assert not first["lineitem"].equals(other["lineitem"])


def test_compare_is_order_insensitive_and_exact():
    import pandas as pd

    a = pd.DataFrame({"k": [1, 2], "v": ["x", "y"]})
    assert oracle.compare(a[::-1], a[["v", "k"]]) == []
    assert oracle.compare(a, a.assign(k=[1.0, 2.0]))  # 1 vs 1.0 differs


def test_parse_metric():
    assert trace.parse_metric("total (min, med, max (stageId: taskId))\n1.5 s (1 ms, 2 ms)") == 1.5
    assert trace.parse_metric("2.0 KiB") == 2048
    assert trace.parse_metric("12,345") == 12345
    assert trace.parse_metric("0 ms") == 0


def test_benchmark_json_matches_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert [m["name"] for m in spec["per_layer"]] == PER_LAYER
    assert {m["name"] for m in spec["end_to_end"]} == {"setup_s", "pass_s", "stmt_gmean_s", "rows_per_s"}
    assert all(run._unit(m["name"]) == m["unit"] for m in spec["end_to_end"] + spec["per_layer"])
