"""Benchmark self-test at a tiny size: metrics print with their units,
each output check rejects a wrong row or count, and inputs follow the
seed.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
from collections import Counter

import pandas as pd
import pytest

from fbench import checks, gen, metrics
from fbench.params import FULL
from fbench.runner import measure
from fbench.workloads import WORKLOADS

# the measured shapes, shrunk so each run takes seconds
TINY = {
    "cdc_ingest": {
        **FULL["cdc_ingest"], "tenants": 16, "buckets": 4, "base_ids": 20, "batch_rows": 40,
        "warm_ops": 1,
    },
    "serve_lookup": {
        **FULL["serve_lookup"], "users": 50, "trickle_every": 5, "trickle_rows": 4, "warm_ops": 1,
    },
}

# a tenant -> bucket map for generator-only tests
CDC_BUCKETS = [t % TINY["cdc_ingest"]["buckets"] for t in range(TINY["cdc_ingest"]["tenants"])]

BENCHMARK_JSON = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), "BENCHMARK.json"
)


# -- inputs follow the seed ------------------------------------------------
def _cdc(seed):
    g = gen.CdcGen(TINY["cdc_ingest"], seed, CDC_BUCKETS)
    return [g.base(), g.batch(), g.batch()]


def _serve(seed):
    g, m = gen.ServeGen(TINY["serve_lookup"], seed), checks.ServeModel()
    base = g.base()
    m.apply(base)
    reqs = pd.DataFrame([g.request(m.items_of) for _ in range(30)], columns=["kind", "key"])
    return [base, reqs.astype(str), g.trickle(m.items_of)]


@pytest.mark.parametrize("make", [_cdc, _serve])
def test_one_seed_gives_identical_inputs_two_seeds_differ(make):
    a, b, c = make(5), make(5), make(6)
    for x, y in zip(a, b):
        pd.testing.assert_frame_equal(x, y)
    assert any(not x.equals(z) for x, z in zip(a, c))


# -- every check rejects a wrong model row, count or sum ---------------------
def test_snapshot_check_rejects_a_wrong_model_row():
    model = checks.LwwModel(["tenant", "id"], ["amount", "note", "seq"])
    batch = gen.CdcGen(TINY["cdc_ingest"], 1, CDC_BUCKETS).batch()
    model.apply(batch)
    rows = [(*k, *v) for k, v in model.rows.items()]
    assert checks.check_snapshot(rows, model.rows, 2) == []
    wrong = dict(model.rows)
    key = next(iter(wrong))
    wrong[key] = (wrong[key][0] + 1, *wrong[key][1:])
    assert checks.check_snapshot(rows, wrong, 2)
    assert checks.check_snapshot(rows[1:], model.rows, 2)  # a missing row


def test_lww_model_applies_changes_in_seq_order():
    m = checks.LwwModel(["k"], ["v", "seq"])
    m.apply(pd.DataFrame({"k": [1, 1, 2, 1], "v": [10, 11, 20, 12], "seq": [2, 1, 3, 4],
                          "__op": ["U", "U", "U", "D"]}))
    assert m.rows == {(2,): (20, 3)}


def test_lookup_check_rejects_a_wrong_model_row():
    m = checks.ServeModel()
    m.apply(gen.ServeGen(TINY["serve_lookup"], 1).base())
    key = next(iter(m.rows))
    rows = m.expected("point", key)
    assert checks.check_lookup(rows, m.expected("point", key), key) == []
    assert checks.check_lookup(rows, [(*key, -1, "x", 0)], key)
    prefix = m.expected("prefix", key[:1])
    assert checks.check_lookup(prefix, prefix, key[:1]) == []
    assert checks.check_lookup(prefix[1:], prefix, key[:1])


def test_count_check_rejects_a_wrong_count():
    seen = Counter({"+I": 5, "-U": 3, "+U": 3, "-D": 1})
    assert checks.check_counts(seen, Counter(seen), "change type") == []
    assert checks.check_counts(seen, seen + Counter({"-D": 1}), "change type")


# -- metric names and units --------------------------------------------------
def test_benchmark_json_names_the_metrics_the_code_prints():
    with open(BENCHMARK_JSON) as f:
        doc = json.load(f)
    assert {w["name"] for w in doc["workloads"]} == set(WORKLOADS)
    for key, specs in (("end_to_end", metrics.E2E), ("per_layer", metrics.PER_LAYER)):
        assert [(m["name"], m["unit"], m["better"]) for m in doc[key]] == specs
    assert next(m for m in doc["end_to_end"] if m["name"] == "setup_s")["bound"] == max(
        m["bound"] for m in doc["end_to_end"]
    )


@pytest.mark.parametrize("name", sorted(WORKLOADS))
@pytest.mark.parametrize("trace", [False, True])
def test_tiny_run_prints_every_metric_with_its_unit(spark, tmp_path, name, trace):
    result = measure(spark, name, TINY[name], seed=3, seconds=0.5, trace=trace, work=tmp_path)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    specs = metrics.PER_LAYER if trace else metrics.E2E
    assert [(n, m["unit"]) for n, m in result["metrics"].items()] == [(n, u) for n, u, _ in specs]
    assert all(isinstance(m["value"], float) for m in result["metrics"].values())
    json.dumps(result)
