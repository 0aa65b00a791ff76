"""Self-tests of the benchmark's own logic; none of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
from datetime import timedelta

import numpy as np
import pandas as pd
import pytest

from multi_source_financial_data_pipeline_spark.sources.tables import TABLE_NAMES
from perfbench import datagen, oracle, trace, workloads
from perfbench.trace import Span, Tracer, self_time
from perfbench.worker import span_sum_error

BENCHMARK = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(__file__))), "BENCHMARK.json"
)


def _bench() -> dict:
    with open(BENCHMARK) as fh:
        return json.load(fh)


def test_metric_names_are_well_formed_and_match_the_emitters():
    bench = _bench()
    names = [w["name"] for w in bench["workloads"]]
    for group in ("end_to_end", "per_layer"):
        names += [m["name"] for m in bench[group]]
    assert all(trace.METRIC_NAME.fullmatch(n) for n in names)
    assert len(names) == len(set(names))
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == trace.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == trace.PER_LAYER_UNITS
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)


@pytest.mark.parametrize(
    ("n", "tails"), [(9, set()), (99, set()), (100, {"p90"}), (1000, {"p90", "p99"})]
)
def test_no_tail_percentile_without_ten_samples_beyond_it(n, tails):
    out = trace.latency_summary("lat", [float(i) for i in range(n)])
    assert out["lat_samples"] == n
    assert {k.removeprefix("lat_") for k in out} - {"p50", "samples"} == tails
    for tag, q in (("p90", 0.9), ("p99", 0.99)):
        if tag in tails:
            assert sum(v > out[f"lat_{tag}"] for v in range(n)) >= trace.MIN_TAIL_SAMPLES


def _span(i, parent, start, end, op_id=1):
    return Span(id=i, op_id=op_id, op="q", layer=f"l{i}", parent=parent, start=start, end=end)


def test_self_time_is_duration_minus_child_coverage():
    root = _span(1, None, 0.0, 10.0)
    kids = [_span(2, 1, 1.0, 3.0), _span(3, 1, 2.0, 5.0), _span(4, 1, 7.0, 8.0)]
    grandchild = _span(5, 3, 2.5, 4.0)
    assert self_time(root, kids) == pytest.approx(10.0 - 4.0 - 1.0)
    assert self_time(kids[1], [grandchild]) == pytest.approx(3.0 - 1.5)
    assert self_time(grandchild, []) == pytest.approx(1.5)

    tracer = Tracer(sc=None)
    tracer.spans = [_span(1, None, 0.0, 10.0), _span(2, 1, 1.0, 3.0),
                    _span(4, 1, 7.0, 8.0), _span(5, 4, 7.5, 7.75)]
    assert span_sum_error(tracer) == pytest.approx(0.0)


def test_generator_is_deterministic_per_seed():
    names = workloads.CURATION_ITER
    assert workloads.op_order(names, 7, 0) == workloads.op_order(names, 7, 0)
    assert sorted(workloads.op_order(names, 7, 0)) == sorted(names)
    assert len({tuple(workloads.op_order(names, s, 0)) for s in range(20)}) > 1

    plan = workloads.pipeline_plan(7)
    assert plan == workloads.pipeline_plan(7)
    assert len(plan.tickers) == workloads.N_TICKERS
    assert set(plan.tickers) <= set(workloads.TICKER_UNIVERSE)
    assert len({workloads.pipeline_plan(s) for s in range(20)}) > 1
    s0, e0 = plan.window(0)
    s1, e1 = plan.window(1)
    assert e0 - s0 >= timedelta(days=364) and e0 < s0.replace(year=s0.year + 1)
    assert s0 < s1 <= e0 < e1

    a, b = datagen.tables(), datagen.tables()
    assert sorted(a) == sorted(TABLE_NAMES)
    assert all(a[t].equals(b[t]) for t in a)


def _frame():
    return oracle.normalize(
        pd.DataFrame(
            {
                "k": np.array([3, 1, 2], dtype=np.int64),
                "v": [0.1, 0.2, 0.3],
                "s": ["c", "a", "b"],
            }
        )
    )


def test_correctness_gate_accepts_equal_and_rejects_perturbed_results():
    want = _frame()
    shuffled = oracle.normalize(want.sample(frac=1.0, random_state=1))
    assert oracle.mismatch(shuffled, want) is None

    nudged = want.copy()
    nudged.loc[0, "v"] = np.nextafter(nudged.loc[0, "v"], 1.0)
    assert oracle.mismatch(nudged, want) is not None
    assert oracle.mismatch(want.iloc[:-1], want) is not None
    assert oracle.mismatch(want.assign(k=want["k"].astype(float)), want) is not None
    assert oracle.mismatch(want.assign(s=["a", "b", "x"]), want) is not None
    assert oracle.mismatch(want.drop(columns="s"), want) is not None
