"""Self-test of the benchmark at a tiny size.

    python3 -m pytest perfbench/test_perfbench.py -q

Checks that every run prints every metric of BENCHMARK.json with its unit,
and that each correctness check fires on a corrupted result.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from gates import gate_problems  # noqa: E402
from lake import count_problems, uuid_problems  # noqa: E402
from measure import Recorder  # noqa: E402
from metrics import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_catalogue_matches_benchmark_json():
    bench = _benchmark_json()
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    for key, catalogue in (("end_to_end", END_TO_END), ("per_layer", PER_LAYER)):
        assert [(m["name"], m["unit"], m["better"]) for m in bench[key]] == list(catalogue)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_prints_with_its_unit(workload, trace):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, proc.stderr[-2000:]
    assert result["attempted"] >= 1
    catalogue = PER_LAYER if trace else END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        name: unit for name, unit, _ in catalogue
    }
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_latency_percentiles_are_per_kind():
    # two kinds a hundredfold apart, as the stores' reads are: a pooled
    # median would land between them; each kind's median is 10 or 1000
    rec = Recorder(0.0, None)
    rec.timed_s = 1.0
    for kind, ms in (("fast", (9, 10, 11)), ("slow", (900, 1000, 1100))):
        rec.ops += [{"kind": kind, "ms": v} for v in ms]
    e2e = rec.end_to_end()
    assert e2e["op_p50_ms"] == pytest.approx(100.0)  # geometric mean of 10 and 1000
    assert e2e["op_p90_ms"] == pytest.approx((10.8 * 1080) ** 0.5)
    assert e2e["ops_per_s"] == 6.0


def _doc(*uuids):
    return {"features": [{"properties": {"uuid": u}} for u in uuids]}


def _read(*uuids):  # one collected (timestamp, data) row
    return [{"data": _doc(*uuids)}]


def test_point_read_check_fires():
    assert uuid_problems(_read("a", "b", "b"), _doc("a", "b", "b")) == []
    assert uuid_problems([], _doc()) == []
    assert uuid_problems(_read("a", "b"), _doc("a", "b", "b"))  # dropped feature
    assert uuid_problems(_read("a", "b", "b", "c"), _doc("a", "b", "b"))  # stray one
    assert uuid_problems(_read("a", "b") + _read("b"), _doc("a", "b"))  # doubled doc
    assert uuid_problems(_read("a", "b"), _doc("a", "b", "b"), distinct=True) == []
    assert uuid_problems(_read("a"), _doc("a", "b", "b"), distinct=True)
    assert uuid_problems(_read("a", "b", "c"), _doc("a", "b"), distinct=True)
    assert uuid_problems(_read("a", "b") + _read("a"), _doc("a", "b"), distinct=True)


def test_ingest_checks_fire():
    want = {"t0": 3, "t1": 2}
    assert count_problems("flat", want, dict(want)) == []
    assert count_problems("flat", want, {"t0": 3, "t1": 4})  # double insert
    assert count_problems("flat", want, {"t0": 3})  # lost snapshot
    assert count_problems("flat", want, {**want, "t9": 1})  # stray timestamp
    assert count_problems("versioned", {"versions": 5}, {"versions": 6})
    assert count_problems("ivf", {"n_vectors": 2200}, {"n_vectors": 2000})


def test_gate_check_fires():
    cols, rows = ["k", "v"], [(1, 0.5), (2, 1.5)]
    assert gate_problems(cols, rows, ["v", "k"], [(1.5, 2), (0.5, 1)]) == []
    assert gate_problems(cols, rows[:1], cols, rows)  # dropped row
    assert gate_problems(cols, [(1, 0.5), (2, 1.25)], cols, rows)  # changed value
    assert gate_problems(["k", "w"], rows, cols, rows)  # renamed column
