"""Smoke test of the benchmark itself, at a tiny scale.

    python3 -m pytest perfbench/test_smoke.py -q

For every workload it runs the benchmark once untraced and once traced on
tiny inputs, and asserts that every metric named in ``BENCHMARK.json`` is
emitted with a number, that the outputs check correct, and that a
deliberately failing operation counts as a failed operation.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import run  # noqa: E402
from perfbench.workloads import WARM_SIZES as TINY  # noqa: E402
from perfbench.workloads import Op  # noqa: E402


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _bench(workload: str, trace: int, extra_ops=None) -> dict:
    argv = ["--workload", workload, "--seed", "7", "--seconds", "0", "--trace", str(trace)]
    return run.main(argv, extra_ops=extra_ops, sizes=TINY)


def _failing_op() -> Op:
    def boom(r):
        return r.phase("build", lambda: 1 / 0)

    return Op("deliberate_failure", "plans.relational", boom)


@pytest.mark.parametrize("workload", sorted(TINY))
def test_every_metric_is_emitted(workload):
    spec = _spec()
    assert workload in {w["name"] for w in spec["workloads"]}
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        out = _bench(workload, trace)
        assert out["correct"] and out["failed"] == 0, out
        assert out["attempted"] >= 1
        for m in spec[key]:
            got = out["metrics"][m["name"]]
            assert isinstance(got["value"], (int, float)), (m["name"], got)
            assert got["unit"] == m["unit"], (m["name"], got)
        assert set(out["metrics"]) == {m["name"] for m in spec[key]}
        if key == "end_to_end":
            assert all(v["value"] > 0 for v in out["metrics"].values()), out


def test_failing_operation_counts_as_failed():
    out = _bench("corpus_10x", 1, extra_ops=[_failing_op()])
    assert not out["correct"]
    assert out["failed"] >= 1 and out["failed"] / out["attempted"] > 0
    assert out["metrics"]["ops.fail_share"]["value"] > 0
