"""Tests for the benchmark itself (no Spark session needed).

Run with ``python3 -m pytest perfbench/tests -q`` from the repository root.
"""

from __future__ import annotations

import json
import sys
from argparse import Namespace
from pathlib import Path

import pandas as pd
import pytest

HERE = Path(__file__).resolve().parent.parent
REPO = HERE.parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(REPO))

import datagen  # noqa: E402
import run  # noqa: E402
from workloads import WORKLOADS, MotorIngest, OpResult, Workload  # noqa: E402

SPEC = json.loads((REPO / "BENCHMARK.json").read_text())


# ------------------------------------------------------------------ schema


def test_spec_lists_the_workloads_and_metrics_the_runner_emits():
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.PER_LAYER
    assert SPEC["command"] == ["python3", "perfbench/run.py"]
    assert SPEC["paths"] == ["perfbench"]
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in SPEC["end_to_end"])


class _FakeOps(Workload):
    name = "fake"
    op_names = ["a", "b", "c"]
    nominal_pass_s = 1.0

    def run_op(self, spark, op, tracer=None):
        lat = {"a": 0.5, "b": 1.0, "c": 2.0}[op]
        info = {"rows": 10, "write_bytes": 30, "input_bytes": 10}
        return OpResult(lat, lambda: [], info)


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_untraced_result_has_every_end_to_end_metric_with_its_unit(workload):
    runner = run.Runner(_FakeOps(), 1)
    cycles = [(0.2, 0.1, 0.0)] * run.SETUPS
    args = Namespace(seconds=0.0, seed=1)
    metrics, summary = run.untraced_run(args, _FakeOps(), None, runner, cycles)
    assert {k: v["unit"] for k, v in metrics.items()} == run.END_TO_END
    assert all(isinstance(v["value"], float) for v in metrics.values())
    assert metrics["warm_pass_s"]["value"] == pytest.approx(3.5)
    assert metrics["setup_s"]["value"] == pytest.approx(0.3)
    assert metrics["op_gmean_s"]["value"] == pytest.approx(1.0)
    # the summary line names every end-to-end and summary metric with its unit
    for name, unit in {**run.END_TO_END, **run.SUMMARY_ONLY}.items():
        assert f"{name} [{unit}]" in summary


class _SettlingOps(_FakeOps):
    """Each pass is faster than the one before, as while the JIT settles."""

    calls = 0

    def run_op(self, spark, op, tracer=None):
        self.calls += 1
        return OpResult(100.0 / self.calls, lambda: [], {})


def test_the_first_third_of_the_warm_passes_is_left_out():
    wl = _SettlingOps()
    wl.op_names = ["a"]
    runner = run.Runner(wl, 1)
    cycles = [(0.2, 0.1, 0.0)] * run.SETUPS
    metrics, summary = run.untraced_run(Namespace(seconds=6.0), wl, None, runner, cycles)
    # cold pass = call 1; warm passes = calls 2..7, of which 4..7 are timed
    assert runner.attempted == 7
    assert summary["warm_passes_s"] == [25.0, 20.0, 16.667, 14.286]
    assert metrics["warm_pass_s"]["value"] == pytest.approx((20.0 + 100 / 6) / 2)


class _FakeTracer:
    def total(self, name, pass_no, key=None):
        return 1.0


class _FakeConf:
    def get(self, key):
        return "32"


def test_traced_result_has_every_per_layer_metric(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    pass_ = {
        "pass_no": 2,
        "wall": 2.0,
        "latencies": [1.0, 1.0],
        "infos": [
            {"llm_family": "dedup", "phases_ms": {"analysis": 5.0}},
            {
                "streaming": {
                    "trigger_exec_sec": 1.0,
                    "add_batch_sec": 0.5,
                    "fixed_overhead_sec": 0.5,
                    "batches": 3,
                    "input_rows": 100,
                    "checkpoint_bytes": 1000,
                    "cleanup_s": 0.01,
                }
            },
        ],
        "spark_exec": {"jobs": 3.0, "executor_run_s": 4.0},
        "codegen": (7, 70.0),
        "py4j_calls": 900,
        "py4j_wait_s": 0.5,
        "python_cpu_s": 0.3,
    }
    cycles = [(0.2, 0.1, 0.0)] * run.SETUPS
    spark = Namespace(conf=_FakeConf())
    m = run.layer_metrics(_FakeTracer(), pass_, 1.5, pass_, cycles, spark)
    assert set(m) == set(run.PER_LAYER)
    assert m["spark.exec.busy_ratio"] == pytest.approx(4.0 / (4 * 2.0))
    assert m["trace.overhead_s"] == pytest.approx(0.5)
    assert m["llm.dedup.s"] == pytest.approx(1.0)
    shares = run.layer_shares(m, pass_["wall"])
    assert set(shares) == {"construct", "catalyst", "exec", "io_write", "streaming"}


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]
    value, pct = run.tail(xs)
    assert (value, pct) == (90.0, 90.0)
    assert sum(x > value for x in xs) == 10
    assert run.tail([3.0, 1.0, 2.0]) == (2.0, 50.0)


# -------------------------------------------------------------- generators


def test_base_tables_are_deterministic_per_seed():
    a, b, c = datagen.base_tables(5), datagen.base_tables(5), datagen.base_tables(6)
    assert list(a) == datagen.TABLE_NAMES
    for name in datagen.TABLE_NAMES:
        assert a[name].equals(b[name]), name
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == datagen.BASE_ROWS["lineitem"]


def test_motor_input_is_deterministic_per_seed(tmp_path):
    e1 = datagen.make_motor_input(tmp_path / "a.json", 3, 500)
    e2 = datagen.make_motor_input(tmp_path / "b.json", 3, 500)
    e3 = datagen.make_motor_input(tmp_path / "c.json", 4, 500)
    assert (tmp_path / "a.json").read_bytes() == (tmp_path / "b.json").read_bytes()
    assert (tmp_path / "a.json").read_bytes() != (tmp_path / "c.json").read_bytes()
    assert e1 == e2 and e1 != e3
    assert e1["ok"] + e1["ko"] == e1["total"] == 500
    rows = [json.loads(x) for x in (tmp_path / "a.json").read_text().splitlines()]
    assert len({r["policy_number"] for r in rows}) == 500


def test_pass_order_is_deterministic_per_seed_and_pass():
    wl = WORKLOADS["catalog_mix"]
    assert wl.ops(7, 1) == wl.ops(7, 1)
    assert sorted(wl.ops(7, 1)) == sorted(wl.op_names)
    orders = {tuple(wl.ops(7, p)) for p in range(6)}
    assert len(orders) > 1
    # the cold pass runs the listed order whatever the seed
    assert wl.ops(7, 0) == wl.ops(8, 0) == wl.op_names


def test_motor_expectations_follow_the_golden_verdicts():
    # one draw of each golden row reproduces the golden test: 5 OK / 5 KO
    exp = datagen.expected_motor(list(range(10)))
    assert (exp["ok"], exp["ko"], exp["driver_age_nulls"]) == (5, 5, 2)
    assert exp["errors"]["driver_age:must_not_be_null"] == 2


# ------------------------------------------------------ correctness checks


def _motor_case(tmp_path, n=400, seed=2):
    wl = MotorIngest(records=n, nominal_pass_s=1.0)
    wl.expected = datagen.make_motor_input(tmp_path / "in.json", seed, n)
    wl.out = tmp_path / "out"
    exp = wl.expected
    for i, rows in enumerate((exp["ok"], exp["ko"])):
        d = wl.out / f"sink_{i}"
        d.mkdir(parents=True)
        (d / "part-00000.json").write_text("{}\n" * rows)
    (wl.out / "stats").mkdir()
    (wl.out / "stats" / "global_stats.json").write_text("{}")
    stats = {
        "total_records": n,
        "fields": {"driver_age": {"null_count": exp["driver_age_nulls"]}},
        "validation_stats": {
            "valid_records": exp["ok"],
            "rejected_records": exp["ko"],
            "top_validation_errors": [
                {"error": e, "count": c} for e, c in exp["errors"].items()
            ],
        },
    }
    return wl, stats


def test_motor_check_accepts_the_expected_result(tmp_path):
    wl, stats = _motor_case(tmp_path)
    assert wl.check(stats) == []


def test_motor_check_trips_on_a_perturbed_result(tmp_path):
    wl, stats = _motor_case(tmp_path)
    stats["validation_stats"]["valid_records"] += 1
    assert wl.check(stats)
    wl, stats = _motor_case(tmp_path / "b")
    stats["validation_stats"]["top_validation_errors"][0]["count"] -= 1
    assert wl.check(stats)
    wl, stats = _motor_case(tmp_path / "c")
    (wl.out / "sink_1" / "part-00001.json").write_text("{}\n")
    assert wl.check(stats)


def test_oracle_check_trips_on_a_perturbed_result():
    from tools.oracle_check import compare

    oracle = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
    assert compare("q", oracle.iloc[::-1].copy(), oracle) == []
    perturbed = oracle.copy()
    perturbed.loc[1, "v"] = 1.5000001
    assert compare("q", perturbed, oracle)
    assert compare("q", oracle.iloc[:2], oracle)
