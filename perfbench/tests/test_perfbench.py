"""Self-test of the benchmark on tiny inputs (sf0.001).

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

Each Spark test launches its own JVM, so the module takes a few minutes.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import inputs, ledger  # noqa: E402
from perfbench import run as bench  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCHMARK = json.load(f)


def _units(section: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in BENCHMARK[section]}


@pytest.fixture(scope="module")
def work(tmp_path_factory):
    return str(tmp_path_factory.mktemp("perfbench_work"))


def test_contract_shape():
    assert set(BENCHMARK) == {"command", "paths", "run_seconds", "workloads",
                              "end_to_end", "per_layer"}
    assert {w["name"] for w in BENCHMARK["workloads"]} == set(
        __import__("perfbench.workloads", fromlist=["WORKLOADS"]).WORKLOADS)
    e2e = {m["name"]: m for m in BENCHMARK["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert all(0 < m["bound"] <= 0.25 for m in e2e.values())
    names = [m["name"] for m in BENCHMARK["end_to_end"] + BENCHMARK["per_layer"]]
    assert len(names) == len(set(names))


def test_traced_two_kernel_run_has_every_ledger_field(work):
    out = bench.run("link_iterative", seed=1, seconds=0, trace=True, size="tiny",
                    work=work, kernels=("pagerank", "hits"))
    res = out["result"]
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 6
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == _units("per_layer")
    m = {k: v["value"] for k, v in res["metrics"].items()}
    for key in ("algos.jobs", "algos.stages", "algos.hits.jobs", "operators.tasks",
                "operators.executor_run_s", "algos.pagerank.iterations",
                "algos.pagerank_s", "algos.hits_s", "sources.edges", "trace.spans"):
        assert m[key] > 0, key
    assert m["plans.checkpoint.snapshots"] == 0  # in-memory checkpoints only
    # the untraced phase's end-to-end lines are printed with their units
    for name, unit in _units("end_to_end").items():
        assert any(line.startswith(f"{name}:") and f" {unit}" in line
                   for line in out["lines"]), name


def test_corrupted_output_counts_as_failed(work):
    def corrupt(kernel, rows):
        return rows[:-1] if kernel == "hits" else rows

    out = bench.run("link_iterative", seed=1, seconds=0, trace=False, size="tiny",
                    work=work, corrupt=corrupt, kernels=("pagerank", "hits"))
    res = out["result"]
    assert not res["correct"]
    # every hits call failed, no PageRank call and not the input check
    calls = res["attempted"] - 1
    assert calls >= 6 and res["failed"] == calls // 2
    assert {k: v["unit"] for k, v in res["metrics"].items()} == _units("end_to_end")
    assert any(line.startswith("failed_ratio: ") and " ratio " in line and
               f"({res['failed']} of {res['attempted']} " in line for line in out["lines"])


def test_durable_pagerank_counts_snapshots(work):
    out = bench.run("link_iterative", seed=3, seconds=0, trace=True, size="tiny",
                    work=work, kernels=("pagerank_durable",))
    res = out["result"]
    assert res["correct"], out["lines"]
    m = {k: v["value"] for k, v in res["metrics"].items()}
    from perfbench.workloads import DURABLE_ITERS

    assert m["plans.checkpoint.snapshots"] == DURABLE_ITERS
    assert m["plans.checkpoint.written_mb"] > 0
    assert m["trace.self.plans.checkpoint_s"] > 0


def test_input_checksum_matches_numpy():
    import numpy as np

    src, dst = np.array([1, 2, 3]), np.array([2, 3, 1])
    assert inputs.checksum_numpy(src, dst) == {
        "rows": 3, "sum_src": 6, "sum_dst": 6,
        "sum_mix": sum((s * inputs.CK_P + d) % inputs.CK_M for s, d in zip(src, dst))}


def _write_events(path: str, events: list[dict]) -> None:
    with open(path, "w") as f:
        f.writelines(json.dumps(e) + "\n" for e in events)


def test_ledger_reads_rolling_and_single_file_layouts(tmp_path):
    job = {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
           "Properties": {"spark.jobGroup.id": "u0.pagerank"}}
    task = {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
        "Executor Run Time": 1500, "Executor CPU Time": 10**9, "JVM GC Time": 20,
        "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 1 << 20},
        "Shuffle Write Metrics": {"Shuffle Bytes Written": 2 << 20},
        "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0}}
    done = {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}}
    rolling = tmp_path / "rolling" / "eventlog_v2_local-1"
    rolling.mkdir(parents=True)
    _write_events(str(rolling / "events_1_local-1"), [job, task])
    _write_events(str(rolling / "events_2_local-1"), [done, task])
    (rolling / "appstatus_local-1").write_text("")
    single = tmp_path / "single"
    single.mkdir()
    _write_events(str(single / "local-2"), [job, task, done, task])
    for d in (rolling.parent, single):
        c = ledger.group_counters(str(d))["u0.pagerank"]
        assert c["jobs"] == 1 and c["stages"] == 1 and c["tasks"] == 2
        assert c["executor_run_s"] == 3.0 and c["shuffle_write_mb"] == 4.0
        assert c["shuffle_read_mb"] == 2.0 and c["gc_s"] == pytest.approx(0.04)
    (single / "local-3.zstd").write_text("")
    with pytest.raises(ValueError):
        ledger.group_counters(str(single))
