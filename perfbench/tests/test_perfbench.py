"""Self-tests of the benchmark.

    PYTHONDONTWRITEBYTECODE=1 python3 -m pytest perfbench/tests -q -p no:cacheprovider

The fast tests cover the event-log reader, the oracle checks and the
checkout snapshot without Spark.  The slow ones run ``perfbench/run.py``
end to end in a subprocess (about a minute each): one
prints every metric named in BENCHMARK.json with its unit, and two
corrupt the pipeline's output after each run and expect the benchmark to
count every run as failed.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import zlib

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import eventlog, host  # noqa: E402
from perfbench.corpus import (  # noqa: E402
    check_manifests,
    check_metrics,
    check_rule_histogram,
    check_sinks,
    cold_tail,
    expected_partitions,
)

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _expected(rows):
    exp = pd.DataFrame(rows, columns=["doc_id", "source", "n_tok", "rule_id", "family"])
    exp["doc_crc"] = [zlib.crc32(d.encode()) for d in exp["doc_id"]]
    exp["chk"] = [zlib.crc32(f"{d}|{r}".encode()) for d, r in zip(exp["doc_id"], exp["rule_id"])]
    return exp


EXP = _expected([
    ("node-000-000000000000", "node-000", 10, 3, "gc"),
    ("node-000-000000000001", "node-000", 12, -1, "unknown"),
    ("node-001-000000000002", "node-001", 7, 3, "gc"),
    ("node-002-000000000003", "node-002", 9, 5, "flush"),
])


def _write_outputs(out, exp, n_buckets=2):
    """Write sinks, rule histogram and manifests the way the pipeline lays them out."""
    for fam, g in exp.groupby("family"):
        d = os.path.join(out, "sinks", f"family={fam}")
        os.makedirs(d)
        pq.write_table(pa.table({"doc_id": g["doc_id"].tolist(), "rule_id": g["rule_id"].astype("int32").tolist()}),
                       os.path.join(d, "part-0.parquet"))
    hist = exp.groupby(["family", "rule_id"]).size().reset_index(name="cnt")
    os.makedirs(os.path.join(out, "metrics", "rule_histogram"))
    pq.write_table(pa.Table.from_pandas(hist, preserve_index=False),
                   os.path.join(out, "metrics", "rule_histogram", "part-0.parquet"))
    os.makedirs(os.path.join(out, "manifests"))
    with open(os.path.join(out, "manifests", "part-0.txt"), "w") as f:
        for (src, b), m in expected_partitions(exp, n_buckets).items():
            f.write(json.dumps({"source": src, "bucket": b, **m}) + "\n")


def test_checks_accept_matching_output(tmp_path):
    _write_outputs(str(tmp_path), EXP)
    assert check_rule_histogram(str(tmp_path), EXP) == []
    assert check_manifests(str(tmp_path), EXP, 2) == []
    assert check_sinks(str(tmp_path), EXP) == []
    assert check_metrics({"routed_rows": 4, "total_tokens": 38, "unknown_rows": 1}, EXP) == []


def test_checks_catch_a_dropped_row(tmp_path):
    _write_outputs(str(tmp_path), EXP.iloc[1:])
    assert check_sinks(str(tmp_path), EXP)
    assert check_manifests(str(tmp_path), EXP, 2)
    assert check_rule_histogram(str(tmp_path), EXP)
    assert check_metrics({"routed_rows": 3, "total_tokens": 28, "unknown_rows": 1}, EXP)


def test_checks_catch_a_wrong_rule_id(tmp_path):
    wrong = EXP.copy()
    wrong.loc[0, "rule_id"] = 4
    wrong = _expected(wrong[["doc_id", "source", "n_tok", "rule_id", "family"]].values.tolist())
    _write_outputs(str(tmp_path), wrong)
    assert check_sinks(str(tmp_path), EXP)
    assert check_manifests(str(tmp_path), EXP, 2)
    assert check_rule_histogram(str(tmp_path), EXP)


def test_cold_tail_takes_the_coldest_sources_up_to_the_share():
    exp = _expected([(f"n{i}-{j}", f"n{i}", 1, 0, "gc") for i, k in enumerate([50, 30, 10, 6, 4])
                     for j in range(k)])
    assert cold_tail(exp, share=0.10) == ["n4", "n3"]
    assert cold_tail(exp, share=0.01) == ["n4"]  # at least one source


def test_eventlog_summary_per_job_group(tmp_path):
    def task(stage, kind, cpu_ns, run_ms, shuffle, storage=0):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Type": kind,
                "Task Info": {"Launch Time": 1000, "Finish Time": 1100, "Getting Result Time": 0},
                "Task Executor Metrics": {"OnHeapStorageMemory": storage, "JVMHeapMemory": 9},
                "Task Metrics": {"Executor CPU Time": cpu_ns, "Executor Run Time": run_ms,
                                 "Executor Deserialize Time": 10, "Result Serialization Time": 0,
                                 "JVM GC Time": 5, "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 7,
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle}}}

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "route"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "route"}},
        task(0, "ShuffleMapTask", 2e9, 80, 100, storage=300),
        task(1, "ResultTask", 1e9, 70, 0, storage=200),
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 1, "Submission Time": 2000, "Completion Time": 4500}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [2], "Properties": {}},
        task(2, "ResultTask", 1e9, 90, 0),
    ]
    log = tmp_path / "local-1"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    s = eventlog.summarize_dir(str(tmp_path))
    r = s["route"]
    assert r["tasks"] == 2 and r["executor_cpu_s"] == pytest.approx(3.0)
    assert r["gc_s"] == pytest.approx(0.01) and r["spill_bytes"] == 14
    assert r["shuffle_write_bytes"] == 100 and r["result_stage_s"] == pytest.approx(2.5)
    assert r["scheduler_delay_s"] == pytest.approx((100 - 90 + 100 - 80) / 1e3)
    assert r["storage_peak_bytes"] == 300 and r["heap_peak_bytes"] == 9
    assert r["execution_peak_bytes"] == 0
    assert s["none"]["tasks"] == 1


def test_route_layer_must_match_the_pipeline_layout():
    from perfbench.trace import check_route
    from perfbench.workloads import Sample

    ran = Sample(1.0, 10, {}, sink_files=556, sink_dirs=556)
    assert check_route({"route.files": 556, "route.dirs": 556}, ran) == []
    assert check_route({"route.files": 1112, "route.dirs": 556}, ran)


def test_tree_snapshot_sees_every_change(tmp_path):
    (tmp_path / "a").write_text("x")
    (tmp_path / "work").mkdir()
    before = host.tree_snapshot(str(tmp_path), exclude=str(tmp_path / "work"))
    (tmp_path / "work" / "output").write_text("ignored")
    assert host.snapshot_diff(before, host.tree_snapshot(str(tmp_path), exclude=str(tmp_path / "work"))) == []
    (tmp_path / "b").write_text("y")
    diff = host.snapshot_diff(before, host.tree_snapshot(str(tmp_path), exclude=str(tmp_path / "work")))
    assert "added b" in diff


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "fresh_zipf", "--seed", "1",
                        "--seconds", "1", "--trace", "0"], cwd=tmp_path, capture_output=True,
                       text=True, timeout=180, env={**os.environ, "PYTHONDONTWRITEBYTECODE": "1"})
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


# ------------------------------------------------------------------ slow

CORRUPT = r"""
import os, runpy, sys
import pyarrow.parquet as pq
import pyarrow.compute as pc
sys.path.insert(0, os.getcwd())
import logparse_spark.main as m

run_pipeline = m.run_pipeline

def corrupted(spark, seq, out, *a, **k):
    res = run_pipeline(spark, seq, out, *a, **k)
    if os.environ["CORRUPT"] == "drop_row":
        for dirpath, _, names in sorted(os.walk(os.path.join(out, "sinks"))):
            parts = sorted(n for n in names if n.startswith("part-") and n.endswith(".parquet"))
            if parts:
                p = os.path.join(dirpath, parts[0])
                pq.write_table(pq.read_table(p).slice(1), p)
                break
    else:
        p = os.path.join(out, "metrics", "rule_histogram")
        f = os.path.join(p, sorted(n for n in os.listdir(p) if n.startswith("part-"))[0])
        t = pq.read_table(f)
        t = t.set_column(t.schema.get_field_index("rule_id"), "rule_id",
                         pc.add(t["rule_id"], 1000))
        pq.write_table(t, f)
    return res

m.run_pipeline = corrupted
sys.argv = ["perfbench/run.py"] + sys.argv[1:]
runpy.run_path("perfbench/run.py", run_name="__main__")
"""


def _bench(tmp_path, args, corrupt=None):
    env = {**os.environ, "PYTHONDONTWRITEBYTECODE": "1", "PERFBENCH_WORK": str(tmp_path / "work")}
    if corrupt:
        env["CORRUPT"] = corrupt
        cmd = [sys.executable, "-c", CORRUPT, *args]
    else:
        cmd = [sys.executable, "perfbench/run.py", *args]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600, env=env)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1]), p.stdout


@pytest.mark.parametrize("workload,trace", [("fresh_zipf", 0), ("resume_tail", 1)])
def test_smoke_prints_every_named_metric(tmp_path, workload, trace):
    res, stdout = _bench(tmp_path, ["--workload", workload, "--seed", "3", "--seconds", "1",
                                    "--trace", str(trace)])
    names = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {m["name"]: m["unit"] for m in names}
    assert all(isinstance(v["value"], (int, float)) for v in res["metrics"].values())
    if trace:
        assert "per-layer table" in stdout and "tracing overhead_s" in stdout


@pytest.mark.parametrize("corrupt", ["drop_row", "wrong_rule_id"])
def test_corrupted_output_counts_as_failed(tmp_path, corrupt):
    res, _ = _bench(tmp_path, ["--workload", "fresh_zipf", "--seed", "3", "--seconds", "1",
                               "--trace", "0"], corrupt=corrupt)
    assert not res["correct"]
    assert res["failed"] == res["attempted"] >= 1
    assert res["metrics"]["ok_frac"]["value"] == 0
