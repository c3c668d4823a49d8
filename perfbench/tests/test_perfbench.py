"""Tests of the benchmark itself, at toy scale.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

Each workload runs once, traced, in a subprocess (the benchmark owns its
Spark session); the correctness-gate tests use an in-process session.
"""

from __future__ import annotations

import json
import math
import os
import re
import shutil
import signal
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import checks  # noqa: E402
from perfbench.run import END_TO_END, PER_LAYER  # noqa: E402

WORKLOADS = ["bulk_replay", "stream_upsert", "changelog_replica"]
LINE = re.compile(r"^(\S+) = (\S+) (\S+)(?: \(n=(\d+).*\))?$")


def _in_session(sid: int) -> list[int]:
    """Pids of the processes still in session ``sid``."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rpartition(")")[2].split()
        except OSError:
            continue
        if int(fields[3]) == sid:
            out.append(int(name))
    return out


def _bench(workload: str, trace: int) -> dict:
    # its own session, so whatever it starts can be found after it exits
    proc = subprocess.Popen(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "2", "--trace", str(trace), "--scale", "toy"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        start_new_session=True,
    )
    try:
        stdout, stderr = proc.communicate(timeout=400)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise
    lines = stdout.strip().splitlines()
    assert proc.returncode == 0, stdout[-3000:] + stderr[-3000:]
    # the run stopped every process it started (the JVM, Python workers)
    assert _in_session(proc.pid) == []
    printed = {}
    for line in lines[:-1]:
        m = LINE.match(line)
        if m:
            printed[m.group(1)] = (float(m.group(2)), m.group(3), m.group(4))
    return {"result": json.loads(lines[-1]), "printed": printed, "stdout": stdout}


@pytest.fixture(scope="module", params=WORKLOADS)
def traced(request):
    return request.param, _bench(request.param, trace=1)


def test_traced_run_prints_every_metric_with_unit(traced):
    workload, out = traced
    res = out["result"]
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["metrics"]) == set(PER_LAYER)
    for name, unit in PER_LAYER.items():
        m = res["metrics"][name]
        assert m["unit"] == unit and math.isfinite(m["value"]), (workload, name, m)
    # the end-to-end metrics print too (with sample counts), beside error_rate
    for name, unit in END_TO_END.items():
        value, printed_unit, n = out["printed"][name]
        assert printed_unit == unit and math.isfinite(value) and int(n) >= 1
    assert out["printed"]["error_rate"][0] == 0.0
    spans = [ln for ln in out["stdout"].splitlines() if ln.startswith("spans ")]
    assert spans and json.loads(spans[0][len("spans "):])


def test_generator_lateness_is_reported(traced):
    workload, out = traced
    late = out["result"]["metrics"]["harness.generator_late_max_s"]["value"]
    assert late >= 0.0
    if workload == "stream_upsert":
        assert "stream_upsert:" in out["stdout"] and "after due" in out["stdout"]


def test_untraced_run_reports_end_to_end_metrics():
    out = _bench("bulk_replay", trace=0)
    res = out["result"]
    assert res["correct"] is True and res["failed"] == 0
    assert set(res["metrics"]) == set(END_TO_END)
    for name, unit in END_TO_END.items():
        assert res["metrics"][name]["unit"] == unit
        assert math.isfinite(res["metrics"][name]["value"])
        assert res["metrics"][name]["value"] > 0
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_work"))


def test_benchmark_json_names_what_the_runner_prints():
    from perfbench.workloads import WORKLOADS as RUNNABLE

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(RUNNABLE)


def test_missing_engine_fails_without_result(tmp_path):
    # a directory holding only BENCHMARK.json and the benchmark's files
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "bulk_replay", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


# ------------------------------------------------------------------ gates


@pytest.fixture(scope="module")
def spark():
    from commons_codec_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests", cpus=2, shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def replayed(spark, tmp_path_factory):
    from commons_codec_spark.sources.eventlog import generate_event_log
    from perfbench.workloads import new_pipeline, new_table

    work = tmp_path_factory.mktemp("gate")
    events = generate_event_log(spark, n_events=3000, seed=5, batch_size=1000).cache()
    table = new_table(spark, str(work / "table"))
    new_pipeline(spark, table, str(work / "ckpt")).run_replay(events)
    expected = checks.oracle_state(events, seed=5, sample_mod=4)
    return work, events, table, expected


def _corrupt_copy(spark, work, events, table, expected):
    """A copy of ``table`` with one sampled live key's content rewritten
    by a later update event."""
    from commons_codec_spark.lake.table import KeyedLakeTable
    from perfbench.workloads import new_pipeline

    root = str(work / "corrupt")
    shutil.copytree(table.root, root)
    bad = KeyedLakeTable(spark, root)
    (repo, path), row = next(iter(expected["rows"].items()))
    template = events.filter(events.op == "update").drop("batch_id").first().asDict()
    image = json.dumps({"repo": {"S": repo}, "path": {"S": path},
                        "commit": {"S": row["commit"]}, "content": {"S": "tampered"},
                        "size": {"N": "8"}})
    keys_json = json.dumps({"repo": {"S": repo}, "path": {"S": path}})
    ev = {**template, "event_id": "evt-tampered", "keys_json": keys_json,
          "image": image, "commit_seq": 10**9}
    df = spark.createDataFrame([ev], events.drop("batch_id").schema)
    new_pipeline(spark, bad, str(work / "corrupt-ckpt")).apply_batch(df, 10**6)
    return bad


def test_oracle_gate_passes_on_engine_table(spark, replayed):
    _work, _events, table, expected = replayed
    ok, detail = checks.oracle_gate(spark, table, expected)
    assert ok, detail
    assert len(expected["keys"]) > 0


def test_gates_catch_corrupted_copy(spark, replayed):
    work, events, table, expected = replayed
    bad = _corrupt_copy(spark, work, events, table, expected)
    ok, detail = checks.oracle_gate(spark, bad, expected)
    assert not ok and "MISMATCH" in detail
    ok, detail = checks.replica_gate(spark, table, bad)
    assert not ok and "MISMATCH" in detail
    ok, _ = checks.replica_gate(spark, table, table)
    assert ok
