"""The benchmark's own tests: the event-log parser, BENCHMARK.json against
the harness, the page generator against synth_pages, and every workload end
to end at the smoke size.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import eventlog  # noqa: E402
import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _job_start(jid, t, stages, group):
    return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t,
            "Stage IDs": stages, "Properties": {eventlog.GROUP_KEY: group} if group else {}}


def _stage(kind, sid, group=None):
    ev = {"Event": kind, "Stage Info": {"Stage ID": sid, "Stage Attempt ID": 0}}
    if kind == "SparkListenerStageSubmitted":
        ev["Properties"] = {eventlog.GROUP_KEY: group} if group else {}
    return ev


def _task(sid, reason="Success", run_ms=10, shuffle=0, out=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": sid, "Stage Attempt ID": 0,
            "Task End Reason": {"Reason": reason},
            "Task Metrics": {"Executor Run Time": run_ms, "JVM GC Time": 1,
                             "Disk Bytes Spilled": 0,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                             "Output Metrics": {"Bytes Written": out}}}


def test_eventlog_attributes_by_job_group():
    events = [
        _job_start(0, 1000, [0, 1], "a#p0"),
        _stage("SparkListenerStageSubmitted", 0, "a#p0"),
        _task(0, shuffle=100),
        _task(0, reason="ExceptionFailure"),
        _stage("SparkListenerStageCompleted", 0),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
        _job_start(1, 4000, [2], None),  # untagged: not counted anywhere
        _stage("SparkListenerStageSubmitted", 2),
        _task(2, run_ms=999),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 5000},
        _job_start(2, 6000, [3], "b#p0"),
        _stage("SparkListenerStageSubmitted", 3, "b#p0"),
        _task(3, out=2_000_000),
        _stage("SparkListenerStageCompleted", 3),
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 6500},
    ]
    g = eventlog.parse(json.dumps(e) for e in events)
    assert set(g) == {"a#p0", "b#p0"}
    a, b = g["a#p0"], g["b#p0"]
    assert (a.jobs, a.stages, a.tasks, a.failed_tasks) == (1, 1, 2, 1)
    assert (a.run_ms, a.gc_ms, a.shuffle_write_bytes) == (20, 2, 100)
    assert a.job_spans == [(1.0, 3.0)]
    assert (b.jobs, b.output_bytes, b.run_ms) == (1, 2_000_000, 10)


def test_covered_merges_overlapping_spans_and_clips():
    spans = [(1.0, 3.0), (2.0, 4.0), (6.0, 7.0), (9.0, 12.0)]
    assert eventlog.covered(spans, 0.0, 10.0) == pytest.approx(3.0 + 1.0 + 1.0)
    assert eventlog.covered(spans, 2.5, 6.5) == pytest.approx(1.5 + 0.5)
    assert eventlog.covered([], 0.0, 1.0) == 0.0


def test_benchmark_json_matches_harness():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    assert b["command"] == ["python3", "perfbench/run.py"]
    assert sorted(w["name"] for w in b["workloads"]) == sorted(WORKLOADS)
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == {
        k: v[0] for k, v in run.per_layer_spec().items()
    }
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])


def test_page_generator_matches_synth_pages(tmp_path):
    """The pages the benchmark writes are the rows synth_pages yields."""
    import pyarrow.parquet as pq

    from parrsb_spark.session import get_spark
    from parrsb_spark.sources.pages import synth_pages

    run.pin_environment()
    p = WORKLOADS["crawl-ingest"].sizes["smoke"]
    WORKLOADS["crawl-ingest"].generate(p, 7, str(tmp_path))
    ours = pq.read_table(tmp_path / "pages.parquet").to_pandas()
    spark = get_spark(master="local[2]", shuffle_partitions=2)
    try:
        theirs = synth_pages(spark, p["pages"], m=p["m"], seed=7).toPandas()
    finally:
        spark.stop()
    ours["html"] = ours["html"].map(bytes)
    theirs["html"] = theirs["html"].map(bytes)
    key = "url"
    ours, theirs = ours.sort_values(key).reset_index(drop=True), theirs.sort_values(key).reset_index(drop=True)
    assert list(ours.columns) == list(theirs.columns)
    for col in ("url", "html", "text", "lang"):
        assert ours[col].tolist() == theirs[col].tolist(), col
    assert (ours["warc_ts"].dt.tz_convert("UTC").dt.tz_localize(None)
            == theirs["warc_ts"].dt.tz_localize(None)).all()


def _run(workload: str, trace: int, cwd: str = ROOT, seconds: int = 1) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
           "--seconds", str(seconds), "--trace", str(trace), "--size", "smoke"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke_run_is_correct(workload):
    r = _run(workload, 0)
    assert r.returncode == 0, r.stderr[-3000:]
    out = json.loads(r.stdout.strip().splitlines()[-1])
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 2
    assert set(out["metrics"]) == set(run.END_TO_END)
    assert all(m["value"] > 0 for m in out["metrics"].values())


def test_smoke_traced_run_reports_every_layer():
    r = _run("mesh-partition", 1)
    assert r.returncode == 0, r.stderr[-3000:]
    out = json.loads(r.stdout.strip().splitlines()[-1])
    assert out["correct"]
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert set(m) == set(run.per_layer_spec())
    assert m["operators.rsb_partition.jobs"] > 0
    assert m["operators.connected_components.jobs"] > 0
    assert m["plans.rsb_ckpt.files_written"] > 0
    assert m["operators.pagerank.jobs"] == 0  # not a mesh-partition call


def test_every_pass_starts_a_fresh_jvm():
    """A second pass runs in its own process, so module-level state bound to
    the first JVM (such as the ingest's pandas UDF) cannot break it, and it
    runs as cold as the first."""
    r = _run("crawl-ingest", 0, seconds=80)
    assert r.returncode == 0, r.stderr[-3000:]
    out = json.loads(r.stdout.strip().splitlines()[-1])
    assert out["correct"] and out["attempted"] >= 4
    assert " passes=1 " not in r.stdout


def test_fails_without_the_package(tmp_path):
    """In a directory holding only the benchmark, the run fails and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    r = _run("powerlaw-analytics", 0, cwd=str(tmp_path))
    assert r.returncode != 0
    assert not r.stdout.strip()
