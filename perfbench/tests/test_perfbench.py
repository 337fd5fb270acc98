"""Tests of the benchmark harness (perfbench/run.py), not of the engine.

    python -m pytest perfbench/tests -q

Each test drives the real command at the miniature crawl size
(``--mini``); the query suite is the full one. They take a few minutes.
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import time

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
RUN = [sys.executable, os.path.join(ROOT, "perfbench", "run.py")]
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    DECLARED = json.load(f)


def bench(workload: str, trace: int = 0, env: dict | None = None):
    p = subprocess.run(
        RUN + ["--workload", workload, "--seed", "1", "--seconds", "1",
               "--trace", str(trace), "--mini"],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=600,
        env=env,
    )
    lines = p.stdout.strip().splitlines()
    return p, (json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None)


def marked_processes() -> list[int]:
    """Live processes that carry a benchmark run's marker variable."""
    out = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/environ", "rb") as f:
                env = f.read().split(b"\0")
        except OSError:
            continue
        if any(v.startswith(b"PERFBENCH_RUN=") for v in env):
            out.append(int(pid))
    return out


def assert_metrics(p, res, declared: list[dict]) -> None:
    for m in declared:
        got = res["metrics"].get(m["name"])
        assert got is not None, f"{m['name']} missing"
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
        # the human-readable block names every metric with its unit
        assert any(
            line.split()[:1] == [m["name"]] and m["unit"] in line.split()
            for line in p.stdout.splitlines()
        ), m["name"]


@pytest.mark.parametrize("workload", [w["name"] for w in DECLARED["workloads"]])
def test_every_end_to_end_metric_printed_with_unit(workload):
    p, res = bench(workload)
    assert p.returncode == 0, p.stdout[-3000:] + p.stderr[-3000:]
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    assert_metrics(p, res, DECLARED["end_to_end"])
    for m in DECLARED["end_to_end"]:
        assert res["metrics"][m["name"]]["value"] > 0, m["name"]
    assert "failed_ratio" in p.stdout
    assert not marked_processes()


def test_traced_run_reports_every_layer_metric():
    p, res = bench("crawl_deep", trace=1)
    assert p.returncode == 0, p.stdout[-3000:] + p.stderr[-3000:]
    assert_metrics(p, res, DECLARED["per_layer"])
    assert "trace.overhead_s" in res["metrics"]
    assert not marked_processes()


def test_corrupted_pins_are_reported_as_failures(tmp_path):
    with open(os.path.join(ROOT, "perfbench", "pins.json")) as f:
        pins = json.load(f)
    for d in pins["crawl"].values():
        d["crawl_order"] = "0" * 64
    pins["queries"]["pricing_summary"]["digest"] = "0" * 64
    bad = tmp_path / "pins.json"
    bad.write_text(json.dumps(pins))
    env = dict(os.environ, PERFBENCH_PINS=str(bad))
    for workload, needle in (
        ("crawl_deep", "crawl digest crawl_order differs"),
        ("queries", "query pricing_summary pass 1"),
    ):
        p, res = bench(workload, env=env)
        assert p.returncode != 0
        assert res is not None and not res["correct"]
        assert res["failed"] >= 1
        assert needle in p.stdout
    assert not marked_processes()


@pytest.mark.parametrize("sig", [signal.SIGTERM, signal.SIGINT])
def test_interrupted_run_leaves_no_process(sig):
    proc = subprocess.Popen(
        RUN + ["--workload", "crawl_deep", "--seed", "1", "--seconds", "1",
               "--trace", "0", "--mini"],
        cwd=ROOT,
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
    )
    try:
        # wait until the JVM and Python workers are up
        deadline = time.monotonic() + 120
        while time.monotonic() < deadline and len(marked_processes()) < 3:
            time.sleep(0.5)
        assert len(marked_processes()) >= 3
        proc.send_signal(sig)
        out, _ = proc.communicate(timeout=60)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    assert proc.returncode != 0
    assert '"correct"' not in out
    assert not marked_processes()
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_work")) or not os.listdir(
        os.path.join(ROOT, ".perfbench_work")
    )
