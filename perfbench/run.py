#!/usr/bin/env python3
"""Benchmark command: runs one workload in a supervised child process.

    python3 perfbench/run.py --workload crawl_deep --seed 3 --seconds 5 --trace 0

The parent (this file's ``main``) starts the child in its own session,
so the child, its JVM and every pyspark daemon and worker share one
process group. The parent samples the group's resident memory, enforces
a deadline, forwards SIGINT/SIGTERM, kills and reaps the group, deletes
the run's work directory, and finally checks that no process of the run
is still alive: a survivor is killed and counted as a failed operation.

The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics. The exit
code is 0 only when every operation and every correctness check passed.
See perfbench/README.md for the workloads and the metric map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MARKER = "PERFBENCH_RUN"
# per-run deadline: the contract allows 180 s; leave room to tear down
DEADLINE_S = 170.0
GRACE_S = 10.0
PAGE = os.sysconf("SC_PAGE_SIZE")
RUNS_DIR = os.path.join(ROOT, ".perfbench_runs")


def _proc_ids() -> list[int]:
    return [int(p) for p in os.listdir("/proc") if p.isdigit()]


def _stat(pid: int) -> tuple[bytes, int, int] | None:
    """(state, ppid, pgrp) from /proc/<pid>/stat, or None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
    except OSError:
        return None
    # the fields after the parenthesised command name: state ppid pgrp ...
    state, ppid, pgrp = stat[stat.rfind(b")") + 2 :].split()[:3]
    return state, int(ppid), int(pgrp)


def _statm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return f.read()
    except OSError:
        return ""


def _has_marker(pid: int, token: str) -> bool:
    try:
        with open(f"/proc/{pid}/environ", "rb") as f:
            env = f.read()
    except OSError:
        return False
    return f"{MARKER}={token}".encode() in env.split(b"\0")


def run_processes(token: str, pgid: int) -> list[int]:
    """Live processes of one run: its process group, plus anything that
    left the group but still carries the run's marker variable. Zombies
    are dead and not counted."""
    me = os.getpid()
    out = []
    for pid in _proc_ids():
        st = _stat(pid)
        if pid != me and st and st[0] != b"Z" and (st[2] == pgid or _has_marker(pid, token)):
            out.append(pid)
    return out


def _kill(pids: list[int], sig: int) -> None:
    for pid in pids:
        try:
            os.kill(pid, sig)
        except (ProcessLookupError, PermissionError):
            pass


class MemorySampler(threading.Thread):
    """Peak memory of a run's process tree: the summed resident set size
    of every process carrying the run's marker, sampled every 500 ms.
    The pyspark daemon starts its own session, so membership is by
    marker, not by process group. statm is read rather than
    smaps_rollup, which walks a 2 GB JVM's page tables on every read."""

    def __init__(self, token: str):
        super().__init__(daemon=True)
        self.token = token
        self.peak = 0
        self._member: dict[int, bool] = {}
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.wait(0.5):
            statm = {}
            for pid in _proc_ids():
                if pid not in self._member:
                    self._member[pid] = _has_marker(pid, self.token)
                if self._member[pid]:
                    statm[pid] = _statm(pid)
            # a child caught between vfork and exec (the JVM spawning a
            # process) shares its parent's memory: same mapped size, and a
            # resident size read a moment apart. Count that memory once.
            size = {pid: line.split()[:2] for pid, line in statm.items() if line}
            total = sum(
                int(rss) * PAGE
                for pid, (vm, rss) in size.items()
                if size.get((_stat(pid) or (b"", 0, 0))[1], (None,))[0] != vm
            )
            self.peak = max(self.peak, total)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=5)


def _stop_group(child: subprocess.Popen, token: str) -> list[int]:
    """Wait for the run's processes to exit, then TERM and KILL what is
    left. Returns the processes that were still alive after the child
    itself had exited (the survivors)."""
    pgid = child.pid
    deadline = time.monotonic() + GRACE_S
    while time.monotonic() < deadline and run_processes(token, pgid):
        time.sleep(0.2)
    survivors = run_processes(token, pgid)
    if survivors:
        _kill(survivors, signal.SIGTERM)
        time.sleep(2.0)
        _kill(run_processes(token, pgid), signal.SIGKILL)
    if child.poll() is None:
        child.wait()
    # wait until the kernel has really removed them
    end = time.monotonic() + GRACE_S
    while time.monotonic() < end and run_processes(token, pgid):
        time.sleep(0.1)
    return survivors


def _supervise(args: argparse.Namespace, trace: int) -> tuple[dict | None, int, list[int], str]:
    """Run one child to completion. Returns (result, peak_rss_bytes,
    survivors, reason)."""
    token = uuid.uuid4().hex
    work = os.path.join(ROOT, ".perfbench_work", token)
    os.makedirs(work)
    env = dict(os.environ)
    env.update(
        {
            MARKER: token,
            "PERFBENCH_T0": repr(time.time()),
            "PYTHONPATH": ROOT + os.pathsep + env.get("PYTHONPATH", ""),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "TMPDIR": work,
        }
    )
    cmd = [
        sys.executable,
        os.path.join(HERE, "run.py"),
        "--child",
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(trace),
        "--work", work,
    ]
    if args.mini:
        cmd.append("--mini")
    result, reason = None, ""
    child = subprocess.Popen(
        cmd, cwd=work, env=env, stdout=sys.stderr, start_new_session=True
    )
    sampler = MemorySampler(token)
    sampler.start()

    def on_signal(signum, _frame):
        raise KeyboardInterrupt(signal.Signals(signum).name)

    old = {s: signal.signal(s, on_signal) for s in (signal.SIGINT, signal.SIGTERM)}
    interrupted = None
    try:
        try:
            child.wait(timeout=DEADLINE_S)
        except subprocess.TimeoutExpired:
            reason = f"child exceeded the {DEADLINE_S:.0f} s deadline"
            _kill(run_processes(token, child.pid), signal.SIGTERM)
        except KeyboardInterrupt as exc:
            interrupted = exc
            _kill(run_processes(token, child.pid), signal.SIGTERM)
    finally:
        survivors = _stop_group(child, token)
        sampler.stop()
        signal.signal(signal.SIGINT, old[signal.SIGINT])
        signal.signal(signal.SIGTERM, old[signal.SIGTERM])
        res_path = os.path.join(work, "result.json")
        if os.path.exists(res_path) and not reason and interrupted is None:
            with open(res_path) as f:
                result = json.load(f)
        if result is not None and result.get("spans"):
            os.makedirs(RUNS_DIR, exist_ok=True)
            trace_path = os.path.join(
                RUNS_DIR, f"trace-{args.workload}-{args.seed}-{token[:8]}.json"
            )
            with open(trace_path, "w") as f:
                json.dump(result.pop("spans"), f)
            print(f"spans written to {trace_path}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    if interrupted is not None:
        raise interrupted
    if result is None and not reason:
        reason = f"child exited with code {child.returncode} and no result"
    return result, sampler.peak, survivors, reason


def _untraced_path(args: argparse.Namespace) -> str:
    mini = "-mini" if args.mini else ""
    return os.path.join(RUNS_DIR, f"untraced-{args.workload}{mini}.json")


def _untraced_baseline(args: argparse.Namespace) -> float | None:
    path = _untraced_path(args)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        vals = json.load(f)
    return statistics.median(vals) if vals else None


def _record_untraced(args: argparse.Namespace, work_s: float) -> None:
    os.makedirs(RUNS_DIR, exist_ok=True)
    path = _untraced_path(args)
    vals = []
    if os.path.exists(path):
        with open(path) as f:
            vals = json.load(f)
    vals = (vals + [work_s])[-20:]
    with open(path, "w") as f:
        json.dump(vals, f)


def _one_run(args: argparse.Namespace, trace: int) -> tuple[dict | None, str]:
    result, peak, survivors, reason = _supervise(args, trace)
    if result is None:
        return None, reason
    if survivors:
        print(
            f"{len(survivors)} process(es) of the run outlived it and were killed",
            file=sys.stderr,
        )
        result["attempted"] += 1
        result["failed"] += 1
        result["correct"] = False
    result["attempted"] += 1  # the survivor check itself
    if not trace:
        result["metrics"]["peak_rss_mb"] = {"value": peak / 1e6, "unit": "MB"}
        result["summary"].append(("peak_rss_mb", peak / 1e6, "MB", "process tree"))
    return result, ""


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--mini",
        action="store_true",
        help="miniature inputs, for the benchmark's own tests",
    )
    ap.add_argument("--child", action="store_true", help=argparse.SUPPRESS)
    ap.add_argument("--work", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    if args.child:
        import workloads

        return workloads.child_main(args)

    if not os.path.isdir(os.path.join(ROOT, "newscrawl")):
        print(f"no newscrawl package under {ROOT}: nothing to measure", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(
            f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}",
            file=sys.stderr,
        )
        return 2

    try:
        return _measure(args)
    except KeyboardInterrupt as exc:
        print(f"interrupted by {exc}; the run's processes were stopped", file=sys.stderr)
        return 143 if str(exc) == "SIGTERM" else 130


def _measure(args: argparse.Namespace) -> int:
    result, reason = _one_run(args, args.trace)
    if result is None:
        print(f"benchmark run failed: {reason}", file=sys.stderr)
        return 1
    metrics = result["metrics"]
    if args.trace and "trace.work_s" in metrics:
        base = _untraced_baseline(args)
        # without an earlier untraced run in this checkout there is
        # nothing to compare against: report no overhead, and say so
        overhead = 0.0 if base is None else metrics["trace.work_s"]["value"] - base
        metrics["trace.overhead_s"] = {"value": overhead, "unit": "s"}
        result["summary"].append(
            (
                "trace.overhead_s", overhead, "s",
                "no untraced run in this checkout yet" if base is None
                else "traced minus untraced work_s",
            )
        )
    elif not args.trace and result["correct"]:
        _record_untraced(args, metrics["work_s"]["value"])

    result["summary"].append(
        (
            "failed_ratio",
            result["failed"] / max(result["attempted"], 1),
            "ratio",
            f"{result['failed']} of {result['attempted']} operations",
        )
    )
    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}")
    for name, value, unit, note in result["summary"]:
        print(f"  {name:<36} {value:>14.6g} {unit:<6} {note}")
    for msg in result["failures"]:
        print(f"  FAILED: {msg}")
    print(
        json.dumps(
            {
                "correct": result["correct"],
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0 if result["correct"] and result["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
