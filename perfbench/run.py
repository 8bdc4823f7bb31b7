"""Benchmark entry point: run one workload in a fresh child process.

Usage (from the repository root):

    python3 perfbench/run.py --workload tail --seed 7 --seconds 30 --trace 0

The child (perfbench/chain.py) starts Spark, builds the inputs from the seed,
runs the workload, checks the outputs and prints its metrics. This parent
imports nothing from the program. It samples the peak RSS of the child's
whole process tree (the Python process, Spark JVM, Python workers) from
/proc/<pid>/status VmHWM, enforces a hard time limit, stops every process
the child started, and prints the result as the LAST line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

It exits non-zero when a correctness check fails or the child cannot run
(for example when the program's package is missing from the checkout).
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("tail", "backfill")
# the child must finish well inside the 180 s a run may take
CHILD_TIMEOUT_S = 170
WORK_DIR = os.path.join(ROOT, ".perfbench_work")


def _session_procs(sid: int) -> dict[int, tuple[int, str]]:
    """pid → (parent pid, command name) of every live process whose session
    id is ``sid``. The child runs in a session of its own, and neither the
    Spark JVM nor the PySpark daemon (which only changes its process group)
    leaves it."""
    procs = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        comm, rest = stat.split(" (", 1)[1].rsplit(")", 1)
        # fields after the command name: state ppid pgrp session
        fields = rest.split()
        if int(fields[3]) == sid:
            procs[int(name)] = (int(fields[1]), comm)
    return procs


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler(threading.Thread):
    """Peak RSS of a process session: the sum over its processes of each
    one's high-water mark (VmHWM), sampled until the session ends, so a
    worker that exits early still counts."""

    def __init__(self, sid: int, period_s: float = 0.25):
        super().__init__(daemon=True)
        self.sid = sid
        self.period_s = period_s
        self.peak_kb: dict[int, int] = {}
        self._done = threading.Event()

    def run(self) -> None:
        while not self._done.is_set():
            self.sample()
            self._done.wait(self.period_s)

    def sample(self) -> None:
        procs = _session_procs(self.sid)
        for pid, (ppid, _comm) in procs.items():
            # the JVM spawns helpers with vfork: until one execs, it shares
            # the JVM's memory (and executable), and reports the JVM's VmHWM
            if procs.get(ppid, (0, ""))[1] == "java" and _exe(pid) == _exe(ppid):
                continue
            hwm = _vm_hwm_kb(pid)
            if hwm > self.peak_kb.get(pid, 0):
                self.peak_kb[pid] = hwm

    def stop(self) -> float:
        self._done.set()
        self.join()
        return sum(self.peak_kb.values()) / 1024.0


def _stop_session(sid: int, grace_s: float = 15.0) -> None:
    """SIGTERM, then SIGKILL, every process left in the session; return
    only when none is left."""
    deadline = time.time() + grace_s
    sig = signal.SIGTERM
    while True:
        pids = _session_procs(sid)
        if not pids:
            return
        if time.time() > deadline:
            sig = signal.SIGKILL
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "ethereum_etl_spark", "__init__.py")):
        print(f"perfbench: no ethereum_etl_spark package under {ROOT}", file=sys.stderr)
        return 2

    os.makedirs(WORK_DIR, exist_ok=True)
    cmd = [
        sys.executable, os.path.join(HERE, "chain.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
    ]
    t0 = time.time()
    child = subprocess.Popen(
        cmd, cwd=ROOT, stdout=subprocess.PIPE, start_new_session=True, text=True
    )
    sampler = RssSampler(child.pid)
    sampler.start()
    try:
        out, _ = child.communicate(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        child.kill()
        out, _ = child.communicate()
        print(f"perfbench: child exceeded {CHILD_TIMEOUT_S}s", file=sys.stderr)
    sampler.sample()
    _stop_session(child.pid)
    peak_rss_mb = sampler.stop()

    lines = [ln for ln in out.splitlines() if ln.strip()]
    if child.returncode != 0 or not lines:
        sys.stdout.write(out)
        print(f"perfbench: child exited {child.returncode}", file=sys.stderr)
        return 1
    for ln in lines[:-1]:
        print(ln)
    res = json.loads(lines[-1])
    if args.trace == 0:
        res["metrics"]["peak_rss_mb"] = {"value": peak_rss_mb, "unit": "MB"}
    print(
        f"perfbench: {args.workload} seed={args.seed} wall={time.time() - t0:.1f}s",
        file=sys.stderr,
    )
    print(json.dumps(res))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
