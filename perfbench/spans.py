"""Traced-run tooling: in-memory spans around the program's public calls,
per-layer self time, lake file accounting and Spark event-log counters.

Nothing here runs in an untraced run: ``Tracer.install`` wraps the public
methods at class level, so the untraced path calls the program unchanged.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
import threading
import time
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    batch_id: str | None = None


@dataclass
class LakeWrites:
    files: int = 0
    bytes: int = 0
    commits: int = 0
    compactions: int = 0


class Tracer:
    """Spans keep a per-thread parent stack. A span opened on a thread with
    an empty stack (the streamer's merge pool threads) is attributed to the
    sync cycle in flight; the bench's reader thread opens its own root span
    first, so its reads are never attributed to a cycle."""

    def __init__(self):
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._next = 0
        self._local = threading.local()
        self._cycle: Span | None = None
        self.lake = LakeWrites()
        # cycles that applied a batch (a poll that finds nothing new is a
        # sync_cycle call too), and the input lag at each one's start
        self.cycles: list[Span] = []
        self.input_lag_blocks: list[float] = []

    # -- spans -------------------------------------------------------------

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str, batch_id: str | None = None) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else self._cycle
        with self._lock:
            sp = Span(self._next, name, time.time(), parent=parent.id if parent else None)
            self._next += 1
            self.spans.append(sp)
        sp.batch_id = batch_id or (parent.batch_id if parent else None)
        stack.append(sp)
        return sp

    def close(self, sp: Span) -> None:
        sp.end = time.time()
        self._stack().pop()

    def wrap(self, cls, method: str, name: str, before=None, after=None) -> None:
        orig = getattr(cls, method)

        @functools.wraps(orig)
        def traced(obj, *a, **kw):
            ctx = before(obj, *a, **kw) if before else None
            sp = self.open(name)
            try:
                return orig(obj, *a, **kw)
            finally:
                self.close(sp)
                if after:
                    after(obj, ctx)

        setattr(cls, method, traced)

    # -- instrumentation ---------------------------------------------------

    def install(self, released_seq) -> None:
        """Wrap the program's public calls. ``released_seq()`` gives the
        open-loop head, for the input-lag sample taken at each cycle start."""
        from ethereum_etl_spark.lake import LakeTable
        from ethereum_etl_spark.sources.wal import WalTailer
        from ethereum_etl_spark.streaming import ChainStreamer

        self.wrap(WalTailer, "head", "sources.head")
        self.wrap(WalTailer, "read_range", "sources.read_range")
        self.wrap(LakeTable, "read", "lake.read")
        for m in ("merge_upsert", "append"):
            self.wrap(
                LakeTable, m, f"lake.{m}",
                before=lambda t, *a, **kw: t.current_version(),
                after=self._count_writes,
            )

        orig_cycle = ChainStreamer.sync_cycle
        tracer = self

        @functools.wraps(orig_cycle)
        def sync_cycle(streamer, tailer, watermark, allow_skip=False):
            released = released_seq()
            sp = tracer.open("streaming.sync_cycle", batch_id=f"{watermark}-?")
            tracer._cycle = sp
            try:
                target = orig_cycle(streamer, tailer, watermark, allow_skip)
            finally:
                tracer._cycle = None
                tracer.close(sp)
            if target is not None:
                sp.batch_id = f"{watermark}-{target}"
                tracer.cycles.append(sp)
                tracer.input_lag_blocks.append(max(released - target, 0) / 16)
            return target

        ChainStreamer.sync_cycle = sync_cycle

    def _count_writes(self, table, v0: int) -> None:
        """Files and bytes each new manifest version added, stat-ed right
        after the call (a later merge may garbage-collect them)."""
        v1 = table.current_version()
        prev = table.manifest(v0)
        for v in range(v0 + 1, v1 + 1):
            m = table.manifest(v)
            old = {f.path for f in prev.files}
            new = [f for f in m.files if f.path not in old]
            size = 0
            for f in new:
                try:
                    size += os.path.getsize(os.path.join(table.root, f.path))
                except OSError:  # folded away by a compaction in the same call
                    pass
            with self._lock:
                self.lake.commits += 1
                self.lake.files += len(new)
                self.lake.bytes += size
                if m.batch_ids == prev.batch_ids and new:
                    self.lake.compactions += 1
            prev = m

    # -- reports -----------------------------------------------------------

    def named(self, name: str, since: float) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.start >= since and s.end]

    def self_time_by_layer(self, since: float) -> dict[str, float]:
        """Per layer (span-name prefix): Σ span duration minus the part of
        its interval covered by its children (children may overlap — the
        merges of one cycle run concurrently)."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None and s.end:
                kids.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            if not s.end or s.start < since:
                continue
            iv = sorted(
                (max(c.start, s.start), min(c.end, s.end)) for c in kids.get(s.id, [])
            )
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in iv:
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            layer = s.name.split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s.end - s.start) - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


@dataclass
class SparkCounters:
    jobs: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    gc_s: float = 0.0


def parse_event_log(log_dir: str, since: float, until: float) -> SparkCounters:
    """Jobs submitted and tasks launched in [since, until] (epoch s)."""
    out = SparkCounters()
    since_ms, until_ms = since * 1000, until * 1000
    # Spark 4 writes a directory of rolled event files per application
    for path in glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True):
        with open(path) as f:
            for line in f:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    if since_ms <= ev.get("Submission Time", 0) <= until_ms:
                        out.jobs += 1
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    if not since_ms <= ev["Task Info"]["Launch Time"] <= until_ms:
                        continue
                    out.tasks += 1
                    tm = ev.get("Task Metrics") or {}
                    out.executor_run_s += tm.get("Executor Run Time", 0) / 1000
                    out.gc_s += tm.get("JVM GC Time", 0) / 1000
                    out.spill_bytes += tm.get("Memory Bytes Spilled", 0) + tm.get(
                        "Disk Bytes Spilled", 0
                    )
                    sw = tm.get("Shuffle Write Metrics") or {}
                    out.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
    return out


_LOG_RECORD = re.compile(r"^\d{2}/\d{2}/\d{2} \d{2}:\d{2}:\d{2} ")


def count_codegen_fallbacks(stderr_path: str) -> int:
    """Log records (a header line plus its stack-trace lines) in which the
    code generator failed to compile a method that grew beyond 64 KB; Spark
    then falls back to slower, non-whole-stage execution for that plan."""
    records: list[str] = []
    with open(stderr_path, errors="replace") as f:
        for line in f:
            if _LOG_RECORD.match(line) or not records:
                records.append(line)
            else:
                records[-1] += line
    return sum("Failed to compile" in r and "grows beyond 64 KB" in r for r in records)
