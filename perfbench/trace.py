"""Measurement plumbing that lives outside the engine.

- ``Tracer``: in-memory spans (name, start, end, parent, trace id) recorded
  around the benchmark's own calls into the engine, written as JSON at exit.
- ``Py4jCounter``: counts driver→JVM round trips by wrapping
  ``GatewayClient.send_command`` (traced runs only).
- ``EventLog``: stream-parses a Spark event log and attributes jobs and
  tasks to the tracer's call windows by epoch-ms timestamps.
- ``MemSampler``: peak summed PSS of this process's descendants (the
  driver JVM, the PySpark daemon and its Python workers), sampled from
  ``/proc``.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import threading
import time

import py4j.java_gateway


class Tracer:
    def __init__(self, trace_prefix: str):
        self.prefix = trace_prefix
        self.spans: list[dict] = []
        self._local = threading.local()
        self._ids = itertools.count()
        self.counter: Py4jCounter | None = None

    @contextlib.contextmanager
    def span(self, name: str, trace: str = "", **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {"id": next(self._ids), "name": name,
               "parent": stack[-1]["id"] if stack else None,
               "trace": f"{self.prefix}/{trace}" if trace else self.prefix,
               "start": time.time(), "end": None, **attrs}
        stack.append(rec)
        calls0 = self.counter.value if self.counter else 0
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["dur"]
            if self.counter:
                rec["py4j"] = self.counter.value - calls0
            stack.pop()
            self.spans.append(rec)

    def named(self, name: str) -> list[dict]:
        return sorted((s for s in self.spans if s["name"] == name),
                      key=lambda s: s["start"])

    def wrap(self, owner, attr: str, name: str, trace_of=None):
        """Replace ``owner.attr`` with a spanned wrapper; returns an undo
        callable. ``trace_of(args)`` names the span's trace id."""
        orig = getattr(owner, attr)

        def wrapper(*args, **kwargs):
            trace = trace_of(args) if trace_of else ""
            with self.span(name, trace=trace) as rec:
                out = orig(*args, **kwargs)
                rec["result"] = out if isinstance(out, dict) else None
                return out

        setattr(owner, attr, wrapper)
        return lambda: setattr(owner, attr, orig)

    def records(self) -> list[dict]:
        """Spans in start order, without the wrapped calls' return values."""
        return [{k: v for k, v in s.items() if k != "result"}
                for s in sorted(self.spans, key=lambda s: s["start"])]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.records(), f, indent=0)


class Py4jCounter:
    """Counts every command the Python driver sends to the JVM. Pinned-thread
    mode uses ``clientserver.JavaClient``, which inherits ``send_command``
    from ``GatewayClient``, so one class patch covers every thread."""

    def __init__(self):
        self.value = 0
        self._lock = threading.Lock()

    def install(self) -> None:
        orig = py4j.java_gateway.GatewayClient.send_command

        def send_command(client, *args, **kwargs):
            with self._lock:
                self.value += 1
            return orig(client, *args, **kwargs)

        py4j.java_gateway.GatewayClient.send_command = send_command


class EventLog:
    """Jobs, tasks and cached-block sizes read from every application log
    under ``log_dir`` (plain files or rolling ``eventlog_v2_*/events_*``
    directories; ``spark.eventLog.compress=false``)."""

    _WANTED = ("SparkListenerJobStart", "SparkListenerJobEnd",
               "SparkListenerTaskEnd", "SparkListenerBlockUpdated")

    def __init__(self, log_dir: str):
        self.jobs: dict[tuple[str, int], list] = {}
        # (launch_ms, finish_ms, run_ms, cpu_ns, gc_ms, shuffle_rw_bytes,
        #  spill_bytes)
        self.tasks: list[tuple] = []
        # (approx_ms, block_id, bytes) in log order; a block update carries
        # no timestamp, so it takes the latest task-finish time before it
        self.blocks: list[tuple] = []
        for path in self._files(log_dir):
            self._parse(path)

    @staticmethod
    def _files(log_dir: str) -> list[str]:
        out = []
        for name in sorted(os.listdir(log_dir)):
            p = os.path.join(log_dir, name)
            if os.path.isdir(p):
                out += [os.path.join(p, f) for f in sorted(os.listdir(p))
                        if f.startswith("events_")]
            else:
                out.append(p)
        return out

    def _parse(self, path: str) -> None:
        app = path
        last_ms = 0
        with open(path) as f:
            for line in f:
                head = line[:64]
                if not any(w in head for w in self._WANTED):
                    continue
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    self.jobs[(app, ev["Job ID"])] = [
                        ev["Submission Time"], None]
                elif kind == "SparkListenerJobEnd":
                    job = self.jobs.get((app, ev["Job ID"]))
                    if job is not None:
                        job[1] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    rd = m.get("Shuffle Read Metrics") or {}
                    wr = m.get("Shuffle Write Metrics") or {}
                    last_ms = max(last_ms, info["Finish Time"])
                    self.tasks.append((
                        info["Launch Time"], info["Finish Time"],
                        m.get("Executor Run Time", 0),
                        m.get("Executor CPU Time", 0),
                        m.get("JVM GC Time", 0),
                        rd.get("Remote Bytes Read", 0)
                        + rd.get("Local Bytes Read", 0)
                        + wr.get("Shuffle Bytes Written", 0),
                        m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                    ))
                else:
                    b = ev["Block Updated Info"]
                    bid = b["Block ID"]
                    if bid.startswith("rdd_"):
                        self.blocks.append((
                            last_ms, (app, bid),
                            b.get("Memory Size", 0) + b.get("Disk Size", 0)))

    def window(self, start: float, end: float) -> dict:
        """Stats for the wall-clock window [start, end] (epoch seconds)."""
        lo, hi = start * 1000.0, end * 1000.0
        jobs = [(s, e if e is not None else hi)
                for s, e in self.jobs.values() if lo <= s <= hi]
        busy = 0.0
        cur_s = cur_e = None
        for s, e in sorted((max(s, lo), min(e, hi)) for s, e in jobs):
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    busy += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            busy += cur_e - cur_s
        tasks = [t for t in self.tasks if lo <= t[0] <= hi]
        cached: dict = {}
        peak = 0
        for ms, bid, size in self.blocks:
            if ms > hi:
                break
            if size:
                cached[bid] = size
            else:
                cached.pop(bid, None)
            if ms >= lo:
                peak = max(peak, sum(cached.values()))
        return {
            "jobs": len(jobs),
            "driver_gap_s": max(0.0, (hi - lo) - busy) / 1000.0,
            "tasks": len(tasks),
            "task_s": sum(t[2] for t in tasks) / 1000.0,
            "cpu_s": sum(t[3] for t in tasks) / 1e9,
            "gc_s": sum(t[4] for t in tasks) / 1000.0,
            "shuffle_mb": sum(t[5] for t in tasks) / 1e6,
            "spill_mb": sum(t[6] for t in tasks) / 1e6,
            "cache_mb": peak / 1e6,
        }


class MemSampler:
    """Peak of the summed proportional set size (PSS) of every descendant
    of this process. PSS splits pages shared between processes — the
    PySpark daemon and the workers it forks share most of theirs — so the
    sum counts each page once."""

    def __init__(self, period_s: float = 0.5):
        self.period = period_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def sample(self) -> None:
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        stat = f.read()
                except OSError:
                    continue
                # comm may contain spaces: fields resume after the last ')'
                parent[int(d)] = int(stat[stat.rfind(")") + 2:].split()[1])
        me = os.getpid()
        total = 0
        for pid in parent:
            p = parent[pid]
            while p and p != me:
                p = parent.get(p)
            if p == me:
                total += self._pss(pid)
        self.peak_bytes = max(self.peak_bytes, total)

    @staticmethod
    def _pss(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1]) * 1024
        except OSError:
            pass
        return 0
