"""In-memory spans and the Python-worker RSS sampler.

Spans are recorded around each call the benchmark makes into a layer and
written out once, when the run ends.  A disabled tracer records nothing,
so untraced runs pay only a context-manager enter/exit per call.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Record ``name`` around the block; yields the span dict (or None
        when disabled) so callers can attach results."""
        if not self.enabled:
            yield None
            return
        s = {"id": len(self.spans), "name": name,
             "parent": self._stack[-1] if self._stack else None,
             "start": time.time(), "end": None, **attrs}
        self.spans.append(s)
        self._stack.append(s["id"])
        try:
            yield s
        finally:
            self._stack.pop()
            s["end"] = time.time()

    def add(self, name: str, start: float, end: float, parent: int | None,
            **attrs) -> int:
        """Record a span measured elsewhere (status-store jobs/stages)."""
        sid = len(self.spans)
        self.spans.append({"id": sid, "name": name, "parent": parent,
                           "start": start, "end": end, **attrs})
        return sid

    def write(self, path: str) -> None:
        if not self.enabled:
            return
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f)


def _proc_table() -> dict[int, list[int]]:
    """ppid -> child pids, for every process visible in /proc."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may contain spaces; fields after the closing paren are fixed
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().startswith("python")
    except OSError:
        return False


def _peak_rss_bytes(pid: int) -> int:
    """The kernel's RSS high-water mark (VmHWM) of ``pid``."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def python_descendants(root: int) -> list[int]:
    kids = _proc_table()
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            todo.append(c)
            if _is_python(c):
                out.append(c)
    return out


class RssSampler:
    """Background thread tracking the peak RSS of any Python process under
    the JVM (the pyspark daemon and its forked workers).  It reads each
    process's kernel high-water mark, so short peaks between samples are
    not missed; sampling only has to see each worker once before it
    exits."""

    def __init__(self, jvm_pid: int, interval_s: float = 0.2):
        self.jvm_pid = jvm_pid
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        for pid in python_descendants(self.jvm_pid):
            self.peak_bytes = max(self.peak_bytes, _peak_rss_bytes(pid))

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()
        return False
