"""In-memory spans and process-tree memory sampling.

Spans are recorded by the benchmark around its calls into the library's
public functions (never inside the library). Each span keeps its name,
start, end, parent span and the op id it belongs to; they stay in memory
and are written as one JSON file when the run ends.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[tuple] = []  # (id, name, start, end, parent, op_id)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, op_id: str | None = None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        if op_id is None and parent is not None:
            op_id = parent[1]
        sid = next(self._ids)
        stack.append((sid, op_id))
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(
                    (sid, name, start, end, parent[0] if parent else None, op_id)
                )

    def self_seconds(self) -> dict[str, float]:
        """Per span name: total duration minus the part of it covered by
        child spans."""
        children: dict = defaultdict(list)
        for s in self.spans:
            if s[4] is not None:
                children[s[4]].append((s[2], s[3]))
        out: dict[str, float] = defaultdict(float)
        for sid, name, start, end, _parent, _op in self.spans:
            covered, cur_end = 0.0, start
            for c0, c1 in sorted(children.get(sid, ())):
                c0 = max(c0, cur_end)
                if c1 > c0:
                    covered += c1 - c0
                    cur_end = c1
            out[name] += (end - start) - covered
        return dict(out)

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        spans = [
            {"id": s[0], "name": s[1], "start": s[2], "end": s[3], "parent": s[4], "op": s[5]}
            for s in sorted(self.spans, key=lambda s: s[2])
        ]
        with open(path, "w") as f:
            json.dump({**extra, "self_seconds": self.self_seconds(), "spans": spans}, f)


def _proc_stat(pid: int | str) -> tuple[int, int] | None:
    """(ppid, start time in clock ticks after boot) of a live process, or
    None once it has gone. The start time tells a process from a later one
    that reuses its pid."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    # the command name may hold spaces; the fields after it start at state
    fields = stat[stat.rindex(")") + 2 :].split()
    return int(fields[1]), int(fields[19])


def start_time(pid: int) -> int | None:
    st = _proc_stat(pid)
    return None if st is None else st[1]


def descendants(pid: int) -> dict[int, int]:
    """Every live descendant of ``pid``, with its start time."""
    kids: dict[int, list[tuple[int, int]]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _proc_stat(entry)
            if st is not None:
                kids[st[0]].append((int(entry), st[1]))
    out, todo = {}, [pid]
    while todo:
        for child, start in kids.get(todo.pop(), ()):
            out[child] = start
            todo.append(child)
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, each shared page split among
    the processes mapping it, so forked Python workers are not counted
    once per fork."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class MemorySampler:
    """Peak memory (PSS) of this process plus every descendant (the Spark
    driver JVM and its Python workers), sampled on a thread."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak_kb = 0
        # every descendant ever sampled: pid -> start time
        self.seen: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        tree = descendants(me)
        self.seen.update(tree)
        self.peak_kb = max(self.peak_kb, sum(_pss_kb(p) for p in [me, *tree]))

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
