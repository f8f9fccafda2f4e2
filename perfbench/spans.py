"""Spans and process-tree memory for the benchmark.

:class:`Tracer` keeps spans (name, start, end, parent span, op id) in
memory and writes them out once, at exit. A layer's self time is its
span's duration minus the part of that interval its child spans cover.
With tracing off every call is a no-op, so untraced runs pay nothing.

:class:`RssSampler` polls ``/proc`` for the resident memory (as
proportional set size) of this process and all its descendants (the
Spark JVM, Python workers) and keeps the peak of their sum.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time


class Tracer:
    """Spans of one run; ``op`` is the id of the operation (tick,
    search, set-up step) new spans belong to."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str = "setup"

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Record ``name`` around the block; yields the span's dict so
        the block can attach counts. A span whose block raises gets
        ``failed: True``."""
        if not self.enabled:
            yield {}
            return
        idx = len(self.spans)
        rec = {
            "name": name,
            "op": self.op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        except BaseException:
            rec["failed"] = True
            raise
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> list[float]:
        """Self time per span, index-aligned with ``spans``. Children of
        one span run sequentially (one caller thread), so their
        durations do not overlap and subtract directly."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return [s["end"] - s["start"] - c for s, c in zip(self.spans, child)]

    def per_op_median(self, name: str, timed_ops: set[str], key: str | None = None) -> float:
        """Median over ops of one layer's value summed within an op:
        its self time, its wall time (``key="@wall"``) or the span
        attribute ``key``. Timed ops only, unless the layer appears in
        none of them (set-up-only layers such as the session start);
        then over set-up ops. 0 when the layer never ran."""
        by_op: dict[str, float] = {}
        for s, st in zip(self.spans, self.self_times()):
            if s["name"] == name:
                if key is None:
                    v = st
                elif key == "@wall":
                    v = s["end"] - s["start"]
                else:
                    v = s.get(key) or 0
                by_op[s["op"]] = by_op.get(s["op"], 0) + v
        timed = [v for op, v in by_op.items() if op in timed_ops]
        values = timed or list(by_op.values())
        return statistics.median(values) if values else 0.0

    def failures(self, prefix: str) -> int:
        """Spans of layer module ``prefix`` whose block raised."""
        return sum(
            1 for s in self.spans if s["name"].startswith(prefix + ".") and s.get("failed")
        )

    def dump(self, path: str) -> None:
        """Spans as JSON lines, start/end relative to the first span,
        each with its self time."""
        if not self.spans:
            return
        t0 = self.spans[0]["start"]
        with open(path, "w") as fh:
            for s, st in zip(self.spans, self.self_times()):
                fh.write(
                    json.dumps(
                        {**s, "start": s["start"] - t0, "end": s["end"] - t0, "self": st}
                    )
                    + "\n"
                )


def children_map() -> dict[int, list[int]]:
    """ppid -> child pids, over every visible process (the JVM spawns
    Python workers from its own threads, so per-thread child lists of
    this process would miss them)."""
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _pss_kb(pid: int) -> int:
    """Proportional set size: pages shared between processes (the
    forked Python workers share the daemon's) count once across the
    tree, where summed RSS would count them per process."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_pss_kb(root: int) -> int:
    kids = children_map()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += _pss_kb(pid)
        todo.extend(kids.get(pid, ()))
    return total


class RssSampler:
    """Peak resident memory of the process tree, sampled every
    ``INTERVAL_S`` on a daemon thread between start() and stop()."""

    INTERVAL_S = 0.05

    def __init__(self):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, tree_pss_kb(me))
            self._stop.wait(self.INTERVAL_S)

    def start(self) -> RssSampler:
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; the peak in MB."""
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_kb = max(self.peak_kb, tree_pss_kb(os.getpid()))
        return self.peak_kb / 1024.0
