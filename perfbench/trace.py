"""In-memory spans recorded around calls into the program's layers.

A span has a name, a start, an end and the span that caused it. Spans are
kept in memory and written out once, when the benchmark ends. A layer's
self time is its duration minus the part of that interval its child spans
cover (children on other threads may overlap each other, so the covered
part is the union of their intervals)."""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, workload: str, seed: int):
        self.workload = workload
        self.seed = seed
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        # spans opened on a thread with no open span of its own (the
        # runner's chunk pool threads) hang under the innermost open span
        # of the thread that created the tracer
        self._main = self._stack()

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        parent = (stack or self._main or [None])[-1]
        with self._lock:
            sid = next(self._ids)
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(
                    {"id": sid, "name": name, "start": start, "end": end,
                     "parent": parent, "workload": self.workload,
                     "seed": self.seed}
                )

    def wrap(self, fn, name: str):
        """``fn`` with every call recorded as a span called ``name``."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def write(self, path) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")


def _covered(intervals: list) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict], root: int) -> dict:
    """``{name: [total_s, self_s, count]}`` over the subtree of ``root``."""
    kids = defaultdict(list)
    by_id = {}
    for s in spans:
        by_id[s["id"]] = s
        kids[s["parent"]].append(s)
    out: dict = defaultdict(lambda: [0.0, 0.0, 0])
    todo = [by_id[root]]
    while todo:
        s = todo.pop()
        dur = s["end"] - s["start"]
        child = kids.get(s["id"], [])
        agg = out[s["name"]]
        agg[0] += dur
        agg[1] += dur - _covered([(c["start"], c["end"]) for c in child])
        agg[2] += 1
        todo.extend(child)
    return dict(out)
