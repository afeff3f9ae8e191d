"""In-memory span tracer for the traced run.

Spans are recorded from the benchmark's side by wrapping public calls
of the program (module attributes and class methods) for the length of
one run; :meth:`Tracer.restore` puts every original back. Each span
carries name, start, end, parent span and micro-batch id; spans are
kept in memory and written out once, when the run ends."""

from __future__ import annotations

import functools
import json
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.overhead_s = 0.0  # span bookkeeping plus extra counting actions
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next_id = 0
        self._patches: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------------

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @property
    def batch(self):
        return getattr(self._local, "batch", None)

    @batch.setter
    def batch(self, value) -> None:
        self._local.batch = value

    @contextmanager
    def span(self, name: str, **attrs):
        t_in = time.perf_counter()
        stack = self._stack()
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        rec = {"id": sid, "name": name, "parent": stack[-1]["id"] if stack else None,
               "batch": self.batch, "start": 0.0, "end": 0.0, **attrs}
        stack.append(rec)
        rec["start"] = time.perf_counter()
        self._add_overhead(rec["start"] - t_in)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)
            self._add_overhead(time.perf_counter() - rec["end"])

    @contextmanager
    def extra(self):
        """Time spent on work only the traced run does (counting actions)."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self._add_overhead(time.perf_counter() - t)

    def _add_overhead(self, seconds: float) -> None:
        with self._lock:  # spans close on py4j callback and probe threads
            self.overhead_s += seconds

    # -- patching ------------------------------------------------------------

    def patch(self, owner, attr: str, wrapper) -> None:
        orig = getattr(owner, attr)
        self._patches.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, wrapper(orig))

    def wrap(self, owner, attr: str, span_name: str) -> None:
        """Record one span per call of ``owner.attr``."""
        def wrapper(orig):
            @functools.wraps(orig)
            def traced(*a, **kw):
                with self.span(span_name):
                    return orig(*a, **kw)
            return traced
        self.patch(owner, attr, wrapper)

    def restore(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- summaries -----------------------------------------------------------

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its direct
        children cover (overlapping children are merged first)."""
        kids: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered, cur_s, cur_e = 0.0, None, None
            for c in sorted(kids[s["id"]], key=lambda c: c["start"]):
                cs, ce = max(c["start"], s["start"]), min(c["end"], s["end"])
                if cur_e is None or cs > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = cs, ce
                else:
                    cur_e = max(cur_e, ce)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[s["name"]] += (s["end"] - s["start"]) - covered
        return dict(out)

    def dump(self, path: str, extra: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        with open(path, "w") as f:
            json.dump({
                **extra,
                "self_time_s": {k: round(v, 6) for k, v in sorted(self.self_times().items())},
                "spans": [{**s, "start": round(s["start"] - t0, 6),
                           "end": round(s["end"] - t0, 6)}
                          for s in sorted(self.spans, key=lambda s: s["start"])],
            }, f, indent=1)


def p50(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
