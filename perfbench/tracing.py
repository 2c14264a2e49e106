"""Span recorder for the benchmark's traced run.

A span is (id, name, parent, start, end) under one run id, recorded
around a call into a public function of the package. Spans stay in
memory and are written out once, when the run ends.

Every span also sets the Spark job description to ``<run>:<span id>``
while it is open, so the jobs it starts carry that description in the
event log and ``eventlog.summarize`` can attribute stages, task time
and Python-worker metrics to the span that caused them.

Calls the package makes internally (the runner calling
``input_fingerprint``, ``curate_corpus`` calling ``minhash_lsh_pairs``)
are traced by rebinding the name in the calling module for the length
of ``Tracer.patched``; no package file changes.
"""

from __future__ import annotations

import functools
import json
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def description(self, span_id: int) -> str:
        return f"{self.run_id}:{span_id}"

    @contextmanager
    def span(self, name: str) -> Iterator[dict]:
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self.sc.setJobDescription(self.description(rec["id"]))
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setJobDescription(
                self.description(self._stack[-1]) if self._stack else None
            )

    def wrap(self, name: str | Callable[..., str], fn: Callable) -> Callable:
        """``fn`` with every call recorded as a span; ``name`` may be a
        function of the call's arguments."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            with self.span(label):
                return fn(*args, **kwargs)

        return traced

    @contextmanager
    def patched(self, targets: list[tuple[object, str, str | Callable[..., str]]]):
        """Rebind ``owner.attr`` to a traced wrapper for each
        (owner, attr, span name) while the block runs."""
        saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in targets]
        try:
            for (owner, attr, name), (_, _, orig) in zip(targets, saved):
                setattr(owner, attr, self.wrap(name, orig))
            yield
        finally:
            for owner, attr, orig in saved:
                setattr(owner, attr, orig)

    # -- reading the trace ---------------------------------------------

    def children(self, span_id: int | None) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span_id]

    def descendants(self, span_id: int) -> list[dict]:
        out, todo = [], [span_id]
        while todo:
            kids = self.children(todo.pop())
            out.extend(kids)
            todo.extend(k["id"] for k in kids)
        return out

    def self_time(self, span: dict) -> float:
        """Duration minus the part of it the span's children cover."""
        covered, last = 0.0, span["start"]
        for k in sorted(self.children(span["id"]), key=lambda s: s["start"]):
            lo, hi = max(k["start"], last), min(k["end"], span["end"])
            if hi > lo:
                covered += hi - lo
                last = hi
        return (span["end"] - span["start"]) - covered

    def total(self, name: str) -> float:
        """Summed duration of the spans called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s["name"] == name)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
