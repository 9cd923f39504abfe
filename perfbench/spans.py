"""In-memory span recorder for the traced run.

A span holds name, start, end, parent and trace id. Spans stay in a list
until the run ends; ``layer_totals`` reduces them to per-name self time
(a span's duration minus the time its child spans cover) and counters.
Wrapping is done in place on module attributes, from the benchmark's own
files: the program itself carries no tracing code.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._trace = 0
        self._patches: list[tuple[object, str, object]] = []

    def new_trace(self) -> int:
        self._trace += 1
        return self._trace

    @contextmanager
    def span(self, name: str, **counts):
        sp = {
            "id": len(self.spans),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "trace": self._trace,
            "name": name,
            "counts": dict(counts),
            "child_s": 0.0,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self._stack[-1]["child_s"] += sp["end"] - sp["start"]

    def wrap(self, owner, attr: str, name, on_result=None) -> None:
        """Replace ``owner.attr`` with a spanned call. ``name`` is a span
        name or ``f(args, kwargs, result) -> name`` for spans charged by
        what the call returned; ``on_result(span, args, kwargs, result)``
        records counters."""
        inner = getattr(owner, attr)

        @functools.wraps(inner)
        def spanned(*args, **kwargs):
            with self.span(name if isinstance(name, str) else "?") as sp:
                result = inner(*args, **kwargs)
            if not isinstance(name, str):
                sp["name"] = name(args, kwargs, result)
            if on_result is not None:
                on_result(sp, args, kwargs, result)
            return result

        self._patches.append((owner, attr, inner))
        setattr(owner, attr, spanned)

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, inner = self._patches.pop()
            setattr(owner, attr, inner)

    def layer_totals(self) -> dict[str, dict]:
        """{span name: {"self_s", "calls", <counter sums>}}."""
        out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
        for sp in self.spans:
            agg = out[sp["name"]]
            agg["self_s"] += sp["end"] - sp["start"] - sp["child_s"]
            agg["calls"] += 1
            for k, v in sp["counts"].items():
                agg[k] += v
        return out

    def durations(self, name: str) -> list[float]:
        return [sp["end"] - sp["start"] for sp in self.spans if sp["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(sp) + "\n")
