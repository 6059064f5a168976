"""In-memory span recorder for the benchmark's traced mode.

Spans are recorded only around calls the benchmark makes into the
engine's public API (and the StreamRunner internals it wraps), never
inside the engine. Callers skip the tracer entirely when it is disabled,
so the untraced run records nothing.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time

# span-name prefix -> layer; longest prefix wins
LAYERS = (
    "operators.ivm",
    "streaming",
    "sources",
    "metrics",
    "cdc",
    "lake",
)


def layer_of(name: str) -> str:
    for layer in LAYERS:
        if name == layer or name.startswith(layer + "."):
            return layer
    return name.split(".", 1)[0]


class Tracer:
    """Records (name, start, end, parent, run_id) spans, one parent stack
    per thread (the streaming trigger runs on Spark's callback thread)."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        # wall time the tracer itself spends outside the calls it wraps
        # (job-group bookkeeping, footer reads): the tracing overhead
        # charged to the blocking path of the traced run
        self.bookkeeping_s = 0.0
        # spans that start earlier (set-up, warm-up) are kept in the
        # trace file but left out of every summary
        self.since = 0.0

    @contextlib.contextmanager
    def span(self, name: str):
        """Records one span; yields its attribute dict for counts."""
        attrs: dict = {}
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        rec = {
            "name": name,
            "run_id": self.run_id,
            "parent": stack[-1]["id"] if stack else None,
            "attrs": attrs,
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        rec["start"] = time.monotonic()
        try:
            yield attrs
        finally:
            rec["end"] = time.monotonic()
            stack.pop()

    @contextlib.contextmanager
    def bookkeeping(self):
        """Times tracer-only work so it can be reported as overhead."""
        t0 = time.monotonic()
        try:
            yield
        finally:
            with self._lock:
                self.bookkeeping_s += time.monotonic() - t0

    def measured(self, name: str | None = None) -> list[dict]:
        """Finished spans that started at or after ``since``, optionally
        of one name."""
        return [
            s for s in self.spans
            if "end" in s and s["start"] >= self.since and name in (None, s["name"])
        ]

    def durations_ms(self, name: str) -> list[float]:
        return [(s["end"] - s["start"]) * 1000 for s in self.measured(name)]

    def attr_values(self, name: str, key: str) -> list:
        return [s["attrs"][key] for s in self.measured(name) if key in s["attrs"]]

    def self_time_ms(self) -> dict[str, float]:
        """Per-layer self time: each span's duration minus the part of
        its interval covered by its children, summed by layer."""
        spans = self.measured()
        children: dict[int, list[dict]] = {}
        for s in spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in spans:
            covered = 0.0
            cur_end = s["start"]
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cur_end), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            layer = layer_of(s["name"])
            own = (s["end"] - s["start"] - covered) * 1000
            out[layer] = out.get(layer, 0.0) + own
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=str) + "\n")
