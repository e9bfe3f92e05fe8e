"""In-memory spans around calls into tzspark's modules.

Spans are recorded from the benchmark's own files: ``Tracer.patch`` swaps a
module attribute for a wrapper that opens a span around each call, and the
benchmark opens spans around the ops it drives. Nothing inside tzspark is
changed. Spans stay in memory and are written out once, at exit.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.spans = []  # dicts: name, start, end, parent (index or None), group, counts
        self.active = False
        self.group = None  # the op a span belongs to (e.g. "rep7"), shared by its children
        self._stack = []
        self._patched = []

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield None
            return
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "group": self.group, "counts": {}}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, name: str, fn, count=None):
        """``fn`` with a span per call while the tracer is active. ``count``
        maps (args, result) to a dict of counters stored on the span; it runs
        after the span ends, so its cost is not timed."""

        def traced(*args, **kwargs):
            # a recursive call is part of the outermost call's span
            if not self.active or any(self.spans[i]["name"] == name for i in self._stack):
                return fn(*args, **kwargs)
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
            if count is not None:
                rec["counts"].update(count(args, out))
            return out

        return traced

    def patch(self, owner, attr: str, name: str, count=None):
        """Trace calls made through ``owner.attr`` (a module or class)."""
        self.replace(owner, attr, self.wrap(name, getattr(owner, attr), count))

    def replace(self, owner, attr: str, new):
        """Set ``owner.attr`` to ``new`` until ``unpatch``."""
        # keep the raw attribute (e.g. a classmethod descriptor) for unpatch
        self._patched.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def unpatch(self):
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def per_group(self, name: str, counter: str = None) -> list:
        """Summed duration (or counter) of the spans called ``name``, one
        value per group in which such a span occurs."""
        tot = {}
        for s in self.spans:
            if s["name"] == name:
                v = s["counts"].get(counter, 0) if counter else s["end"] - s["start"]
                tot[s["group"]] = tot.get(s["group"], 0) + v
        return list(tot.values())

    def median(self, name: str, counter: str = None) -> float:
        vals = self.per_group(name, counter)
        return statistics.median(vals) if vals else 0.0

    def dump(self, path: str, meta: dict):
        st = self_times(self.spans)
        out = [dict(s, self_s=t) for s, t in zip(self.spans, st)]
        with open(path, "w") as f:
            json.dump({"meta": meta, "spans": out}, f)


def self_times(spans: list) -> list:
    """Per span: its duration minus the part of its interval that its direct
    children cover (overlapping children are counted once)."""
    kids = {}
    for i, s in enumerate(spans):
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(i)
    out = []
    for i, s in enumerate(spans):
        ivs = sorted(
            (max(spans[k]["start"], s["start"]), min(spans[k]["end"], s["end"]))
            for k in kids.get(i, ())
        )
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in ivs:
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
        out.append(s["end"] - s["start"] - covered)
    return out
