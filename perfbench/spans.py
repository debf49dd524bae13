"""In-memory spans with parent links, self time, and one file per run.

A span is ``{id, name, start, end, parent, attrs}`` with wall-clock
seconds since the epoch, so spans recorded here line up with the
millisecond timestamps in Spark's event log and with file mtimes.
Nothing is written until ``Tracer.write`` runs at the end of a run.
"""

from __future__ import annotations

import contextlib
import json
import time
from typing import Dict, Iterator, List, Optional


class Tracer:
    def __init__(self) -> None:
        self.spans: List[Dict] = []
        self._stack: List[int] = []

    def add(self, name: str, start: float, end: float,
            parent: Optional[int] = None, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append({"id": sid, "name": name, "start": start,
                           "end": end, "parent": parent, "attrs": attrs})
        return sid

    @property
    def current(self) -> Optional[int]:
        return self._stack[-1] if self._stack else None

    @contextlib.contextmanager
    def span(self, name: str, **attrs) -> Iterator[int]:
        sid = self.add(name, time.time(), 0.0, self.current, **attrs)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()

    def innermost(self, t: float, candidates: List[int]) -> Optional[int]:
        """The shortest span among ``candidates`` that contains ``t``."""
        best = None
        for sid in candidates:
            s = self.spans[sid]
            if s["start"] <= t <= s["end"] and (
                    best is None or s["end"] - s["start"]
                    < self.spans[best]["end"] - self.spans[best]["start"]):
                best = sid
        return best

    def self_times(self) -> Dict[int, float]:
        """Span duration minus the part of it its children cover."""
        children: Dict[int, List[int]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s["id"])
        out: Dict[int, float] = {}
        for s in self.spans:
            ivs = sorted((max(s["start"], self.spans[c]["start"]),
                          min(s["end"], self.spans[c]["end"]))
                         for c in children.get(s["id"], []))
            covered, cur_a, cur_b = 0.0, None, None
            for a, b in ivs:
                if b <= a:
                    continue
                if cur_b is None or a > cur_b:
                    if cur_b is not None:
                        covered += cur_b - cur_a
                    cur_a, cur_b = a, b
                else:
                    cur_b = max(cur_b, b)
            if cur_b is not None:
                covered += cur_b - cur_a
            out[s["id"]] = max(0.0, s["end"] - s["start"] - covered)
        return out

    def write(self, path: str, **header) -> None:
        selft = self.self_times()
        with open(path, "w") as fh:
            json.dump({**header, "spans": [
                {**s, "self_s": selft[s["id"]]} for s in self.spans]}, fh)
