"""In-memory span and counter recorder for the traced benchmark run.

Spans are recorded around calls into the engine's layers from the benchmark's
own files; the engine package itself carries no tracing. Each span has a name,
start, end, parent span and query id. Everything stays in memory until
``dump`` writes it out at the end of the run.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counts: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, qid: str | None = None):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if qid is None and parent is not None:
            qid = self.spans[parent]["qid"]
        rec = {"id": sid, "name": name, "start": time.perf_counter(), "end": None,
               "parent": parent, "qid": qid}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def count(self, name: str, value: float, qid: str | None = None) -> None:
        self.counts.append({"name": name, "value": value, "qid": qid})

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a version that records a span per call.
        Callers that look the attribute up at call time (module globals)
        are traced; ``unwrap_all`` restores the originals."""
        orig = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def self_times(self, name: str) -> dict[str | None, float]:
        """Self time of every span called ``name``, summed per query id. A
        span's self time is its duration minus the time its direct children
        cover; children run one after another inside their parent, so their
        durations add."""
        kids: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]] += s["end"] - s["start"]
        out: dict[str | None, float] = defaultdict(float)
        for s in self.spans:
            if s["name"] == name:
                out[s["qid"]] += s["end"] - s["start"] - kids[s["id"]]
        return dict(out)

    def totals(self, name: str) -> dict[str | None, float]:
        """Counter ``name`` summed per query id."""
        out: dict[str | None, float] = defaultdict(float)
        for c in self.counts:
            if c["name"] == name:
                out[c["qid"]] += c["value"]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps({"type": "span", **rec}) + "\n")
            for rec in self.counts:
                f.write(json.dumps({"type": "count", **rec}) + "\n")
