"""In-memory span tracer that wraps package functions from outside.

A span is (name, start, end, parent, op, jobs). ``op`` groups every span
of one benchmark operation (one search, one append, ...). Spans stay in
a list and are written out once, when the run ends.

Wrapping replaces a function at the name its caller resolves: a module
attribute that the caller imported at module level (``wand.varbyte_decode``)
or that the caller imports at call time (``segment_reader.read_segment_rows``,
looked up in the module on every call). Nothing inside the package changes.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time


class Tracer:
    def __init__(self, job_count):
        # job_count() -> total Spark jobs submitted so far in the context.
        # It counts jobs from every thread, including build_index's
        # parallel stage-2 group threads, which a thread-local job group
        # would miss.
        self.spans: list[dict] = []
        self._job_count = job_count
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        self.op = 0

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str, jobs: bool = False) -> int:
        st = self._stack()
        if not st:
            self.op += 1  # a top-level span starts a new operation
        span = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": st[-1] if st else None,
            "op": self.op,
        }
        if jobs:
            span["jobs0"] = self._job_count()
        self.spans.append(span)
        st.append(len(self.spans) - 1)
        return st[-1]

    def end(self, idx: int) -> None:
        span = self.spans[idx]
        span["end"] = time.perf_counter()
        if "jobs0" in span:
            span["jobs"] = self._job_count() - span.pop("jobs0")
        st = self._stack()
        if st and st[-1] == idx:
            st.pop()

    @contextlib.contextmanager
    def span(self, name: str, jobs: bool = False):
        idx = self.begin(name, jobs)
        try:
            yield
        finally:
            self.end(idx)

    def wrap(self, owner, attr: str, name: str, jobs: bool = False) -> None:
        """Replace ``owner.attr`` by a traced wrapper until :meth:`restore`."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = self.begin(name, jobs)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(idx)

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")

    # ---- analysis ----
    def named(self, name: str) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s["name"] == name]

    def children(self) -> dict[int, list[int]]:
        out: dict[int, list[int]] = {}
        for i, s in enumerate(self.spans):
            if s["parent"] is not None:
                out.setdefault(s["parent"], []).append(i)
        return out

    def duration(self, i: int) -> float:
        s = self.spans[i]
        return s["end"] - s["start"]

    def self_time(self, i: int, kids: dict[int, list[int]]) -> float:
        """Span duration minus the part of it that its children cover."""
        iv = sorted(
            (self.spans[c]["start"], self.spans[c]["end"]) for c in kids.get(i, ())
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in iv:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return self.duration(i) - covered

    def descendants(self, i: int, kids: dict[int, list[int]]) -> list[int]:
        out, todo = [], list(kids.get(i, ()))
        while todo:
            c = todo.pop()
            out.append(c)
            todo.extend(kids.get(c, ()))
        return out
