"""In-memory span recorder for the traced benchmark run.

Spans are recorded from the benchmark's own files: `Tracer.wrap`
replaces a public function of the program with a timing wrapper in
every loaded module that imported it, so calls made inside the program
(e.g. `registry.run_all` calling `write_view`) are caught too. The
program's code is unchanged.

Span format (one JSON object per line in the trace file):
    {"id": 17, "parent": 3, "trace": 2, "name": "parquet_io.write_view",
     "start": 12.031, "end": 12.402, "thread": "ThreadPoolExecutor-0_1",
     "attrs": {"view": "schoolDim"}}
`start`/`end` are seconds since the tracer was created, `parent` is the
enclosing span on the same thread — or, for the first span on a worker
thread (e.g. `registry.run_all`'s write pool), the operation span open
at the time — and `trace` is the id of the top-level operation span all
the others belong to. Spans are kept in memory and written once, when
the run ends.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from collections.abc import Callable

PACKAGE = "api_to_amt_data_lake_spark"


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._t0 = time.perf_counter()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0
        self._root: dict | None = None
        self.keep: list[object] = []  # results whose id() a span records

    def _stack(self) -> list[dict]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def now(self) -> float:
        return time.perf_counter() - self._t0

    def span(self, name: str, root: bool = False, **attrs):
        """A span; `root=True` marks an operation that worker threads'
        spans attach to."""
        return _Span(self, name, attrs, root)

    def _open(self, name: str, attrs: dict,
              root: bool = False) -> dict | None:
        if not self.enabled:
            return None
        stack = self._stack()
        parent = stack[-1] if stack else (None if root else self._root)
        with self._lock:
            self._next += 1
            sid = self._next
        rec = {"id": sid, "parent": parent["id"] if parent else None,
               "trace": parent["trace"] if parent else sid, "name": name,
               "start": self.now(), "end": None,
               "thread": threading.current_thread().name, "attrs": attrs}
        stack.append(rec)
        if root:
            self._root = rec
        return rec

    def _close(self, rec: dict | None) -> None:
        if rec is None:
            return
        rec["end"] = self.now()
        self._stack().pop()
        if self._root is rec:
            self._root = None
        with self._lock:
            self.spans.append(rec)

    def wrap(self, module, attr: str, name: str,
             attrs: Callable[..., dict] | None = None,
             result: Callable[[dict, object], None] | None = None) -> None:
        """Trace every call of `module.attr`, wherever it was imported.

        `attrs(*args, **kwargs)` names the span's attributes from the
        call's arguments; `result(attrs, value)` may add attributes from
        the return value."""
        if not self.enabled:
            return
        original = getattr(module, attr)
        tracer = self

        @functools.wraps(original)
        def traced(*args, **kwargs):
            a = attrs(*args, **kwargs) if attrs else {}
            rec = tracer._open(name, a)
            try:
                value = original(*args, **kwargs)
                if result is not None and rec is not None:
                    result(rec["attrs"], value)
                return value
            finally:
                tracer._close(rec)

        for mod in list(sys.modules.values()):
            if mod is None or not getattr(mod, "__name__", "").startswith(
                    PACKAGE):
                continue
            for key, value in list(vars(mod).items()):
                if value is original:
                    setattr(mod, key, traced)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in sorted(self.spans, key=lambda r: r["id"]):
                f.write(json.dumps(rec, default=str) + "\n")

    # -- queries over the recorded spans ------------------------------------
    def named(self, name: str, within: list[dict] | None = None) -> list[dict]:
        spans = [s for s in self.spans if s["name"] == name]
        if within is not None:
            ids = {s["id"] for s in within}
            spans = [s for s in spans if s["trace"] in ids]
        return spans

    def self_time(self, span: dict) -> float:
        """Duration minus the part of it that child spans cover."""
        kids = sorted((s["start"], s["end"]) for s in self.spans
                      if s["parent"] == span["id"])
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (span["end"] - span["start"]) - covered


def duration(spans: list[dict]) -> float:
    return sum(s["end"] - s["start"] for s in spans)


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict, root: bool):
        self.tracer, self.name, self.attrs = tracer, name, attrs
        self.root = root
        self.rec: dict | None = None

    def __enter__(self) -> "_Span":
        self.rec = self.tracer._open(self.name, self.attrs, self.root)
        return self

    def __exit__(self, *exc) -> None:
        self.tracer._close(self.rec)
