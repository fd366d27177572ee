"""Span recorder for the traced run.

The benchmark wraps the package's public functions as module attributes and
records one span per call: name, start, end, parent, operation and the
Spark job/stage id range it covered.  Spans stay in memory and are written
when the run ends.  A span around a lazy builder covers its plan
construction plus any eager jobs the builder launches; data work inside one
fused plan is counted per operation, not per operator.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import sys
import threading
import time
from dataclasses import asdict, dataclass, field

PACKAGE = "recsys_mapreduce_mrjob_spark"

# layer name -> module whose public functions are wrapped.
LAYERS = {
    "recsys": "operators.recsys",
    "dedup": "operators.dedup",
    "text": "operators.text",
    "embeddings": "operators.embeddings",
    "caching": "caching",
    "sources": "sources.readers",
    "sinks": "sources.sinks",
    "streaming": "streaming.twins",
}

# Functions whose returned DataFrame is counted (``attrs["rows"]``) after the
# operation that called them, outside every timed span.
COUNTED = {"dedup.band_candidate_pairs", "dedup.portable_verify_pairs", "text.curated_docs"}


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int | None
    start: float
    end: float = 0.0
    jobs: tuple[int, int] = (0, 0)
    stages: tuple[int, int] = (0, 0)
    attrs: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Recorder:
    """Collects spans while ``enabled``; wrappers call straight through
    otherwise, so one process can run untraced and traced windows."""

    def __init__(self, spark_counters, set_job_group):
        self.spans: list[Span] = []
        self.enabled = False
        self.op: int | None = None
        self._op_stack: list[int] = []  # the open spans of the operation's thread
        self._counters = spark_counters
        self._set_group = set_job_group
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 1
        self._pending: list[tuple[Span, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str, **attrs) -> Span | None:
        if not self.enabled:
            return None
        stack = self._stack()
        with self._lock:
            sid, self._next = self._next, self._next + 1
        # A span opened on another thread (a streaming foreachBatch callback)
        # hangs under the innermost open span of the operation's thread.
        parent = (stack or self._op_stack or [None])[-1]
        j, s = self._counters.ids()
        span = Span(sid, name, parent, self.op, time.monotonic(), jobs=(j, 0),
                    stages=(s, 0), attrs=attrs)
        stack.append(sid)
        self._set_group(str(sid), name)
        return span

    def close(self, span: Span | None) -> None:
        if span is None:
            return
        span.end = time.monotonic()
        j, s = self._counters.ids()
        span.jobs = (span.jobs[0], j)
        span.stages = (span.stages[0], s)
        stack = self._stack()
        stack.pop()
        self._set_group(str(stack[-1]) if stack else None, None)
        with self._lock:
            self.spans.append(span)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        span = self.open(name, **attrs)
        try:
            yield span
        finally:
            self.close(span)

    def operation(self, op: int, name: str) -> "_OpScope":
        return _OpScope(self, op, name)

    def wrap(self, fn, name: str):
        rec = self
        sig = inspect.signature(fn)
        build_param = "build" in sig.parameters

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not rec.enabled:
                return fn(*args, **kwargs)
            with rec.span(name) as span:
                if build_param:
                    args, kwargs = rec._count_build(sig, span, args, kwargs)
                out = fn(*args, **kwargs)
            if name in COUNTED:
                with rec._lock:
                    rec._pending.append((span, out))
            return out

        return traced

    def count_pending(self) -> None:
        """Count the DataFrames of :data:`COUNTED` calls since the last call,
        under their own job group so no span's id range holds the jobs."""
        with self._lock:
            pending, self._pending = self._pending, []
        self._set_group("probe", "perfbench row counts")
        try:
            for span, df in pending:
                span.attrs["rows"] = df.count()
        finally:
            self._set_group(None, None)

    def _count_build(self, sig, span: Span, args, kwargs):
        """Memo functions take a ``build`` callable: a call that never runs
        it was a hit.  Records ``memo`` (relation), ``built`` and ``build_s``."""
        bound = sig.bind(*args, **kwargs)
        build = bound.arguments["build"]
        span.attrs.update(memo=str(bound.arguments.get("relation")), built=False,
                          build_s=0.0)

        def counted():
            t0 = time.monotonic()
            try:
                return build()
            finally:
                span.attrs["built"] = True
                span.attrs["build_s"] += time.monotonic() - t0

        bound.arguments["build"] = counted
        return bound.args, bound.kwargs

    def install(self) -> int:
        """Wrap every public function defined in a :data:`LAYERS` module and
        patch every package namespace holding it (``from x import f`` copies
        the reference).  Returns the number of attributes patched."""
        wrapped: dict[int, tuple[object, object]] = {}
        for layer, mod_name in LAYERS.items():
            mod = importlib.import_module(f"{PACKAGE}.{mod_name}")
            for attr, fn in vars(mod).items():
                if (inspect.isfunction(fn) and not attr.startswith("_")
                        and fn.__module__ == mod.__name__):
                    wrapped[id(fn)] = (fn, self.wrap(fn, f"{layer}.{attr}"))
        patched = 0
        for mname, mod in list(sys.modules.items()):
            if mod is None or not (mname == PACKAGE or mname.startswith(PACKAGE + ".")):
                continue
            for attr, value in list(vars(mod).items()):
                hit = wrapped.get(id(value))
                if hit is not None and hit[0] is value:
                    setattr(mod, attr, hit[1])
                    patched += 1
        return patched

    def dump(self) -> list[dict]:
        own = self_times(self.spans)
        return [asdict(s) | {"self_s": own[s.id]} for s in self.spans]


class _OpScope:
    """The root span of one operation; every span opened inside it, on any
    thread, carries its operation id."""

    def __init__(self, rec: Recorder, op: int, name: str):
        self._rec, self._op, self._name = rec, op, name
        self.span: Span | None = None

    def __enter__(self):
        rec = self._rec
        rec.op = self._op
        rec._op_stack = rec._stack()
        self.span = rec.open(self._name)
        return self

    def __exit__(self, *exc):
        self._rec.close(self.span)
        self._rec._op_stack = []
        self._rec.op = None
        return False


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for c in spans:
        kids.setdefault(c.parent, []).append((c.start, c.end))
    out = {}
    for span in spans:
        covered, cur_s, cur_e = 0.0, 0.0, None
        for s, e in sorted(kids.get(span.id, ())):
            s, e = max(s, span.start), min(e, span.end)
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[span.id] = span.end - span.start - covered
    return out
