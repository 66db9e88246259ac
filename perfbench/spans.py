"""Spans around the library's layers, measured from outside.

:func:`install` wraps every public module-level function of the
``conduino_spark`` modules listed in :data:`LAYER_OF_MODULE` and
rebinds each wrapper wherever the original is bound inside the package,
so ``__spark_entry__.py`` (which binds names at import) must be loaded
after it.  A wrapper records a :class:`Span` (name, layer, start, end,
parent, operation id) and tags the Spark jobs it launches through
``sc.setJobDescription`` with ``pb:<span id>``; ``InheritableThread``
arms inherit the tag.  When a wrapped factory returns a ``Stage``,
``Source`` or ``Sink``, applying that object is a span of the same
layer too, because that is where operators build plans and run their
eager gate jobs.

Spans stay in memory; :func:`layer_summary` turns them into per-layer
calls, inclusive time and self time (duration minus the part covered by
child spans).
"""

from __future__ import annotations

import functools
import importlib
import itertools
import os
import re
import sys
import threading
import time
import types
from dataclasses import dataclass, field

OPS = {
    "relational": ("relational", "skew", "bucketing"),
    "ordered": ("stateful", "segments", "temporal", "zip_alt",
                "elementwise", "adapters"),
    "text": ("text", "bpe"),
    "dedup": ("dedup",),
    "search": ("search", "rerank"),
    "similarity": ("similarity", "embeddings"),
    "graph": ("graph",),
    "classifier": ("classifier",),
    "sketches": ("sketches", "sampling"),
    "media": ("multimodal", "mediainfo", "avi", "flac", "gif", "jpeg",
              "mp3", "mp3_tables", "mpeg1", "tiff", "vorbis", "webp"),
}

#: module -> layer; modules not listed (sinks, smallio, lift, timeutil,
#: functions.hashing) are left unwrapped, so their time is part of the
#: caller's self time
LAYER_OF_MODULE = {
    "conduino_spark.session": "session",
    "conduino_spark.sources": "sources",
    "conduino_spark.plans.core": "plans",
    "conduino_spark.plans.cachereg": "plans",
    "conduino_spark.plans.order": "plans",
    "conduino_spark.streaming": "streaming",
    **{f"conduino_spark.operators.{m}": f"ops.{fam}"
       for fam, mods in OPS.items() for m in mods},
}

#: the persisted index families the benchmark reports one by one: the
#: ones its workloads build and probe
INDEX_FAMILIES = ("bm25", "ivf")
_INDEX_FN = re.compile(r"^(exact|minhash|dupspan|bm25|ivf|ivfpq|lsh|simhash)"
                       r"_index_(write|merge|join|dedup|read|probe|search)$")
_INDEX_PROBES = {"dedup_exact_against": "exact",
                 "dup_span_trim_against": "dupspan",
                 "dup_span_flag_against": "dupspan"}
_INDEX_MODULES = ("conduino_spark.operators.dedup",
                  "conduino_spark.operators.search",
                  "conduino_spark.operators.similarity")

JOB_TAG = "pb:"


def index_role(module: str, name: str):
    """(family, 'merge' | 'probe') for a persisted-index function, else
    None.  ``*_index_write`` counts as a merge: it writes index files."""
    if module not in _INDEX_MODULES:
        return None
    if name in _INDEX_PROBES:
        return _INDEX_PROBES[name], "probe"
    m = _INDEX_FN.match(name)
    if not m:
        return None
    return m.group(1), ("merge" if m.group(2) in ("write", "merge")
                        else "probe")


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    start: float
    parent: "int | None"
    op: "int | None"
    end: float = 0.0
    role: "str | None" = None  # index family/role, e.g. "bm25.probe"

    @property
    def duration(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Per-run span store.  Thread-safe: each thread keeps its own
    stack; a thread's first span takes the innermost open span of the
    thread that was last active on the main stack as its parent."""
    spans: list = field(default_factory=list)
    op: "int | None" = None
    _ids: itertools.count = field(default_factory=lambda: itertools.count(1))
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _main_stack: list = field(default_factory=list)
    sc: object = None  # SparkContext, once the session exists
    index_paths: set = field(default_factory=set)  # dirs index calls named

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = (self._main_stack
                  if threading.current_thread() is threading.main_thread()
                  else [])
            self._local.stack = st
        return st

    def open(self, name: str, layer: str, role: "str | None" = None) -> Span:
        st = self._stack()
        parent = st[-1].sid if st else (
            self._main_stack[-1].sid if self._main_stack else None)
        with self._lock:
            sp = Span(next(self._ids), name, layer, time.time(), parent,
                      self.op, role=role)
            self.spans.append(sp)
        st.append(sp)
        self._tag(sp.sid)
        return sp

    def close(self, sp: Span) -> None:
        sp.end = time.time()
        st = self._stack()
        if st and st[-1] is sp:
            st.pop()
        self._tag(st[-1].sid if st else None)

    def _tag(self, sid: "int | None") -> None:
        if self.sc is not None:
            self.sc.setJobDescription(f"{JOB_TAG}{sid}" if sid else None)

    def span(self, name: str, layer: str = "bench", role=None):
        return _SpanCtx(self, name, layer, role)


class _SpanCtx:
    def __init__(self, tracer, name, layer, role):
        self.t, self.name, self.layer, self.role = tracer, name, layer, role

    def __enter__(self) -> Span:
        self.sp = self.t.open(self.name, self.layer, self.role)
        return self.sp

    def __exit__(self, *exc) -> None:
        self.t.close(self.sp)


def _wrap(tracer: Tracer, fn, name: str, layer: str, role):
    plans = sys.modules["conduino_spark.plans.core"]
    wrappable = (plans.Stage, plans.Source, plans.Sink)

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if role is not None:
            tracer.index_paths.update(
                a for a in (*args, *kwargs.values())
                if isinstance(a, str) and os.path.isabs(a))
        sp = tracer.open(name, layer, role)
        try:
            out = fn(*args, **kwargs)
        finally:
            tracer.close(sp)
        if isinstance(out, wrappable):
            _wrap_applied(tracer, out, f"{name}.apply", layer, role)
        return out

    wrapper.__perfbench_wrapped__ = fn
    return wrapper


def _wrap_applied(tracer: Tracer, obj, name: str, layer: str, role) -> None:
    attr = "run" if hasattr(obj, "run") and not hasattr(obj, "fn") else "fn"
    inner = getattr(obj, attr)
    if getattr(inner, "__perfbench_wrapped__", None) is not None:
        return

    def applied(*args, **kwargs):
        with tracer.span(name, layer, role):
            return inner(*args, **kwargs)

    applied.__perfbench_wrapped__ = inner
    setattr(obj, attr, applied)


def install(tracer: Tracer) -> int:
    """Wrap every public function of the layer modules; returns how many
    were wrapped.  Call before loading ``__spark_entry__.py``."""
    mods = {name: importlib.import_module(name) for name in LAYER_OF_MODULE}
    importlib.import_module("conduino_spark")
    wrappers = {}
    for mname, mod in mods.items():
        layer = LAYER_OF_MODULE[mname]
        for name, obj in vars(mod).items():
            if (name.startswith("_") or not isinstance(obj, types.FunctionType)
                    or obj.__module__ != mname):
                continue
            role = index_role(mname, name)
            lay = "index" if role else layer
            tag = f"{role[0]}.{role[1]}" if role else None
            wrappers[id(obj)] = (obj, _wrap(tracer, obj, name, lay, tag))
    # rebind every reference inside the package, whatever name imported it
    for mname, mod in list(sys.modules.items()):
        if not (mname == "conduino_spark"
                or mname.startswith("conduino_spark.")) or mod is None:
            continue
        for name, obj in list(vars(mod).items()):
            hit = wrappers.get(id(obj))
            if hit is not None and hit[0] is obj:
                setattr(mod, name, hit[1])
    return len(wrappers)


# -- interval arithmetic ----------------------------------------------------

def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans) -> dict:
    """span id -> duration minus the part of it its children cover
    (children clipped to the parent's interval)."""
    kids: dict = {}
    for sp in spans:
        if sp.parent is not None:
            kids.setdefault(sp.parent, []).append(sp)
    out = {}
    for sp in spans:
        cover = [(max(c.start, sp.start), min(c.end, sp.end))
                 for c in kids.get(sp.sid, ())]
        out[sp.sid] = max(0.0, sp.duration - union_length(cover))
    return out


def layer_summary(spans) -> dict:
    """layer -> {calls, self_s, incl_s}; incl_s is the union of the
    layer's span intervals, so nested calls are not counted twice."""
    selfs = self_times(spans)
    out: dict = {}
    for sp in spans:
        d = out.setdefault(sp.layer, {"calls": 0, "self_s": 0.0,
                                      "intervals": []})
        d["calls"] += 1
        d["self_s"] += selfs[sp.sid]
        d["intervals"].append((sp.start, sp.end))
    for d in out.values():
        d["incl_s"] = union_length(d.pop("intervals"))
    return out


def layer_of_job(spans_by_id: dict, sid: "int | None") -> str:
    """The layer a job belongs to: the layer of the span that was
    innermost when it started."""
    sp = spans_by_id.get(sid)
    return sp.layer if sp else "untagged"
