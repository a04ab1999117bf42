"""Spans around calls into the engine's layers, taken from outside the
package: the wrappers are installed over the layers' public functions at
run time, so the package itself carries no tracing code.

A span records its name, start, end, parent and pass id, and is held in
memory until the run ends. While a span is open the driver thread's
``spark.jobGroup.id`` names it, which is how the event-log roll-up
(``eventlog.rollup``) gives each Spark job to the span that caused it.
With ``Tracer.enabled`` false every wrapper calls straight through.
"""

from __future__ import annotations

import functools
import inspect
import os
import sys
import time
from contextlib import contextmanager

from eventlog import GROUP_PREFIX

JOB_GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, sc) -> None:
        self._sc = sc
        self.enabled = False
        self.pass_id: int | None = None
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent, "pass": self.pass_id,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self._sc.setLocalProperty(JOB_GROUP, f"{GROUP_PREFIX}{sid}")
        try:
            yield rec
        finally:
            self._stack.pop()
            self._sc.setLocalProperty(
                JOB_GROUP, f"{GROUP_PREFIX}{parent}" if parent is not None else None
            )
            rec["end"] = time.time()

    def add(self, key: str, value: float) -> None:
        """Add to a counter on the innermost open span."""
        if self.enabled and self._stack:
            rec = self.spans[self._stack[-1]]
            rec[key] = rec.get(key, 0) + value

    def record(self, name: str, start: float, end: float) -> None:
        """A finished span taken before tracing could start (set-up)."""
        self.spans.append({"id": len(self.spans), "name": name, "parent": None,
                           "pass": None, "start": start, "end": end})


def _storage_bytes(sc) -> dict[int, int]:
    return {i.id(): i.memSize() + i.diskSize() for i in sc._jsc.sc().getRDDStorageInfo()}


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _replace_everywhere(orig, repl) -> None:
    """Point every package-module binding of ``orig`` at ``repl``, so both
    ``module.f`` lookups and ``from module import f`` copies see it."""
    for name, mod in list(sys.modules.items()):
        if not name.startswith("mini_etl_project_spark") or mod is None:
            continue
        for attr, val in list(vars(mod).items()):
            if val is orig:
                setattr(mod, attr, repl)


def _wrap(tr: Tracer, fn, span_name: str, after=None):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if not tr.enabled:
            return fn(*args, **kwargs)
        with tr.span(span_name):
            out = fn(*args, **kwargs)
            if after is not None:
                after(out, args, kwargs)
            return out

    return wrapper


def _public_functions(mod):
    for name, val in vars(mod).items():
        if not name.startswith("_") and inspect.isfunction(val) and val.__module__ == mod.__name__:
            yield name, val


def install(tr: Tracer, sc) -> None:
    """Wrap each layer's entry points."""
    from mini_etl_project_spark import session
    from mini_etl_project_spark.operators import dedup, similarity
    from mini_etl_project_spark.plans import pipeline, profile
    from mini_etl_project_spark.streaming import ops

    def on_widen(out, args, kwargs):
        if out is not args[0]:
            tr.add("widen_repartitions", 1)

    def on_checkpoint(out, args, kwargs):
        tr.add("checkpoint_bytes", out[1])

    def on_load(out, args, kwargs):
        path = args[2] if len(args) > 2 else kwargs.get("output_path")
        if path and os.path.isdir(path):
            tr.add("output_bytes", _dir_bytes(path))

    for fn, name, after in (
        (session.load_table, "session.load_table", None),
        (session._maybe_widen, "session.widen", on_widen),
        (session.eager_checkpoint_sized, "session.checkpoint", on_checkpoint),
        (ops.drain_to_table, "streaming.drain", None),
        (profile.profile_frame_and_count, "plans.profile", None),
        (profile.profile_frame, "plans.profile", None),
        (profile.profile_prepared_and_count, "plans.profile", None),
    ):
        _replace_everywhere(fn, _wrap(tr, fn, name, after))

    for mod, layer in ((dedup, "operators.dedup"), (similarity, "operators.similarity")):
        for fname, fn in list(_public_functions(mod)):
            _replace_everywhere(fn, _wrap(tr, fn, f"{layer}.{fname}"))
        for cname, cls in vars(mod).items():
            if cname.startswith("_") or not inspect.isclass(cls) or cls.__module__ != mod.__name__:
                continue
            for mname, meth in list(vars(cls).items()):
                if not mname.startswith("_") and inspect.isfunction(meth):
                    setattr(cls, mname, _wrap(tr, meth, f"{layer}.{cname}.{mname}"))

    etl = pipeline.AutoETLPipeline
    transform = etl.transform

    def traced_transform(self, df):
        if not tr.enabled:
            return transform(self, df)
        with tr.span("plans.transform"):
            before = _storage_bytes(sc)
            out = transform(self, df)
            tr.add("cache_bytes", sum(
                b for rid, b in _storage_bytes(sc).items() if rid not in before))
            return out

    etl.transform = functools.wraps(transform)(traced_transform)
    etl.extract = _wrap(tr, etl.extract, "sources.extract")
    etl.load = _wrap(tr, etl.load, "sources.load", on_load)
