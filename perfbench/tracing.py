"""Per-layer tracing of the engine, measured from outside the package.

:meth:`Tracer.install` adds an import hook that wraps every public
function of the engine's layer modules as soon as the module body has
run, so a later ``from ... import name`` (``plans/extensions.py`` binds
operator and session names that way) already receives the wrapper. It
must therefore be installed before ``__spark_entry__`` or the package is
imported; :meth:`Tracer.sweep` then replaces any original still bound in
a re-exporting package.

Each wrapped call is a span. Spans nest on one stack, and a layer's time
is the self time of its spans: the span's duration minus the part spent
in spans of other layers (nested calls within one layer stay in it).
A few calls are also timed inclusively under their own metric name.
While :attr:`Tracer.enabled` is false every wrapper calls straight
through, which is how a traced run also measures its untraced passes.
"""

from __future__ import annotations

import functools
import importlib.abc
import importlib.machinery
import inspect
import sys
import time
from collections import Counter

PACKAGE = "financial_big_data_exp_4_spark"

#: Packages whose public functions are wrapped, each its own layer; every
#: ``operators`` module is a layer ``operators.<module>``. ``plans`` is not
#: wrapped: ``engine.py`` times each query function as ``plans.build_s``
#: and their own code is the remainder, ``plans.self_s``.
#: ``functions`` holds column-expression helpers, left to their callers.
LAYERS = ("session", "sources", "streaming", "ml")

#: Calls timed inclusively, span name -> metric name.
INCLUSIVE = {
    "session.get_spark": "session.get_spark_s",
    "session.tune_shuffle_for_input": "session.tune_shuffle_for_input_s",
    "sources.load_table": "sources.load_table_s",
    "ml.fit": "ml.fit_s",
}

#: Calls counted, span name -> metric name.
COUNTED = {
    "session.memo_df": "session.memo_df.calls",
    "session.rebalance_for_cpu": "session.rebalance_for_cpu.calls",
    "sources.load_table": "sources.load_table.calls",
}


def layer_of(module: str) -> str | None:
    parts = module.split(".")
    if parts[0] != PACKAGE or len(parts) < 2:
        return None
    if parts[1] == "operators":
        return f"operators.{parts[2]}" if len(parts) > 2 else None
    return parts[1] if parts[1] in LAYERS else None


class Tracer:
    """Span stack and per-pass accumulators (one client thread)."""

    def __init__(self) -> None:
        self.enabled = False
        self.times: Counter = Counter()
        self.counts: Counter = Counter()
        self._stack: list[list] = []  # [layer, foreign child seconds]
        self._wrapped: dict[int, object] = {}
        #: Returns the scheduler's next job id; set by ``engine.py`` so that
        #: jobs fired inside streaming calls are counted.
        self.job_counter = None

    def reset(self) -> None:
        self.times.clear()
        self.counts.clear()

    # -- spans ---------------------------------------------------------

    def call(self, layer: str, name: str, fn, args, kwargs):
        if not self.enabled:
            return fn(*args, **kwargs)
        if name in COUNTED:
            self.counts[COUNTED[name]] += 1
        if name == "session.memo_df":
            args, kwargs = self._timed_builder(args, kwargs)
        nested = bool(self._stack) and self._stack[-1][0] == layer
        if not nested:
            self._stack.append([layer, 0.0])
        count_jobs = (layer == "streaming" and not nested
                      and self.job_counter is not None)
        if count_jobs:
            j0 = self.job_counter()
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            dt = time.perf_counter() - t0
            if name in INCLUSIVE:
                self.times[INCLUSIVE[name]] += dt
            if count_jobs:
                self.counts["streaming.drain_jobs"] += self.job_counter() - j0
            if not nested:
                _, foreign = self._stack.pop()
                self.times[layer] += dt - foreign
                if self._stack:
                    self._stack[-1][1] += dt

    def timed(self, layer: str, fn, *args, **kwargs):
        """Run ``fn`` as a span of ``layer`` even when nothing is wrapped
        (the build and noop-write spans of each query)."""
        return self.call(layer, layer, fn, args, kwargs)

    def _timed_builder(self, args, kwargs):
        """``memo_df(spark, key, builder)``: time the callable that builds
        the entry and count a miss each time memo_df has to call it."""
        args = list(args)
        if len(args) >= 3:
            args[2] = self._builder_span(args[2])
        else:
            kwargs["builder"] = self._builder_span(kwargs["builder"])
        return tuple(args), kwargs

    def _builder_span(self, builder):
        def span():
            self.counts["session.memo_df.misses"] += 1
            t0 = time.perf_counter()
            try:
                # the build callables are query-plan code
                return self.timed("plans", builder)
            finally:
                self.times["session.memo_df.build_s"] += (
                    time.perf_counter() - t0)

        return span

    # -- wrapping ------------------------------------------------------

    def wrap(self, layer: str, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            return tracer.call(layer, name, fn, args, kwargs)

        self._wrapped[id(fn)] = wrapper
        return wrapper

    def wrap_module(self, module) -> None:
        layer = layer_of(module.__name__)
        if layer is None:
            return
        short = layer.split(".")[0]
        for attr, obj in list(vars(module).items()):
            if (attr.startswith("_") or not inspect.isfunction(obj)
                    or obj.__module__ != module.__name__
                    or id(obj) in self._wrapped):
                continue
            setattr(module, attr, self.wrap(layer, f"{short}.{attr}", obj))

    def sweep(self) -> None:
        """Rebind any original function still held by a package module
        (circular or early imports) to its wrapper."""
        for name, module in list(sys.modules.items()):
            if module is None or not name.startswith(PACKAGE):
                continue
            for attr, obj in list(vars(module).items()):
                wrapper = self._wrapped.get(id(obj))
                if wrapper is not None and inspect.isfunction(obj):
                    setattr(module, attr, wrapper)

    def install(self) -> None:
        if any(m.startswith(PACKAGE) for m in sys.modules):
            raise RuntimeError(
                "install the tracer before the engine package is imported")
        sys.meta_path.insert(0, _WrapOnImport(self))
        from pyspark.ml.base import Estimator

        Estimator.fit = self.wrap("ml", "ml.fit", Estimator.fit)


class _WrapOnImport(importlib.abc.MetaPathFinder):
    """Finds package modules with the normal path finder, then wraps the
    module's public functions right after its body has executed."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer

    def find_spec(self, name, path, target=None):
        if not name.startswith(PACKAGE):
            return None
        spec = importlib.machinery.PathFinder.find_spec(name, path)
        if spec is None or spec.loader is None:
            return spec
        exec_module = spec.loader.exec_module

        def exec_and_wrap(module):
            exec_module(module)
            self.tracer.wrap_module(module)

        spec.loader.exec_module = exec_and_wrap
        return spec
