"""Spans around the calls the benchmark makes into the engine.

Nothing inside ``belb_spark`` is edited: a traced iteration patches, for its
own duration, the public functions ``belb_spark.pipeline`` imports and
``CheckpointStore.run``, and the query workload opens its spans around each
``queries()`` entry and its forcing write. Every span runs its Spark jobs
under its own job group, so ``eventlog.attribute`` can map jobs back to it.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import threading
import time
from collections.abc import Iterator

from perfbench.eventlog import GROUP_PREFIX, Span

# CheckpointStore stage name -> the module whose work that stage forces
STAGE_MODULE = {
    "01_normalize": "normalize",
    "02_blocks": "blocking",
    "03_candidates": "pairs",
    "04_scores": "scoring",
    "05_clusters": "clustering",
}
_GROUP_KEYS = ("spark.jobGroup.id", "spark.job.description")


class Tracer:
    """Records spans (main thread only) and sets a job group per span."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, module: str, kind: str, name: str) -> Iterator[Span]:
        s = Span(
            len(self.spans), module, kind, name, time.time(),
            parent=self._stack[-1].idx if self._stack else None,
        )
        self.spans.append(s)
        self._stack.append(s)
        prev = [self.sc.getLocalProperty(k) for k in _GROUP_KEYS]
        self.sc.setJobGroup(f"{GROUP_PREFIX}{s.idx}", f"{module}:{name}")
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            for k, v in zip(_GROUP_KEYS, prev):
                self.sc.setLocalProperty(k, v)

    def _wrap(self, fn, module: str, kind: str, name_of=None):
        main = threading.main_thread()

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if threading.current_thread() is not main:
                return fn(*args, **kwargs)
            name = name_of(*args, **kwargs) if name_of else fn.__name__
            mod = module(name) if callable(module) else module
            with self.span(mod, kind, name):
                return fn(*args, **kwargs)

        return traced

    @contextlib.contextmanager
    def pipeline_patched(self) -> Iterator[None]:
        """Patch every ``belb_spark`` function that ``belb_spark.pipeline``
        imports (a call span in the function's own module) and
        ``CheckpointStore.run`` (an action span in the stage's module)."""
        from belb_spark import pipeline
        from belb_spark.checkpoint import CheckpointStore

        saved: list[tuple[object, str, object]] = []
        for attr, fn in vars(pipeline).items():
            if (
                inspect.isfunction(fn)
                and fn.__module__.startswith("belb_spark.")
                and fn.__module__ != pipeline.__name__
            ):
                saved.append((pipeline, attr, fn))
                setattr(pipeline, attr, self._wrap(fn, fn.__module__.rsplit(".", 1)[-1], "call"))
        run = CheckpointStore.run
        saved.append((CheckpointStore, "run", run))
        CheckpointStore.run = self._wrap(
            run,
            lambda stage: STAGE_MODULE.get(stage, "checkpoint"),
            "action",
            name_of=lambda _store, stage, *a, **k: stage,
        )
        try:
            yield
        finally:
            for owner, attr, fn in saved:
                setattr(owner, attr, fn)
