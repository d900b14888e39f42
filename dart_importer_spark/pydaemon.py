"""Python-worker daemon module: the stock ``pyspark.daemon`` with two
fixed-cost removals in the per-task hot path (guide §4 — the JVM↔Python
boundary is paid by every Arrow-batched stage in this engine).

Measured on an idle reused worker (Spark 4.1, local mode), a trivial
one-task ``mapInPandas`` job costs ~170 ms wall of which ~150 ms is worker
CPU *outside* the user function:

1. ``worker_util.setup_spark_files`` calls ``importlib.invalidate_caches()``
   on EVERY task. With ``$SPARK_HOME/python/lib/pyspark.zip`` + the py4j
   zip on the worker's ``sys.path``, CPython's zipimport invalidation
   re-reads each zip's entire central directory (~1.6k entries each) —
   ~140 ms of pure CPU per task, every task, forever. The invalidation
   exists so that files added via ``sc.addPyFile`` after worker start
   become importable; adding an include always mutates ``sys.path``
   (``worker_util.add_path`` prepends), so invalidating ONLY when
   ``sys.path`` changed since the previous task preserves that contract
   while skipping the per-task re-read. (The one case this would miss —
   overwriting an already-added include file in place under the same name
   mid-session — is not something this engine, bench, or tests ever do;
   a changed include LIST always changes ``sys.path`` and still
   invalidates.)

2. The daemon's reuse loop runs a full ``gc.collect()`` after every task.
   After the first task a worker holds the whole pandas/numpy/pyarrow
   import graph (~700 modules); ``gc.freeze()`` moves that post-import
   heap into the permanent generation so the per-task collection only
   traverses task-young objects (~10 ms saved, and GC semantics for
   task-created cycles are unchanged).

Activated via ``spark.python.daemon.module`` (public Spark conf, since
2.4) in ``session.get_spark``. Every patch is applied best-effort: if any
attribute is missing (a future pyspark refactor), the stock behavior is
left intact — the module then behaves exactly like ``pyspark.daemon``.
"""

from __future__ import annotations

import gc
import importlib
import sys

import pyspark.daemon as _daemon


class _PathAwareImportlib:
    """``importlib`` facade for ``worker_util``: ``invalidate_caches()``
    fires only when ``sys.path`` differs from the previous call (i.e. a
    new python include was actually added); everything else delegates."""

    def __init__(self) -> None:
        self._last_path: tuple[str, ...] | None = None

    def invalidate_caches(self) -> None:
        cur = tuple(sys.path)
        if cur != self._last_path:
            importlib.invalidate_caches()
            self._last_path = cur

    def __getattr__(self, name):
        return getattr(importlib, name)


try:  # patch 1: per-task zipimport directory re-read
    import pyspark.worker_util as _worker_util

    _worker_util.importlib = _PathAwareImportlib()
except Exception:  # pragma: no cover - future-pyspark fallback
    pass

try:  # patch 2: freeze the post-import heap after the first task
    _orig_worker = _daemon.worker

    def _freezing_worker(*args, **kwargs):
        code = _orig_worker(*args, **kwargs)
        if not getattr(_freezing_worker, "_frozen", False):
            gc.collect()
            gc.freeze()
            _freezing_worker._frozen = True
        return code

    _daemon.worker = _freezing_worker
except Exception:  # pragma: no cover - future-pyspark fallback
    pass


manager = _daemon.manager

if __name__ == "__main__":
    manager()
