"""Executor-side interpreter tuning, loaded by Python's ``site`` machinery
in Spark's Python daemon/workers (the repo root rides the worker
PYTHONPATH, so ``site`` finds this module there at interpreter start).

Why this exists: ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` on EVERY task. With SPARK_HOME's zip
archives (pyspark.zip, py4j-*.zip) on ``sys.path``, every call re-reads
the zip central directories through the pure-Python ``zipimport`` path —
measured at ~0.20 s per task on this host (phase-timed worker probe:
``files`` segment avg 0.172 s of a 0.375 s total per-task init, all of it
``invalidate_caches``). Every Python-touching stage pays it per task, and
32 concurrent tasks re-reading the same zips amplify it under load (the
bench's photometry/minhash swings traced to exactly this). Throttling the
call to once per interval keeps its purpose intact — modules shipped with
``addPyFile`` after a task started still become importable within the
interval — while removing the per-task tax. The engine itself never ships
code mid-job, so the interval is safety margin, not a behavior change.

Gated on ``SPT_WORKER_IMPORTLIB_THROTTLE`` (seconds; set for executor
daemons by ``plans.session.get_session`` via ``spark.executorEnv``), so a
bare ``python`` run from the repo directory — the driver, pytest, any
tooling — is untouched: without the env var this module does nothing.

Python imports only the FIRST ``sitecustomize`` on ``sys.path``, so this
file would hide a virtualenv's or the system's own. After the gated
patches it therefore runs the next ``sitecustomize`` found on the path,
if there is one. Every copy of this file records its directory on
``sys``: a second copy (a benchmark checkout beside the repo on the path)
skips the patches, which the first copy already applied, and no copy
chains to a directory already visited, so two copies cannot run each
other in a loop.
"""

import os
import sys

_HERE = os.path.dirname(os.path.realpath(__file__))
_SEEN = sys.__dict__.setdefault("_spt_sitecustomize_dirs", [])
_FIRST = not _SEEN
_SEEN.append(_HERE)

_preload = os.environ.get("SPT_WORKER_PRELOAD") if _FIRST else None
if _preload:
    # Pre-import heavy modules in the DAEMON (this module loads at its
    # interpreter start; the gate env var only exists executor-side), so
    # every forked worker inherits them via copy-on-write instead of
    # importing them cold — measured: the first 32-task pandas-UDF stage
    # of a session pays ~5 s of concurrent cold imports without this,
    # ~1 s with it; mid-job worker respawns (pool growth, workers killed
    # by limit()-style partial reads) stop paying the import tax at all.
    # Import alone spawns no threads (BLAS pools start lazily on first
    # op), so the fork stays safe.
    for _m in _preload.split(","):
        try:
            __import__(_m.strip())
        except Exception:  # missing optional module: worker still works
            pass

_interval = (os.environ.get("SPT_WORKER_IMPORTLIB_THROTTLE") if _FIRST
             else None)
if _interval:
    try:
        import importlib
        import time

        _orig = importlib.invalidate_caches
        _min_s = float(_interval)
        _last = {"t": float("-inf")}

        def _throttled_invalidate_caches() -> None:
            now = time.monotonic()
            if now - _last["t"] >= _min_s:
                _last["t"] = now
                _orig()

        _throttled_invalidate_caches.__doc__ = _orig.__doc__
        importlib.invalidate_caches = _throttled_invalidate_caches
    except Exception:  # never break interpreter start
        pass


def _run_shadowed_sitecustomize() -> None:
    """Execute the sitecustomize this module shadows (the first one on
    ``sys.path`` outside the directories of the copies that already ran),
    as if it had loaded."""
    import importlib.machinery
    import importlib.util

    rest = [d for d in sys.path
            if os.path.realpath(d or os.curdir) not in _SEEN]
    spec = importlib.machinery.PathFinder.find_spec("sitecustomize", rest)
    if spec is None or spec.loader is None:
        return
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)


try:
    _run_shadowed_sitecustomize()
except Exception:  # never break interpreter start
    pass
