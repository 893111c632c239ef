"""Process-scoped staging registry: build each query fixture once per
process and serve it to every later call.

A fixture is whatever a query family builds before it can answer: a
versioned warehouse history, a persisted index layout, a staged stream
log, a checkpointed DataFrame.  Every such build goes through
:func:`stage`, keyed by ``(name, abspath(sf_dir))``:

* a value is built at most once per key per process, and a fresh
  process always rebuilds;
* a DataFrame value belongs to the session that built it, so a call
  from another session rebuilds it; any other value (a directory
  path) outlives sessions;
* a build that raises records nothing, so the next call retries.

Every successful build appends ``(name, sf_dir, seconds)`` to the
build log, which is how ``bench.py`` separates a query's one-time
fixture cost from its steady-state cost.
"""

from __future__ import annotations

import os
import shutil
import time
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

_STAGED: dict[tuple[str, str], Any] = {}
_BUILD_LOG: list[tuple[str, str, float]] = []


def stage(
    spark: SparkSession, sf_dir: str, name: str, build: Callable[[], Any]
) -> Any:
    """Return the staged value for ``(name, sf_dir)``, calling
    ``build()`` only when there is none yet (or when a DataFrame value
    belongs to another session)."""
    key = (name, os.path.abspath(sf_dir))
    if key in _STAGED:
        value = _STAGED[key]
        if not isinstance(value, DataFrame) or value.sparkSession is spark:
            return value
        del _STAGED[key]  # built by another session
    t0 = time.perf_counter()
    value = build()
    _STAGED[key] = value
    _BUILD_LOG.append((name, sf_dir, time.perf_counter() - t0))
    return value


def build_log() -> list[tuple[str, str, float]]:
    """Every build this process ran, oldest first."""
    return list(_BUILD_LOG)


def clear() -> None:
    """Forget every staged value; the next :func:`stage` call per key
    rebuilds.  The build log is kept."""
    _STAGED.clear()


def scratch(sf_dir: str, leaf: str) -> str:
    """Scratch path for ``leaf`` under ``$SPARK_GRAFT_TMP`` (default
    ``/tmp``), tagged with the sf directory's basename so runs at
    different scale factors never collide.  Never inside the (possibly
    read-only) data tree."""
    base = os.environ.get("SPARK_GRAFT_TMP", "/tmp")
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    return os.path.join(base, "spark_graft_roundtrip", f"{tag}_{leaf}")


def fresh(path: str) -> str:
    """Remove the directory ``path`` if it exists and return ``path``,
    so a build starts from an empty location."""
    if os.path.isdir(path):
        shutil.rmtree(path)
    return path
