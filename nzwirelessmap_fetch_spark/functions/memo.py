"""Session memo for substrates that several registry entries share.

The verified pair checkpoints, the PCA components and the snapshot
tables are each expensive to build and read by more than one entry.
``memo(family, spark, sf_dir, params, build)`` builds such a substrate
once and hands the stored object to every later caller:

- the key is ``(applicationId, sf_dir, params)`` within ``family``;
- a hit returns the stored object and runs no Spark job;
- a build that raises stores nothing;
- a miss first releases the family's entries for every other
  ``(applicationId, sf_dir)``, so a family holds one live corpus at a
  time; other ``params`` under the current corpus stay live (exact and
  capped builds coexist).

Release unpersists a DataFrame and frees the localCheckpoint RDDs its
plan reads — ``unpersist()`` and ``clearCache()`` both leave those
blocks in storage — removes a :func:`temp_dir` root, and recurses into
tuples. An entry from a stopped application is dropped without a JVM
call. Release never raises. ``reset(family)`` releases one family,
``reset()`` every family. ``release(frame)`` frees one frame's storage
the same way, for an iterative builder whose next checkpoint
supersedes its last.
"""

from __future__ import annotations

import shutil
import tempfile
from typing import Any, Callable, Hashable

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession

_ENTRIES: dict[str, dict[tuple, Any]] = {}


class TempDir(str):
    """A memoized temp-dir root; releasing it removes the directory."""


def temp_dir(prefix: str) -> TempDir:
    return TempDir(tempfile.mkdtemp(prefix=prefix))


def memo(
    family: str, spark: SparkSession, sf_dir: str, params: Hashable,
    build: Callable[[], Any],
) -> Any:
    app = spark.sparkContext.applicationId
    key = (app, sf_dir, params)
    live = _ENTRIES.setdefault(family, {})
    if key in live:
        return live[key]
    for old in [k for k in live if k[:2] != (app, sf_dir)]:
        _release(old[0], live.pop(old))
    value = build()
    live[key] = value
    return value


def entries(family: str) -> dict[tuple, Any]:
    """A copy of one family's live entries, keyed (app, sf_dir, params)."""
    return dict(_ENTRIES.get(family, {}))


def reset(family: str | None = None) -> None:
    for fam in list(_ENTRIES) if family is None else [family]:
        for (app, _sf_dir, _params), value in _ENTRIES.pop(fam, {}).items():
            _release(app, value)


def _release(app: str, value: Any) -> None:
    if isinstance(value, TempDir):
        shutil.rmtree(value, ignore_errors=True)
    elif isinstance(value, tuple):
        for v in value:
            _release(app, v)
    elif isinstance(value, DataFrame):
        sc = SparkContext._active_spark_context
        try:
            if sc is None or sc.applicationId != app:
                return  # the application stopped; its storage went with it
            release(value)
        except Exception:
            pass


def release(frame: DataFrame) -> None:
    """Unpersist ``frame`` and free the localCheckpoint RDDs its plan reads."""
    frame.unpersist()
    leaves = frame._jdf.queryExecution().analyzed().collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "LogicalRDD":
            leaf.rdd().unpersist(False)
