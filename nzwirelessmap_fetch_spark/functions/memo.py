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

Each entry carries a :class:`Record` of the calls that touched it: the
Spark job group (``spark.jobGroup.id``) whose call built it, the build
seconds, whether the build ran inside another memo build, and the set of
job groups whose calls hit it. The record lives and dies with its entry,
so a long session stays bounded, and :func:`records` is its one reader.
From it, :func:`build_lines` names each top-level build's seconds
``shared_<family>_build`` (``_capped`` when ``params`` is a tuple whose
first element, the df cap, is set), and :func:`touched` lists the keys a
job group built or hit. That is how ``bench.py`` and the correctness
gate attribute shared builds and co-shard the entries that share one.

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
import time
from dataclasses import dataclass, field
from typing import Any, Callable, Hashable

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession


@dataclass
class Record:
    group: str | None
    build_s: float
    nested: bool
    hits: set[str | None] = field(default_factory=set)


_ENTRIES: dict[str, dict[tuple, tuple[Any, Record]]] = {}
_building = 0  # memo builds in progress


class TempDir(str):
    """A memoized temp-dir root; releasing it removes the directory."""


def temp_dir(prefix: str) -> TempDir:
    return TempDir(tempfile.mkdtemp(prefix=prefix))


def memo(
    family: str, spark: SparkSession, sf_dir: str, params: Hashable,
    build: Callable[[], Any],
) -> Any:
    global _building
    sc = spark.sparkContext
    key = (sc.applicationId, sf_dir, params)
    group = sc.getLocalProperty("spark.jobGroup.id")
    live = _ENTRIES.setdefault(family, {})
    if key in live:
        value, record = live[key]
        record.hits.add(group)
        return value
    for old in [k for k in live if k[:2] != key[:2]]:
        _release(old[0], live.pop(old)[0])
    nested = _building > 0
    _building += 1
    start = time.perf_counter()
    try:
        value = build()
    finally:
        _building -= 1
    live[key] = value, Record(group, time.perf_counter() - start, nested)
    return value


def entries(family: str) -> dict[tuple, Any]:
    """A copy of one family's live entries, keyed (app, sf_dir, params)."""
    return {k: value for k, (value, _) in _ENTRIES.get(family, {}).items()}


def records() -> dict[tuple[str, tuple], Record]:
    """Every live entry's record, keyed ``(family, (app, sf_dir, params))``."""
    return {
        (family, key): record
        for family, live in _ENTRIES.items()
        for key, (_, record) in live.items()
    }


def build_lines(since: dict[tuple[str, tuple], Record]) -> dict[str, float]:
    """Seconds of the top-level builds recorded after the :func:`records`
    snapshot ``since``, summed per ``shared_<family>_build[_capped]``."""
    out: dict[str, float] = {}
    for (family, key), record in records().items():
        if record.nested or since.get((family, key)) is record:
            continue
        params = key[2]
        capped = isinstance(params, tuple) and params and params[0] is not None
        line = f"shared_{family}_build" + ("_capped" if capped else "")
        out[line] = out.get(line, 0.0) + record.build_s
    return out


def touched(group: str) -> list[str]:
    """``family:params`` of every live entry a call under ``group`` built
    or hit."""
    return sorted(
        f"{family}:{key[2]!r}"
        for (family, key), record in records().items()
        if record.group == group or group in record.hits
    )


def reset(family: str | None = None) -> None:
    for fam in list(_ENTRIES) if family is None else [family]:
        for (app, _sf_dir, _params), (value, _) in _ENTRIES.pop(fam, {}).items():
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
