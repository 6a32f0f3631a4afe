"""Session-scoped tracking for operator-internal persists.

Several operators persist a shared subtree (shingle sets, MinHash
signatures, LSH signatures, the exact ANN baseline) because multiple
branches of one query plan consume it. The persisted frame has to
outlive the function call — the caller's action is what populates and
reads the cache — so the operator cannot unpersist it itself. Left
alone, those caches accumulate in executor memory across queries in a
long-lived session (MEMORY_AND_DISK eviction is the only backstop).

:func:`tracked_persist` registers every such persist in a module-level
list; :func:`release_caches` unpersists everything tracked. At 100 TB the
right shape is different anyway: materialize signatures to a lake table
once per corpus snapshot instead of caching per query.

Temp directories follow the same rule. A streaming query bootstraps its
lake, arrival files and checkpoint under a fresh temp root, and the
DataFrame it returns still reads from there, so the query cannot delete
the root itself. :func:`tracked_mkdtemp` records the root and
:func:`release_caches` removes it.

Call :func:`release_caches` once a query's result has been consumed:
bench.py and the benchmark do so between queries, and a long-lived
service would do so on its query boundary.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []
_TEMP_DIRS: list[str] = []


def tracked_persist(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK
) -> DataFrame:
    """Persist ``df`` and register it for :func:`release_caches`."""
    df = df.persist(level)
    _TRACKED.append(df)
    return df


def tracked_mkdtemp(prefix: str) -> str:
    """``tempfile.mkdtemp`` registered for removal by :func:`release_caches`."""
    path = tempfile.mkdtemp(prefix=prefix)
    _TEMP_DIRS.append(path)
    return path


def release_caches() -> int:
    """Unpersist every tracked frame and remove every tracked temp
    directory; returns how many frames were released.

    Call it after the result has been consumed: a result that reads from
    a removed temp directory can no longer be computed. Safe to call
    repeatedly.
    """
    n = 0
    while _TRACKED:
        df = _TRACKED.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:  # session already stopped: nothing to release
            pass
    while _TEMP_DIRS:
        shutil.rmtree(_TEMP_DIRS.pop(), ignore_errors=True)
    return n
