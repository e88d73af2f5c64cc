"""The session caches: one registry of what repeat queries in a Spark
session reuse (ARCHITECTURE.md decision 18).

- ``cached`` keys an entry by ``(applicationId, name, params)`` and keeps
  the signature of the files it read (``sinks.table_signature`` /
  ``frame_signature``); a hit needs an equal signature. ``cached_over``
  keys a result computed from a frame by the frame itself.
- ``hold`` keeps one persisted result per slot and releases it on the
  slot's next call.

There is no lock: every caller runs on a query's calling thread (the
pipeline's per-source threads and the web console's request threads
reach no entry).
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

from science_datalake_spark.sources.sinks import frame_signature
from science_datalake_spark.util import unpersist

#: name → {(applicationId, params) → (signature, value, source)}, oldest
#: first
_ENTRIES: dict[str, dict[tuple, tuple]] = {}
#: slot → the one persisted result ``hold`` keeps for it
_HELD: dict[str, DataFrame] = {}


def cached(
    spark: SparkSession,
    name: str,
    params: tuple,
    signature: tuple,
    build: Callable[[], Any],
    *,
    cap: int,
) -> Any:
    """``build()``'s value for ``params``, built once per session while
    ``signature`` holds. The key carries the application id, not
    ``id(spark)``, which CPython recycles: another session never hits. A
    stale entry, and the oldest while ``name`` holds ``cap``, are dropped
    and their persisted frames released *before* ``build`` runs: a
    persist of an equal plan would otherwise find the stale cached data."""
    key = (spark.sparkContext.applicationId, params)
    return _lookup(name, key, signature, None, build, cap)


def cached_over(
    frame: DataFrame, name: str, params: tuple, build: Callable[[], Any], *, cap: int
) -> Any:
    """``cached`` for a value computed from ``frame``, keyed by its
    ``semanticHash()`` plus ``params``, validated by the
    ``frame_signature`` of the files it reads, and confirmed on a hit by
    ``sameSemantics`` against the stored frame: a filter or another path
    is another entry, and one plan built twice is one."""
    app = frame.sparkSession.sparkContext.applicationId
    key = (app, (frame.semanticHash(), *params))
    return _lookup(name, key, frame_signature(frame), frame, build, cap)


def _lookup(name: str, key: tuple, signature: tuple, source, build, cap: int) -> Any:
    """The one lookup behind ``cached`` and ``cached_over``."""
    entries = _ENTRIES.setdefault(name, {})
    hit = entries.get(key)
    if hit is not None:
        if hit[0] == signature and (source is None or source.sameSemantics(hit[2])):
            return hit[1]
        _release(entries.pop(key))
    while len(entries) >= cap:
        _release(entries.pop(next(iter(entries))))
    value = build()
    entries[key] = (signature, value, source)
    return value


def hold(slot: str, df: DataFrame) -> DataFrame:
    """Persist ``df`` as the one result ``slot`` keeps, after releasing
    the slot's previous result (first, as in ``cached``)."""
    prev = _HELD.pop(slot, None)
    if prev is not None:
        unpersist(prev)
    _HELD[slot] = df.persist()
    return df


def clear() -> None:
    """Drop every ``cached`` entry, releasing its persisted frames."""
    for entries in _ENTRIES.values():
        while entries:
            _release(entries.pop(next(iter(entries))))


def _release(entry: tuple) -> None:
    """Unpersist the entry's value, or a tuple value's frames, if persisted."""
    value = entry[1]
    for df in value if isinstance(value, tuple) else (value,):
        if isinstance(df, DataFrame) and df.is_cached:
            unpersist(df)
