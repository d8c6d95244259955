"""One bounded memo per Spark session.

Operators memoize two kinds of values here: persisted mid-plan tables
(LSH signature tables, derived-name surfaces, the query registry's feature
tables — the operator returns a lazy DataFrame, so it cannot unpersist
before the caller's action runs) and small per-session constants (the
irregular-lemma table, corpus probes). The memo is an ``OrderedDict``
stored on the ``SparkSession`` object itself, so an entry can never reach
another session and is freed together with its session. It is LRU with one
cap; an evicted DataFrame is unpersisted, and ``release`` (wired into
``session.close_session``) empties it.
"""

from __future__ import annotations

import logging
import threading
from collections import OrderedDict
from typing import Callable, Hashable, TypeVar

from pyspark.sql import DataFrame, SparkSession

log = logging.getLogger(__name__)

_CAP = 16
# re-entrant: a build may itself memoize (the feature table's plan uses the
# irregular-lemma table); corpus.side_tables calls in from driver threads
_LOCK = threading.RLock()

T = TypeVar("T")


def _unpersist(value) -> None:
    if isinstance(value, DataFrame):
        try:
            value.unpersist()
        except Exception:
            pass  # session may already be stopped


def memo(spark: SparkSession, key: Hashable, build: Callable[[], T]) -> T:
    """Return the value memoized under ``key`` on ``spark``, calling
    ``build()`` on a miss.

    Eviction is LRU once the cap is hit. Evicting a persisted handle whose
    downstream lazy plan has not run yet silently recomputes the stage the
    persist existed to avoid (e.g. an LSH signature table measured at 105s
    recompute vs 13s cached), so every eviction logs what it dropped."""
    with _LOCK:
        entries = getattr(spark, "_namedis_memo", None)
        if entries is None:
            entries = spark._namedis_memo = OrderedDict()
        if key in entries:
            entries.move_to_end(key)
            return entries[key]
        while len(entries) >= _CAP:
            _, victim = entries.popitem(last=False)
            log.warning(
                "session memo cap (%d) hit: evicting the least recently used "
                "entry; if it is a cached intermediate whose consumers have "
                "not run yet, that stage will recompute",
                _CAP,
            )
            _unpersist(victim)
        value = entries[key] = build()
        return value


def tracked_persist(df: DataFrame) -> DataFrame:
    """persist() + register in the session memo for bounded, releasable
    caching."""
    return memo(df.sparkSession, object(), df.persist)


def release(spark: SparkSession) -> None:
    """Unpersist and drop every memo entry of ``spark`` (session-close
    hook)."""
    with _LOCK:
        entries = getattr(spark, "_namedis_memo", None)
        while entries:
            _unpersist(entries.popitem()[1])
