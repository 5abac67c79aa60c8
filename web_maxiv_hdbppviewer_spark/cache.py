"""Session-artifact registry and the F6 future-period rule (SURVEY X6/X7).

``artifacts`` is the one store for everything the engine builds once per
session and reuses across queries: checkpointed index frames, trained
codebooks, model artifacts, the loaded table plans, the HDB++ catalog.
Entries are keyed by (applicationId, kind, params), capped per kind, and
logged per build.

The reference also keeps a byte-accounted LRU of immutable per-(cs, attr,
day) pandas frames (reference utils.py:174-236, hdbpp.py:135-137,
341-360) that refuses days at or after today (hdbpp.py:352-359, F6).
The engine keeps no slice cache: partition pruning reads only the
requested days. The F6 rule survives as ``cacheable_period``; "today"
keeps growing and goes through streaming/incremental.py instead.
"""

from __future__ import annotations

import time
from collections import OrderedDict
from collections.abc import Callable
from datetime import date

from pyspark.sql import DataFrame

#: Entries kept per artifact kind. A census of one sf0.1 bench battery
#: found at most 5 distinct params under one kind (ann_scored: the exact,
#: ivf, ivfpq, lsh and pq frames, all live at once), 3 under shingle_idx
#: and dedup_method_pairs and at most 2 under every other kind. 8 never
#: evicts a live entry there and still bounds a long-lived process
#: serving many corpora.
ARTIFACT_CAP = 8


def _frames(value):
    """The DataFrames inside a registry value (frames nest in tuples and
    stage lists)."""
    if isinstance(value, DataFrame):
        yield value
    elif isinstance(value, (tuple, list)):
        for v in value:
            yield from _frames(v)


def _unpersist_checkpoint(df: DataFrame) -> None:
    """Free the blocks behind a localCheckpoint frame. Best effort: any
    other frame is left alone, and a failure only delays the free until
    Spark's ContextCleaner collects the RDD."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception:
        pass


class SessionArtifacts:
    """Per-kind LRU of session artifacts with a build log.

    A process has one live SparkContext, so the registry holds one
    applicationId's entries: the first call under a new id drops every
    entry and log record of the old one (their blocks died with it).
    """

    def __init__(self):
        self._app: str | None = None
        self._entries: dict[str, OrderedDict] = {}
        self._log: list[tuple[str, object, float]] = []

    def _enter(self, spark) -> None:
        app = spark.sparkContext.applicationId
        if app != self._app:
            self.clear()
            self._app = app

    def get_or_build(self, spark, kind: str, params, build: Callable[[], object]):
        """The ``kind`` artifact for ``params`` in ``spark``'s session,
        built by ``build()`` on first use."""
        self._enter(spark)
        store = self._entries.setdefault(kind, OrderedDict())
        if params in store:
            store.move_to_end(params)
            return store[params]
        t0 = time.perf_counter()
        value = build()
        self._log.append((kind, params, round(time.perf_counter() - t0, 4)))
        store[params] = value
        while len(store) > ARTIFACT_CAP:
            _, old = store.popitem(last=False)
            live = {
                id(f)
                for entries in self._entries.values()
                for v in entries.values()
                for f in _frames(v)
            }
            for f in _frames(old):
                if id(f) not in live:
                    _unpersist_checkpoint(f)
        return value

    def peek(self, spark, kind: str, params):
        """The live entry, or None; never builds."""
        if spark.sparkContext.applicationId != self._app:
            return None
        return self._entries.get(kind, {}).get(params)

    def builds(self) -> list[tuple[str, object, float]]:
        """(kind, params, build seconds) per build in the live session."""
        return list(self._log)

    def clear(self) -> None:
        """Forget every entry and build record (e.g. after rewriting a
        corpus in place: plan-keyed entries would otherwise serve the old
        blocks)."""
        self._entries.clear()
        self._log.clear()


artifacts = SessionArtifacts()


def cacheable_period(period_col, today: date):
    """The F6 future-period rule (reference hdbpp.py:352-359) as a column:
    a day period is cacheable iff it is strictly BEFORE today (ISO-date
    strings compare lexicographically = chronologically); today's and
    later periods are still growing. Declared query q34 witnesses this
    rule, including the today-is-hot boundary, against the SQL oracle."""
    from pyspark.sql import functions as F

    return period_col < F.lit(today.isoformat())
