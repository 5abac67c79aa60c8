"""Session-artifact registry, slice cache manager and TTL dimension cache
(SURVEY X6/X7).

``artifacts`` is the one store for everything the engine builds once per
session and reuses across queries: checkpointed index frames, trained
codebooks, model artifacts, the loaded table plans. Entries are keyed by
(applicationId, kind, params), capped per kind, and logged per build.

The reference keeps a byte-accounted LRU of immutable per-(cs, attr, day)
pandas frames, 1 GB default (reference utils.py:174-236, hdbpp.py:135-137,
341-360), and memoizes catalog fetches for 60 s (hdbpp.py:213,230).

Spark restatement: ``.persist(MEMORY_AND_DISK)`` on keyed DataFrame slices
with explicit ``unpersist`` eviction. Accounting uses an estimated row
width x count (Spark doesn't expose exact cached bytes cheaply; the
reference uses pandas memory_usage the same way - an estimate used only for
eviction policy, never correctness). Future periods are never cached
(reference hdbpp.py:352-359 F6 guard) - "today" keeps growing and goes
through streaming/incremental.py instead.
"""

from __future__ import annotations

import re
import time
from collections import OrderedDict
from collections.abc import Callable
from datetime import date

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_ISO_DATE = re.compile(r"^\d{4}-\d{2}-\d{2}$")

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


def _period_from_key(key: tuple) -> str | None:
    """The ISO-date element of a slice key, if any (keys are caller-defined
    tuples like the reference's (cs, attr, day))."""
    for part in reversed(key):
        if isinstance(part, str) and _ISO_DATE.match(part):
            return part
    return None


def _estimate_row_bytes(df: DataFrame) -> int:
    sizes = {
        "long": 8, "bigint": 8, "double": 8, "timestamp": 8, "timestamp_ntz": 8,
        "int": 4, "float": 4, "short": 2, "boolean": 1, "date": 4,
    }
    total = 0
    for _, dtype in df.dtypes:
        total += sizes.get(dtype, 24)  # strings/arrays: rough average
    return max(total, 8)


def cacheable_period(period_col, today: date):
    """Column twin of the ``SliceCache.put`` F6 guard: a slice period is
    cacheable iff it is strictly BEFORE today (ISO-date strings compare
    lexicographically = chronologically). Declared query q34 witnesses this
    rule against the SQL oracle; ``test_cache_guard_matches_query_rule``
    pins the class guard to the same boundary."""
    from pyspark.sql import functions as F

    return period_col < F.lit(today.isoformat())


class SliceCache:
    """Byte-budgeted LRU of persisted DataFrame slices, keyed by caller
    (e.g. (cs, attr, period) like the reference's day-frames)."""

    def __init__(self, max_bytes: int = 1_000_000_000):
        self.max_bytes = max_bytes
        self._entries: OrderedDict[tuple, tuple[DataFrame, int]] = OrderedDict()
        self._bytes = 0

    def get(self, key: tuple) -> DataFrame | None:
        entry = self._entries.get(key)
        if entry is None:
            return None
        self._entries.move_to_end(key)
        return entry[0]

    def put(self, key: tuple, df: DataFrame, today: date | None = None) -> DataFrame:
        """Persist and account a slice; evicts LRU entries over budget.

        Materializes the slice (count) so the persist actually happens at
        put-time, like the reference caching completed day-frames.

        F6 guard (reference hdbpp.py:352-359): slices whose period is TODAY
        or later are REFUSED - those partitions are still growing and must
        go through the incremental path (streaming.incremental), never the
        immutable cache. The period is auto-detected as the ISO-date element
        of the key; ``today`` is injectable for tests.
        """
        period = _period_from_key(key)
        if period is not None and period >= (today or date.today()).isoformat():
            return df  # mutable partition: never cached, never persisted
        if key in self._entries:
            return self._entries[key][0]
        persisted = df.persist(StorageLevel.MEMORY_AND_DISK)
        n = persisted.count()
        nbytes = n * _estimate_row_bytes(df)
        if nbytes >= self.max_bytes:
            # reference utils.py:220-223: a value at or over the whole
            # budget is never stored (it would only evict everything and
            # still breach the cap). Unpersist - the caller's plan still
            # works, it just recomputes.
            persisted.unpersist()
            return df
        self._entries[key] = (persisted, nbytes)
        self._bytes += nbytes
        while self._bytes > self.max_bytes:
            # evict LRU until back under budget (reference utils.py:227-234;
            # the skip above guarantees the new entry alone always fits)
            old_key, (old_df, old_bytes) = self._entries.popitem(last=False)
            old_df.unpersist()
            self._bytes -= old_bytes
        return persisted

    def clear(self) -> None:
        for df, _ in self._entries.values():
            df.unpersist()
        self._entries.clear()
        self._bytes = 0

    @property
    def size_bytes(self) -> int:
        return self._bytes


class TtlDimension:
    """60s-style TTL cache of a dimension DataFrame (reference
    @memoized_ttl, utils.py:29-50): re-runs the loader after the TTL and
    swaps the persisted snapshot."""

    def __init__(self, loader: Callable[[], DataFrame], ttl_seconds: float = 60.0):
        self._loader = loader
        self._ttl = ttl_seconds
        self._df: DataFrame | None = None
        self._loaded_at = 0.0

    def get(self) -> DataFrame:
        now = time.monotonic()
        if self._df is None or now - self._loaded_at > self._ttl:
            fresh = self._loader().persist(StorageLevel.MEMORY_AND_DISK)
            fresh.count()
            if self._df is not None:
                self._df.unpersist()
            self._df = fresh
            self._loaded_at = now
        return self._df

    def invalidate(self) -> None:
        # -inf, not 0.0: time.monotonic() is seconds since an arbitrary
        # origin (often boot), so early in a host's life `now - 0.0` can
        # still be under the TTL and a 0.0 sentinel silently no-ops.
        self._loaded_at = float("-inf")
