"""HDB++ logical-model source layer: catalogs, name resolution, partition layout.

Replaces the reference's Cassandra access layer (reference hdbpp.py) with
DataFrame-native equivalents:

  - the catalogs (``att_conf``, ``att_names``) are collected into one
    driver-side snapshot, again every 60 s, as the reference fetches them
    wholesale every 60 s (hdbpp.py:213-241). The snapshot answers all
    three catalog questions without a Spark job: name -> att_conf_id
    resolution (J1) is a dict lookup, the reference's (hdbpp.py:404);
    /attributes search matches the sorted name list in Python, as the
    reference's server does (server.py:78-86); and the control-system
    listing is the snapshot's keys. A request's names are a handful and
    the catalog is small; a Spark job per request would cost more than
    the answer.
  - day-partition enumeration (X1, reference hdbpp.py:303-321 hand-builds
    one CQL future per local-calendar day) becomes partition PRUNING: data
    is stored partitioned by (data_type, period) and the planner emits a
    ``period IN (...)`` predicate; Catalyst prunes directories statically.

Storage layout for 100 TB (write_datapoints):
  - partitionBy(data_type, period): ~26 types x 365 days/yr directories;
    each day of one type holds every attribute's points for that day -
    range scans touch exactly the requested days (the reference's
    per-(attr, day) Cassandra partitions, without the per-attribute
    request fan-out).
  - within a partition, files are sorted by (att_conf_id, ts) via
    sortWithinPartitions so parquet row-group min/max statistics prune
    non-requested attributes and time sub-ranges (subsumes the
    reference's searchsorted slicing, plot.py:86-90).
  - bucketBy(att_conf_id) into a table (write_datapoints_bucketed) for
    shuffle-free per-attribute joins/aggregations at cluster scale.
"""

from __future__ import annotations

import fnmatch
import re
import time
from datetime import date, datetime, timedelta, timezone
from zoneinfo import ZoneInfo

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.names import attr_full_name
from ..functions.time import push_time_filter

#: seconds a catalog snapshot serves resolution, search and the
#: control-system listing before it is collected again - the reference's catalog TTL (hdbpp.py:213, 230)
CATALOG_TTL_S = 60.0

#: the snapshot's clock; monotonic, so wall-clock steps cannot expire it
_clock = time.monotonic

#: the reference pins Europe/Stockholm for period derivation
#: (reference Dockerfile:14-17); ours is explicit and per-deployment
DEFAULT_PERIOD_ZONE = "UTC"


def _as_naive_utc(t: datetime) -> datetime:
    """Engine convention: naive datetimes ARE UTC. An AWARE datetime is
    CONVERTED to UTC first (r19 review) - the previous bare
    ``replace(tzinfo=UTC)`` silently reinterpreted a non-UTC offset as
    UTC wall-clock, so the period day keys disagreed with the ts
    predicate (which Spark converts correctly) and edge-day rows were
    silently pruned away."""
    if t.tzinfo is None:
        return t
    return t.astimezone(ZoneInfo("UTC")).replace(tzinfo=None)


def _local_date(t: datetime, tz: ZoneInfo) -> date:
    """The ``tz``-local calendar date of an engine datetime: the one
    UTC -> local-date step of the period rule (reference hdbpp.py:303-308:
    periods are LOCAL dates, timestamps UTC)."""
    return _as_naive_utc(t).replace(tzinfo=timezone.utc).astimezone(tz).date()


def day_partitions(t0: datetime, t1: datetime, zone: str = DEFAULT_PERIOD_ZONE) -> list[str]:
    """Enumerate local-calendar-date period keys covering [t0, t1].

    Mirrors the reference's day splitting (hdbpp.py:303-308: UTC instants
    -> local dates) but is only used to build a pruning predicate - Spark's
    planner does the rest; no per-day query fan-out.
    """
    tz = ZoneInfo(zone)
    d, d1 = _local_date(t0, tz), _local_date(t1, tz)
    days = []
    while d <= d1:
        days.append(d.isoformat())
        d += timedelta(days=1)
    return days


def _covered_day_span_utc(
    t0: datetime, t1: datetime, zone: str
) -> tuple[datetime, datetime]:
    """[start, end) naive-UTC instants of the ``zone``-local calendar days
    covering [t0, t1] - the days ``day_partitions`` names. Inputs are the
    engine's naive-UTC datetimes; for zone='UTC' this is plain midnight
    flooring.

    Documented divergence (ADVICE r13): ``zone`` models the INTENDED
    semantics - "periods are the storage partition's local calendar
    dates" - not the reference's literal mechanism. The reference
    attaches tzlocal to its naive request instants via ``replace()``
    (hdbpp.py:298-306), an identity conversion, so its covered days are
    always the naive timestamp's OWN calendar date regardless of the
    deployment zone; this engine genuinely converts UTC instants into
    ``zone`` before taking the date, so a non-UTC zone can cover a
    shifted day set near local midnight (e.g. 23:30 UTC -> the next CET
    day). The default zone='UTC' is instant-for-instant identical to the
    reference's behavior on a UTC-clock deployment - the only
    configuration the engine's naive-UTC timestamps describe; a non-UTC
    ``zone`` is the correct day-partition fan-out such a deployment
    WOULD want, which the reference can't express."""
    tz = ZoneInfo(zone)

    def midnight_utc(d: date) -> datetime:
        local = datetime(d.year, d.month, d.day, tzinfo=tz)
        return local.astimezone(timezone.utc).replace(tzinfo=None)

    return (
        midnight_utc(_local_date(t0, tz)),
        midnight_utc(_local_date(t1, tz) + timedelta(days=1)),
    )


def derive_period(ts_col, zone: str = DEFAULT_PERIOD_ZONE):
    """Storage-boundary period derivation: UTC event time -> local date
    string (SURVEY §7.3: all computation UTC; local time only here)."""
    return F.date_format(F.from_utc_timestamp(ts_col, zone), "yyyy-MM-dd")


def match_names(
    names: list[str], pattern: str, contains: bool = False, limit: int | None = None
) -> list[str]:
    """The ``names`` a search keeps, in their given order, at most
    ``limit`` of them (None: all).

    Matching is case-insensitive. A glob matches the WHOLE name, as the
    reference's ``re.match`` over ``fnmatch.translate`` does
    (server.py:78-86). ``contains=True`` is the Grafana /search variant
    (server.py:196-207), but the term is a LITERAL substring: the
    reference splices it into its ``.*term.*`` regex unescaped, so there
    ``a.c`` also matches ``abc`` and a malformed term raises.

    ``limit=0`` is a real cap of zero names; a negative limit raises
    ValueError, since a slice would silently drop the last names."""
    if limit is not None and limit < 0:
        raise ValueError(f"search cap must be >= 0, got {limit}")
    key = pattern.upper()
    if contains:
        hits = [n for n in names if key in n.upper()]
    else:
        match = re.compile(fnmatch.translate(key)).match
        hits = [n for n in names if match(n.upper())]
    return hits if limit is None else hits[:limit]


class HdbppCatalog:
    """The two dimension tables, and name resolution, search and the
    control-system listing over one driver-side snapshot of them."""

    def __init__(self, att_conf: DataFrame, att_names: DataFrame):
        self.att_conf = att_conf
        self.att_names = att_names
        self._snap: tuple[float, dict, dict[str, list[str]]] | None = None

    def _snapshot(self) -> tuple[float, dict, dict[str, list[str]]]:
        """(taken at, {(cs_name, att_name): att_conf_id}, {cs_name: sorted
        full names}). Collected on first use and again once it is older
        than CATALOG_TTL_S, like the reference's catalog memo
        (hdbpp.py:213, 230); in between, the catalog launches no Spark
        job."""
        now = _clock()
        snap = self._snap
        if snap is None or now - snap[0] > CATALOG_TTL_S:
            # both tables in ONE query, so a catalog whose att_names
            # derives from att_conf (the fixture's) computes their shared
            # subplan once (exchange reuse)
            conf = self.att_conf.select(
                F.lit(True), "cs_name", "att_name", "att_conf_id"
            )
            full = self.att_names.select(
                F.lit(False),
                "cs_name",
                attr_full_name("domain", "family", "member", "name"),
                F.lit(None).cast("long"),
            )
            ids: dict[tuple[str, str], int] = {}
            names: dict[str, list[str]] = {}
            for is_conf, cs, name, i in conf.union(full).collect():
                if is_conf:
                    ids[(cs, name)] = i
                else:
                    names.setdefault(cs, []).append(name)
            for v in names.values():
                v.sort()
            snap = self._snap = (now, ids, names)
        return snap

    def _frame(self, **columns: list[str]) -> DataFrame:
        """String columns as a LocalRelation: collecting it runs no job."""
        return self.att_conf.sparkSession.createDataFrame(
            pa.table({k: pa.array(v, pa.string()) for k, v in columns.items()})
        )

    def ids(self) -> dict[tuple[str, str], int]:
        """The snapshot's {(cs_name, att_name): att_conf_id}."""
        return self._snapshot()[1]

    def controlsystems(self) -> DataFrame:
        """Distinct control systems, sorted (reference server.py:63-70)."""
        return self._frame(cs_name=sorted({cs for cs, _ in self.ids()}))

    def search(
        self,
        cs: str,
        pattern: str,
        max_n: int | str | None = 100,
        contains: bool = False,
    ) -> DataFrame:
        """(cs_name, name) of ``cs``'s attributes that ``pattern`` matches
        (``match_names``), sorted by name and capped (reference
        server.py:73-89; the cap is enforced here unlike the reference).

        DOCUMENTED DIVERGENCE (SURVEY O5): the reference PARSES ``max``
        (server.py:77 ``request.query.get("max", 100)``) but never
        applies it - its ``matches`` list goes out uncapped. The engine
        enforces the cap for real (an uncapped name list over a
        100k-attribute archive is the exact unbounded-response class the
        API layer must not ship). ``max_n=None`` requests the
        reference's true uncapped shape - byte-shape comparisons against
        the reference must pass it so the comparison excludes the cap
        (tests/test_round15.py pins both sides).

        ``max_n`` accepts a STRING like the reference's query param
        (str when the client sends one, int 100 otherwise) and
        int()-coerces it - the coercion the reference would need had it
        applied the cap it parses. A non-numeric string or a negative
        cap raises ValueError at the API edge."""
        hits = match_names(
            self._snapshot()[2].get(cs, []),
            pattern,
            contains,
            None if max_n is None else int(max_n),
        )
        return self._frame(cs_name=[cs] * len(hits), name=hits)


def write_datapoints(df: DataFrame, path: str, zone: str = DEFAULT_PERIOD_ZONE) -> None:
    """Write the unified datapoint stream in the 100 TB layout.

    The within-partition sort LEADS with the partition columns (r19
    review): FileFormatWriter requires its input ordered on the
    partition columns and inserts its OWN sort when it is not - a
    planner sort that is not guaranteed stable, so at spill scale the
    documented within-file (att_conf_id, ts) clustering (and with it
    S1/X2 row-group pruning) would silently degrade. Declaring the full
    (data_type, period, att_conf_id, ts) order satisfies the writer's
    requirement, so no extra sort is inserted and the clustering is
    guaranteed (the bucketed writer below is safe by its sortBy)."""
    out = df
    if "period" not in df.columns:
        out = out.withColumn("period", derive_period(F.col("ts"), zone))
    (
        out.repartition("data_type", "period")
        .sortWithinPartitions("data_type", "period", "att_conf_id", "ts")
        .write.partitionBy("data_type", "period")
        .mode("overwrite")
        .parquet(path)
    )


def write_datapoints_bucketed(
    df: DataFrame,
    table: str,
    num_buckets: int = 64,
    path: str | None = None,
    zone: str = DEFAULT_PERIOD_ZONE,
) -> None:
    """Write datapoints as a bucketed table: partitionBy(data_type, period)
    for pruning + bucketBy(att_conf_id) sorted by (att_conf_id, ts).

    Bucketing pre-shuffles ONCE at write time: every per-attribute
    aggregation, as-of join, or datapoint-to-datapoint join thereafter
    reads hash-partitioned, sorted buckets and plans with NO exchange and
    NO sort - at 100 TB that converts the dominant per-query shuffle into
    a one-time write cost. ``num_buckets`` should be sized so one bucket
    of one (type, day) partition fits an executor core (e.g. 1 TB/day of
    doubles -> 64-256 buckets).
    """
    out = df
    if "period" not in df.columns:
        out = out.withColumn("period", derive_period(F.col("ts"), zone))
    w = (
        out.repartition(num_buckets, "att_conf_id")
        .write.partitionBy("data_type", "period")
        .bucketBy(num_buckets, "att_conf_id")
        .sortBy("att_conf_id", "ts")
        .mode("overwrite")
    )
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def prune_window(
    df: DataFrame,
    att_conf_ids: list[int] | None = None,
    t0: datetime | None = None,
    t1: datetime | None = None,
    zone: str = DEFAULT_PERIOD_ZONE,
    upper_inclusive: bool = True,
) -> DataFrame:
    """The engine's ONE store-pruning predicate: the readers and every
    request window (/query's exact trim and covered days, the /image
    extrema slice and whole-days raster feed) call it.

    - the attribute IN-list;
    - the ``ts`` bounds apply INDEPENDENTLY (a single bound once disabled
      time filtering entirely, silently returning the full-history
      scan), ``[t0, t1]`` or, with ``upper_inclusive=False``, ``[t0,
      t1)``. They go through ``push_time_filter``, so a store carrying
      the raw ``_ts_ns`` scan column is filtered on that integer and the
      bounds reach parquet row-group statistics (X2);
    - when BOTH bounds exist and the frame has a ``period`` column, the
      covered local-date day keys as an IN-list (an open-ended bound
      cannot enumerate days): the reference's day fan-out
      (hdbpp.py:303-321) as a partition-PRUNING predicate."""
    if att_conf_ids is not None:
        df = df.where(F.col("att_conf_id").isin([int(i) for i in att_conf_ids]))
    df = push_time_filter(df, t0, t1, upper_inclusive=upper_inclusive)
    if t0 is not None and t1 is not None and "period" in df.columns:
        last = t1 if upper_inclusive else t1 - timedelta(microseconds=1)
        df = df.where(F.col("period").isin(day_partitions(t0, max(t0, last), zone)))
    return df


def read_datapoints_bucketed(
    spark,
    table: str,
    att_conf_ids: list[int] | None = None,
    t0: datetime | None = None,
    t1: datetime | None = None,
    zone: str = DEFAULT_PERIOD_ZONE,
) -> DataFrame:
    """Pruned scan of the bucketed table (see ``read_datapoints`` for the
    predicate semantics; bucket pruning additionally skips non-matching
    ``att_conf_id`` bucket files before any IO)."""
    return prune_window(spark.table(table), att_conf_ids, t0, t1, zone)


def read_datapoints(
    spark,
    path: str,
    att_conf_ids: list[int] | None = None,
    t0: datetime | None = None,
    t1: datetime | None = None,
    zone: str = DEFAULT_PERIOD_ZONE,
) -> DataFrame:
    """Partition-pruned, predicate-pushed scan of the datapoint store.

    The ``period IN (...)`` predicate prunes day directories statically
    (X1); ``ts`` bounds push down to parquet row groups (X2); attribute
    filtering rides the row-group sort (S1).
    """
    return prune_window(spark.read.parquet(path), att_conf_ids, t0, t1, zone)
