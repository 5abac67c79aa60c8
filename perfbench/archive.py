"""The benchmark's archive and its independent reference answers.

``write_archive`` writes a seeded events table with the shape of the sf0.1
testdata in the directory layout the engine's fixture loader reads. The
column types and distributions are those of the sf0.1 ``events.parquet``:
100,000 rows sorted by ``ts``, which is uniform over 2024-01-01 to
2024-01-30 and stored as parquet TIMESTAMP(MICROS, isAdjustedToUTC=false);
``user_id`` uniform over 1,500 attributes; five event types of equal weight
(so about a fifth of the rows are errors); ``value`` exponential with mean
50, rounded to 2 decimals; ``props`` ``{"k": n}`` with n uniform 0..99.
The fixture loader opens every testdata table, so the tables the viewer
never reads are written as empty one-column stand-ins.

``Reference`` answers every request from a pyarrow read of the same file,
without Spark, and ``Reference.check_*`` compare a response with it. They
run outside the timed region.
"""

from __future__ import annotations

import base64
import csv
import fnmatch
import io
import json
import math
from datetime import datetime
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from web_maxiv_hdbppviewer_spark.api.png import decode_png_rgba

ROWS = 100_000
ATTRIBUTES = 1_500
FIRST_DAY = datetime(2024, 1, 1)
DAYS = 30
CS = "cs1"
EVENT_TYPES = np.array(["error", "view", "signup", "purchase", "click"])
#: tables the fixture loader opens besides ``events``
OTHER_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "documents", "embeddings",
)
_EPOCH = datetime(1970, 1, 1)


def epoch_us(t: datetime) -> int:
    """Naive-UTC datetime -> integer microseconds since the epoch."""
    d = t - _EPOCH
    return (d.days * 86_400 + d.seconds) * 1_000_000 + d.microseconds


def att_name(uid: int) -> str:
    """The fixture's name for attribute ``uid``, without the control system."""
    return f"dom{uid % 5}/fam{uid % 10}/mem{uid % 3}/attr{uid}"


def full_name(uid: int) -> str:
    return f"{CS}/{att_name(uid)}"


def write_archive(directory: Path, seed: int) -> None:
    """Write the seeded events table and the empty stand-in tables."""
    rng = np.random.default_rng(seed)
    start = epoch_us(FIRST_DAY)
    ts = np.sort(rng.integers(start, start + DAYS * 86_400_000_000, ROWS))
    events = pa.table({
        "event_id": np.arange(ROWS, dtype=np.int64),
        # naive microseconds, the testdata's parquet type: Spark reads it
        # as TIMESTAMP_NTZ, as it reads the testdata file
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": rng.integers(0, ATTRIBUTES, ROWS).astype(np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), ROWS)],
        "value": np.round(rng.exponential(50.0, ROWS), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ROWS)]),
    })
    directory.mkdir(parents=True)
    pq.write_table(events, directory / "events.parquet")
    empty = pa.table({"k": pa.array([], pa.int32())})
    for name in OTHER_TABLES:
        pq.write_table(empty, directory / f"{name}.parquet")


class WrongResponse(Exception):
    """A response that differs from the reference answer."""


def _expect(ok: bool, what: str) -> None:
    if not ok:
        raise WrongResponse(what)


class Reference:
    """Per-attribute sorted columns of the archive, read with pyarrow."""

    def __init__(self, directory: Path):
        t = pq.read_table(directory / "events.parquet")
        uid = t["user_id"].to_numpy()
        ts = t["ts"].cast(pa.int64()).to_numpy()
        order = np.lexsort((ts, uid))
        self.uid = uid[order]
        self.ts = ts[order]
        self.value = t["value"].to_numpy()[order]
        self.error = (t["event_type"].to_numpy(zero_copy_only=False) == "error")[order]
        bounds = np.searchsorted(self.uid, np.arange(ATTRIBUTES + 1))
        self._slice = {u: slice(bounds[u], bounds[u + 1]) for u in range(ATTRIBUTES)}
        self.names = sorted(att_name(u) for u in range(ATTRIBUTES) if bounds[u] < bounds[u + 1])

    # --- reference answers -------------------------------------------------

    def rows(self, name: str, t0: datetime, t1: datetime, upper_inclusive: bool) -> slice:
        """Index range of attribute ``name``'s rows in [t0, t1) or [t0, t1]."""
        s = self._slice[int(name.rsplit("attr", 1)[1])]
        ts = self.ts[s]
        lo = np.searchsorted(ts, epoch_us(t0), "left")
        hi = np.searchsorted(ts, epoch_us(t1), "right" if upper_inclusive else "left")
        return slice(s.start + lo, s.start + hi)

    def search(self, pattern: str, cap: int) -> list[str]:
        pat = pattern.upper()
        return [n for n in self.names if fnmatch.fnmatchcase(n.upper(), pat)][:cap]

    # --- response checks -----------------------------------------------------

    def check(self, req: dict, resp) -> None:
        """Raise WrongResponse unless ``resp`` answers ``req`` correctly."""
        if req["kind"] == "search":
            self.check_search(resp, req["pattern"], req["cap"])
        elif req["kind"] == "image":
            self.check_image(resp, req)
        else:
            self.check_query(resp, req)

    def check_search(self, rows, pattern: str, cap: int) -> None:
        got = [r["name"] for r in rows]
        _expect(len(got) <= cap, f"search returned {len(got)} names, cap {cap}")
        _expect(
            all(fnmatch.fnmatchcase(n.upper(), pattern.upper()) for n in got),
            f"search {pattern!r} returned a name that does not match",
        )
        _expect(got == self.search(pattern, cap), f"search {pattern!r} differs from the reference")

    def check_image(self, resp: dict, req: dict) -> None:
        w, h = req["size"]
        t0, t1 = req["t0"], req["t1"]
        log_axes = {int(a) for a, cfg in req["axes"].items() if cfg.get("scale") == "log"}
        descs = resp["descs"]
        expected_descs = set()
        for axis in {spec["y_axis"] for spec in req["attributes"]}:
            visible = False
            for spec in req["attributes"]:
                if spec["y_axis"] != axis:
                    continue
                name = spec["name"]
                r = self.rows(name, t0, t1, upper_inclusive=False)
                n = r.stop - r.start
                if n == 0:
                    continue
                expected_descs.add(name)
                d = descs.get(name)
                _expect(d is not None, f"/image has no descs for {name}")
                _expect(d["total_points"] == n, f"/image {name}: {d['total_points']} points, reference {n}")
                valid = self.value[r][~self.error[r]]
                if axis in log_axes:
                    valid = valid[valid > 0]
                vmin, vmax = (float(valid.min()), float(valid.max())) if len(valid) else (None, None)
                _expect(
                    (d["min_value"], d["max_value"]) == (vmin, vmax),
                    f"/image {name}: extrema {d['min_value']},{d['max_value']}, reference {vmin},{vmax}",
                )
                visible = visible or len(valid) > 0
            img = resp["images"].get(axis)
            _expect(img is not None, f"/image has no image for axis {axis}")
            rgba = decode_png_rgba(base64.b64decode(img["image"]))
            _expect(rgba.shape == (h, w, 4), f"/image axis {axis}: PNG is {rgba.shape}, asked {w}x{h}")
            _expect(
                not visible or bool(rgba[..., 3].any()),
                f"/image axis {axis}: blank PNG although the window holds data",
            )
        _expect(set(descs) == expected_descs, "/image descs name a series without points")

    def check_query(self, body: bytes, req: dict) -> None:
        """CSV or Grafana JSON ``/query`` body against the reference rows."""
        names, t0, t1, interval = req["names"], req["t0"], req["t1"], req["interval"]
        if req["format"] == "csv":
            blocks = body.decode().rstrip("\n").split("\n\n")
            got = []
            for block in blocks:
                lines = block.split("\n")
                _expect(lines[1] == "t[us],value_r", f"/query CSV block header {lines[1]!r}")
                got.append((lines[0], list(csv.reader(io.StringIO("\n".join(lines[2:]))))))
        else:
            got = [
                (s["target"], [[t_ms, v] for v, t_ms in s["datapoints"]])
                for s in json.loads(body)
            ]
        _expect([n for n, _ in got] == names, "/query blocks are not in request order")
        for name, points in got:
            r = self.rows(name, t0, t1, upper_inclusive=True)
            if interval is None:
                _expect(len(points) == r.stop - r.start, f"/query {name}: {len(points)} rows, reference {r.stop - r.start}")
                ref = sorted(
                    (int(t), "" if e else repr(float(v)))
                    for t, v, e in zip(self.ts[r], self.value[r], self.error[r])
                )
                _expect(sorted((int(t), v) for t, v in points) == ref, f"/query {name}: rows differ from the reference")
            else:
                width = interval_us(interval)
                buckets = len(np.unique(np.round(self.ts[r] / width)))
                bound = math.ceil((epoch_us(t1) - epoch_us(t0)) / width) + 1
                _expect(
                    len(points) == buckets <= bound,
                    f"/query {name}: {len(points)} buckets, reference {buckets}, bound {bound}",
                )


def interval_us(interval: str) -> int:
    """'10m' / '1h' -> microseconds (the two intervals the traffic uses)."""
    units = {"m": 60_000_000, "h": 3_600_000_000}
    return int(interval[:-1]) * units[interval[-1]]
