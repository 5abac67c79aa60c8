"""Seeded viewer traffic: the requests each workload sends.

A request is a plain dict; ``kind`` is ``search``, ``image`` or ``query``.
Unit ``i`` of a run is drawn from ``numpy.random.default_rng([seed, i])``, so
a seed fixes every request whatever the run's length. Warm-up units are drawn
from a separate stream and never repeat a measured unit.

``session``: the viewer's pan-and-zoom session (reference constants: two
axes, 800x400 canvas). One unit is five requests: a glob search, an /image of
4 of the found attributes over 24 h, a pan by half a window, a 4x zoom, and a
/query of the panned day at a 10 min resample rendered to CSV. The second
axis is log-scaled in alternate sessions.

``wide``: one unit is an /image of 32 attributes on two axes over all 30
days, so pixel work outweighs the fixed per-request cost, then a bulk export
/query of 300 attributes over all 30 days, which never rasterises: raw rows
rendered to CSV in even units, a 1 h resample rendered to Grafana JSON in
odd ones.
"""

from __future__ import annotations

from datetime import timedelta

import numpy as np

from archive import ATTRIBUTES, CS, DAYS, FIRST_DAY, full_name

SIZE = (800, 400)
SEARCH_CAP = 100
_WARMUP_STREAM = 1 << 30


def _session(rng: np.random.Generator, reference, log_axis: bool) -> list[dict]:
    fam, mem = int(rng.integers(10)), int(rng.integers(3))
    pattern = f"dom{fam % 5}/fam{fam}/mem{mem}/*"
    found = reference.search(pattern, SEARCH_CAP)
    names = [f"{CS}/{n}" for n in rng.choice(found, 4, replace=False)]
    attributes = [{"name": n, "y_axis": k % 2} for k, n in enumerate(names)]
    axes = {"1": {"scale": "log"}} if log_axis else {}
    day = FIRST_DAY + timedelta(days=int(rng.integers(DAYS - 1)))
    hour = timedelta(hours=1)

    def image(t0, t1):
        return {"kind": "image", "attributes": attributes, "t0": t0, "t1": t1,
                "size": SIZE, "axes": axes}

    return [
        {"kind": "search", "pattern": pattern, "cap": SEARCH_CAP},
        image(day, day + 24 * hour),
        image(day + 12 * hour, day + 36 * hour),
        image(day + 21 * hour, day + 27 * hour),
        {"kind": "query", "names": names, "t0": day + 12 * hour,
         "t1": day + 36 * hour, "interval": "10m", "format": "csv"},
    ]


def _wide(rng: np.random.Generator, grafana: bool) -> list[dict]:
    t0, t1 = FIRST_DAY, FIRST_DAY + timedelta(days=DAYS)
    uids = rng.choice(ATTRIBUTES, 32, replace=False)
    exported = rng.choice(ATTRIBUTES, 300, replace=False)
    return [
        {"kind": "image",
         "attributes": [{"name": full_name(int(u)), "y_axis": k % 2} for k, u in enumerate(uids)],
         "t0": t0, "t1": t1, "size": SIZE, "axes": {}},
        {"kind": "query", "names": [full_name(int(u)) for u in exported], "t0": t0, "t1": t1,
         "interval": "1h" if grafana else None, "format": "grafana" if grafana else "csv"},
    ]


def unit(workload: str, seed: int, i: int, reference) -> list[dict]:
    """The requests of unit ``i`` (negative ``i``: warm-up unit ``-i - 1``)."""
    stream = i if i >= 0 else _WARMUP_STREAM - i
    rng = np.random.default_rng([seed, stream])
    if workload == "session":
        return _session(rng, reference, log_axis=i % 2 == 1)
    return _wide(rng, grafana=i % 2 == 1)


def warmup(workload: str, seed: int, k: int, reference) -> list[dict]:
    """One request of each kind and /query format the workload sends (from
    two warm-up units, as ``wide`` alternates formats), for set-up ``k``."""
    seen: dict[tuple, dict] = {}
    for j in (2 * k, 2 * k + 1):
        for r in unit(workload, seed, -j - 1, reference):
            seen.setdefault((r["kind"], r.get("format")), r)
    return list(seen.values())


WORKLOADS = ("session", "wide")
