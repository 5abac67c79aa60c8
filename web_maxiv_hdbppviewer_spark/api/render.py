"""Result renderers for the /query lifecycle (SURVEY K1/K2).

Byte-compatible with the reference's renderers:
  - CSV (reference data.py:50-55): per-attribute blocks
    "<name>\\n t[us],value_r\\n ..." joined with newlines.
  - Grafana JSON (reference data.py:58-75): [{"target": name,
    "datapoints": [[value, t_ms], ...]}] with NaN -> null.

Both take the single-plan /query frame (``HdbppQueryEngine.query_raw_df``:
name, t, value_r) and collect it ONCE for every attribute - the only place
/query data reaches the driver. The t/value assembly itself happens
engine-side as columns.
"""

from __future__ import annotations

import json
import math

from pyspark.sql import DataFrame


def _cell(v) -> str:
    return "" if v is None or (isinstance(v, float) and math.isnan(v)) else repr(v)


def _split_combined(
    combined: DataFrame, names: list[str], cols: tuple[str, ...]
) -> dict[str, list]:
    """ONE collect of the combined frame's (name, *cols) -> per-name rows
    of ``cols`` in requested order (names absent from the result get empty
    series)."""
    by_name: dict[str, list] = {n: [] for n in names}
    for name, *vals in combined.select("name", *cols).collect():
        by_name.setdefault(name, []).append(vals)
    return by_name


def render_csv_combined(combined: DataFrame, names: list[str]) -> bytes:
    """Per-attribute CSV blocks, header 't[us],value_r' (data.py:50-55).

    A frame carrying the ``value_w`` sidecar (rw attributes,
    DATAPOINTS_SCHEMA) gets a third column 'value_w' - the write-value
    surface the reference lists as missing (server.py:21)."""
    rw = "value_w" in combined.columns
    cols = ("t", "value_r", "value_w") if rw else ("t", "value_r")
    header = ",".join(("t[us]",) + cols[1:])
    blocks = []
    for name, rows in _split_combined(combined, names, cols).items():
        lines = [name, header]
        if rw:
            lines += [f"{t},{_cell(v)},{_cell(w)}" for t, v, w in rows]
        else:
            lines += [f"{t},{_cell(v)}" for t, v in rows]
        blocks.append("\n".join(lines) + "\n")
    return "\n".join(blocks).encode()


def render_grafana_json_combined(combined: DataFrame, names: list[str]) -> bytes:
    """Grafana datasource format with ms float timestamps (data.py:58-75)."""
    out = []
    for name, rows in _split_combined(combined, names, ("t", "value_r")).items():
        points = []
        for t, v in rows:
            if v is not None and isinstance(v, float) and math.isnan(v):
                v = None
            points.append([v, t / 1000.0])
        out.append({"target": name, "datapoints": points})
    return json.dumps(out).encode()
