"""Attribute-name expression helpers.

The reference builds a 5-part attribute name ``cs/domain/family/member/name``
with string formatting (reference server.py:83-84) and splits it back with
``rsplit("/", 4)`` (reference hdbpp.py:90-92). Both are plain column
expressions here - never a UDF. Lookups lower-case the name first
(reference data.py:92); the engine does that driver-side, against the
catalog snapshot (``api.lifecycle._split_attr``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def attr_full_name(*parts: Column | str) -> Column:
    """Join name parts with '/' (reference server.py:83-84)."""
    cols = [F.col(p) if isinstance(p, str) else p for p in parts]
    return F.concat_ws("/", *cols)


#: Right-anchored split: everything before the LAST four separators is the
#: control system (reference hdbpp.py:90-92 ``attr.rsplit("/", 4)``) -
#: real Tango cs names contain slashes (``tango://host:10000``), so a
#: left-anchored first-separator split misassigns them.
_RSPLIT4_CS = r"^(.*)/[^/]*/[^/]*/[^/]*/[^/]*$"
_RSPLIT4_ATTR = r"([^/]*/[^/]*/[^/]*/[^/]*)$"


def attr_control_system(full_name: Column | str) -> Column:
    """Everything before the last four '/' separators (reference
    hdbpp.py:90-92 ``rsplit("/", 4)``). Names with fewer than four
    separators yield '' (the reference raises ValueError there; the
    column form degrades to an empty string instead - documented
    divergence, an invalid attribute name routes nowhere either way)."""
    c = F.col(full_name) if isinstance(full_name, str) else full_name
    return F.regexp_extract(c, _RSPLIT4_CS, 1)


def attr_without_cs(full_name: Column | str) -> Column:
    """The trailing 'domain/family/member/name' 4-segment attribute name
    (the other half of reference hdbpp.py:90-92's rsplit)."""
    c = F.col(full_name) if isinstance(full_name, str) else full_name
    return F.regexp_extract(c, _RSPLIT4_ATTR, 1)
