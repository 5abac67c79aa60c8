"""The HDB++ catalog: search over its driver-side snapshot.

``HdbppCatalog.search`` matches the snapshot's sorted full-name list the
way the reference's server does (server.py:78-86): an upper-cased
``fnmatch`` glob that must match the whole name, sorted, then capped.
"""

from __future__ import annotations

import fnmatch
import random

import pytest

from web_maxiv_hdbppviewer_spark.api.lifecycle import HdbppQueryEngine
from web_maxiv_hdbppviewer_spark.sources.cassandra import cassandra_catalog
from web_maxiv_hdbppviewer_spark.sources.hdbpp import HdbppCatalog

#: name characters: mixed case, LIKE and regex metacharacters, a glob
#: class opener and non-ASCII letters (one, 'ß', upper-cases to two)
ALPHABET = "aAbBzZ09%_\\[].!-éÉßΩω"

CONF_SCHEMA = "cs_name string, att_name string, att_conf_id long, data_type string"
NAMES_SCHEMA = "cs_name string, domain string, family string, member string, name string"


def _catalog(spark, cs_parts: list[tuple[str, ...]]) -> HdbppCatalog:
    """A catalog of (cs, domain, family, member, name) rows."""
    att_conf = spark.createDataFrame(
        [(cs, "/".join(p), i, "scalar_devdouble_ro")
         for i, (cs, *p) in enumerate(cs_parts)],
        CONF_SCHEMA,
    )
    return HdbppCatalog(att_conf, spark.createDataFrame(cs_parts, NAMES_SCHEMA))


def _glob_of(name: str, rng: random.Random) -> str:
    """A glob derived from ``name`` (so it usually matches): characters
    become ``?``, runs become ``*``, ``[seq]`` or ``[!seq]`` classes, and
    letters change case; some globs are mutated so they do not match."""
    out, i = [], 0
    while i < len(name):
        c, roll = name[i], rng.random()
        if roll < 0.1:
            out.append("?")
        elif roll < 0.2:
            out.append("*")
            i += rng.randint(0, 3)
        elif roll < 0.3 and c not in "[]!\\":
            out.append("[" + c + rng.choice("aZ9é") + "]")
        elif roll < 0.35 and c not in "[]!\\":
            out.append("[!" + rng.choice("aZ9é").replace(c, "") + "q]")
        elif roll < 0.45:
            out.append(c.swapcase())
        else:
            out.append(c)
        i += 1
    if rng.random() < 0.2:
        out.insert(rng.randrange(len(out) + 1), rng.choice(ALPHABET))
    return "".join(out)


def test_search_equals_the_reference_glob_rule(spark):
    """On generated names with metacharacters and non-ASCII text, search
    returns exactly the rule the benchmark's reference checks
    (perfbench/archive.py): fnmatchcase on upper-cased name and pattern,
    over the control system's names, sorted, then capped."""
    rng = random.Random(20261018)
    rows = [
        (rng.choice(["cs1", "tango://host:10000"]),
         *("".join(rng.choice(ALPHABET) for _ in range(rng.randint(1, 4)))
           for _ in range(4)))
        for _ in range(300)
    ]
    catalog = _catalog(spark, rows)
    names = {cs: ["/".join(r[1:]) for r in rows if r[0] == cs] for cs in ("cs1", "tango://host:10000")}
    patterns = [_glob_of(rng.choice(names["cs1"]), rng) for _ in range(60)]
    patterns += ["*", "*/*", "?*", "*[!a]", "*ß*", "*SS*", "*\\*", "*[[]*", "*%*", "*_*"]
    matched = 0
    for k, p in enumerate(patterns):
        cs = "tango://host:10000" if k % 5 == 4 else "cs1"
        cap = [None, 0, 1, 3, 100][k % 5]
        hits = sorted(n for n in names[cs] if fnmatch.fnmatchcase(n.upper(), p.upper()))
        got = [r["name"] for r in catalog.search(cs, p, cap).collect()]
        assert got == (hits if cap is None else hits[:cap]), (cs, p, cap)
        matched += bool(hits)
    assert matched >= len(patterns) // 3, matched  # not vacuous: many globs hit
    for term in ("%", "_", "\\", "[", ".", "É", "ss"):
        want = sorted(n for n in names["cs1"] if term.upper() in n.upper())
        got = [r["name"] for r in catalog.search("cs1", term, None, contains=True).collect()]
        assert got == want and got, term


def test_negative_search_cap_raises(spark):
    """A negative cap is refused, not sliced: ``names[:-1]`` would
    silently drop the last match."""
    catalog = _catalog(spark, [("cs1", "d", "f", "m", f"a{i}") for i in range(3)])
    assert catalog.search("cs1", "*", 0).count() == 0
    for cap in (-1, "-2"):
        with pytest.raises(ValueError, match="cap"):
            catalog.search("cs1", "*", cap)


def test_cassandra_catalog_over_injected_tables(spark):
    """The deployment's catalog constructor, with the connector readers
    replaced by frames: it resolves (right-anchored split of a slashed
    Tango cs, case-insensitive), searches and lists control systems."""
    cs = "tango://db:10000"
    att_conf = spark.createDataFrame(
        [(cs, "sys/tg/1/volt", 7, "scalar_devdouble_ro"),
         (cs, "sys/tg/2/curr", 8, "scalar_devdouble_ro"),
         ("cs1", "dom0/fam0/mem0/attr0", 1, "scalar_devdouble_ro")],
        CONF_SCHEMA,
    )
    att_names = spark.createDataFrame(
        [(cs, "sys", "tg", "1", "volt"), (cs, "sys", "tg", "2", "curr"),
         ("cs1", "dom0", "fam0", "mem0", "attr0")],
        NAMES_SCHEMA,
    )
    catalog = cassandra_catalog(spark, "hdb", att_conf=att_conf, att_names=att_names)
    engine = HdbppQueryEngine(catalog, spark.range(0))
    assert engine._resolve([f"{cs}/SYS/tg/1/volt", f"{cs}/sys/tg/9/none"]) == {
        f"{cs}/SYS/tg/1/volt": 7
    }
    assert [r["name"] for r in engine.search(cs, "sys/TG/*").collect()] == [
        "sys/tg/1/volt", "sys/tg/2/curr"
    ]
    assert [r["cs_name"] for r in engine.controlsystems().collect()] == ["cs1", cs]
