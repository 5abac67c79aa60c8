"""Round-14 constructed tests.

1. Streaming-raster right-edge fold (ADVICE r13): a consumer whose canvas
   right edge equals x0+span must fold streamed column nx into nx-1 like
   batch bin_2d's inclusive upper-edge snap - snap_streamed_edge_rows,
   unit + constructed-edge-corpus streaming twin.
2. _canvas_time_clip integral-span guard (ADVICE r13): the clip and the
   float bin math can never disagree on the right edge.
3. Constructed divergences on still-uncovered cited reference behaviors
   (VERDICT r13 #6): the Grafana /search ``.*term.*`` wrap vs the
   engine's contains=True (byte-for-byte name list on literal terms, the
   regex-metacharacter divergence pinned), the ``max`` query-param
   string coercion (reference server.py:77 parses-but-never-applies; the
   engine coerces AND enforces), and the CSV byte shape for an rw frame
   with NULL value_w cells against a pandas ``to_csv`` twin (the
   reference's own CSV mechanism, data.py:50-55).
4. Cassandra connector predicate snapshot (VERDICT r13 #8): the
   generated partition-key IN-list + clustering range, pinned in the
   optimized plan so X1 day-splitting parity holds without a cluster.
"""

import re
from datetime import datetime

import pytest

from tests.conftest import SF_SMOKE


# --- 1. streaming right-edge fold -----------------------------------------


def test_snap_streamed_edge_rows_unit():
    from web_maxiv_hdbppviewer_spark.api.png import snap_streamed_edge_rows

    w = 10
    rows = [
        {"series": 0, "xb": 3, "yb": 5, "cnt": 2},      # interior: untouched
        {"series": 0, "xb": 9, "yb": 7, "cnt": 4},      # last col, has edge twin
        {"series": 0, "xb": 10, "yb": 7, "cnt": 1},     # edge: folds into above
        {"series": 1, "xb": 10, "yb": 2, "cnt": 3},     # edge-only: still renders
        {"series": 0, "xb": 12, "yb": 1, "cnt": 5},     # beyond w: moved canvas,
    ]                                                   # left for compose crop
    got = sorted(
        snap_streamed_edge_rows(rows, w),
        key=lambda r: (r["series"], r["xb"], r["yb"]),
    )
    assert got == [
        {"series": 0, "xb": 3, "yb": 5, "cnt": 2},
        {"series": 0, "xb": 9, "yb": 7, "cnt": 5},
        {"series": 0, "xb": 12, "yb": 1, "cnt": 5},
        {"series": 1, "xb": 9, "yb": 2, "cnt": 3},
    ]
    # input rows are not mutated
    assert rows[1]["cnt"] == 4


def test_streamed_edge_event_folds_like_batch(spark, tmp_path):
    """Constructed edge-exact corpus through the REAL streaming raster:
    an event bitwise on the canvas right edge opens column nx in the
    stream (documented); after snap_streamed_edge_rows the composed
    image equals batch bin_2d -> compose_image on the same rows. Red
    without the fold: compose crops column nx and the edge event's
    pixel vanishes from the streamed image."""
    import numpy as np

    from web_maxiv_hdbppviewer_spark.api.png import (
        compose_image,
        snap_streamed_edge_rows,
    )
    from web_maxiv_hdbppviewer_spark.operators.raster import bin_2d
    from web_maxiv_hdbppviewer_spark.streaming.incremental import (
        streaming_raster_windowed,
    )

    w, h = 10, 8
    x0 = datetime(2024, 1, 1)
    x0_us = int((x0 - datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    span_us = 10_000_000.0  # 10 s -> 1 s columns
    y0, y1 = 0.0, 8.0
    rows = [
        (0, datetime(2024, 1, 1, 0, 0, 0, 500_000), 1.0),   # col 0
        (0, datetime(2024, 1, 1, 0, 0, 5, 500_000), 3.0),   # col 5
        (0, datetime(2024, 1, 1, 0, 0, 9, 500_000), 6.0),   # col 9
        (0, datetime(2024, 1, 1, 0, 0, 10), 7.0),           # EDGE: t == x0+span
        # a LATER out-of-canvas event (the live-stream reality the
        # unclipped x exists for): advances the watermark past the edge
        # column's window end so the stream actually emits it - exactly
        # the situation where the pre-fold consumer loses the edge pixel
        (0, datetime(2024, 1, 1, 0, 0, 12, 500_000), 1.0),  # col 12
    ]
    df = spark.createDataFrame(
        rows, "att_conf_id long, ts timestamp, value double"
    )
    src = str(tmp_path / "edge_events")
    df.write.parquet(src)

    batch_rows = [
        {"series": r["att_conf_id"], "xb": r["xb"], "yb": r["yb"], "cnt": r["cnt"]}
        for r in bin_2d(
            spark.read.parquet(src), x0_us, span_us, w, y0, y1, h,
            keys=["att_conf_id"],
        ).collect()
    ]
    assert any(r["xb"] == w - 1 for r in batch_rows), "edge event not snapped"

    feed = spark.readStream.schema(df.schema).parquet(src)
    sink = "r14_edge_fold"
    q = (
        streaming_raster_windowed(
            feed, x0_us, span_us, w, y0, y1, h,
            late_threshold="0 seconds", keys=["att_conf_id"],
        )
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(120)
    finally:
        q.stop()
    streamed = [
        {"series": r["att_conf_id"], "xb": r["xb"], "yb": r["yb"], "cnt": r["cnt"]}
        for r in spark.table(sink).collect()
    ]
    # the documented divergence is present pre-fold...
    assert any(r["xb"] == w for r in streamed)
    # ...and the fold restores batch pixel equality through compose
    folded = snap_streamed_edge_rows(streamed, w)

    def final(rs):
        # only columns the stream finalized (watermark = max synthetic
        # ts - 0s; with the edge event in col 9 every earlier column is
        # final; col 9 itself finalizes because the edge opens col 10)
        emitted = {r["xb"] for r in folded}
        return [r for r in rs if r["xb"] in emitted]

    img_stream = compose_image(folded, w, h, order=[0])
    img_batch = compose_image(final(batch_rows), w, h, order=[0])
    assert np.array_equal(img_stream, img_batch)
    # red-test core: WITHOUT the fold the edge pixel is cropped away
    img_unfolded = compose_image(streamed, w, h, order=[0])
    assert not np.array_equal(img_unfolded, img_batch)


def test_canvas_clip_rejects_nonintegral_span(spark):
    """ADVICE r13: a non-integral span could let the µs-floored clip and
    the float bin math disagree about the right edge - now impossible by
    assertion rather than by the µs-precision argument."""
    from web_maxiv_hdbppviewer_spark.operators.raster import bin_2d

    df = spark.createDataFrame(
        [(datetime(2024, 1, 1), 1.0)], "ts timestamp, value double"
    )
    with pytest.raises(AssertionError, match="integral"):
        bin_2d(df, 0, 10.5, 4, 0.0, 2.0, 4)
    # integral float spans pass (the /image span is always an exact µs diff)
    bin_2d(df, 0, 10.0, 4, 0.0, 2.0, 4)


# --- 3. constructed reference divergences (VERDICT r13 #6) -----------------


NAMES = [
    ("cs1", "dom0", "fam0", "mem0", "attr0"),
    ("cs1", "dom0", "fam1", "mem0", "temp"),
    ("cs1", "dom1", "fam0", "mem1", "aXc"),   # hit for regex 'a.c', miss for literal
    ("cs1", "dom1", "fam2", "mem0", "a.c"),   # hit for both
    ("cs1", "sys", "tg", "1", "volt"),
]


def _catalog(spark):
    from web_maxiv_hdbppviewer_spark.sources.hdbpp import HdbppCatalog

    att_conf = spark.createDataFrame(
        [
            (cs, "/".join((d, f, m, n)), i + 1, "scalar_devdouble_ro")
            for i, (cs, d, f, m, n) in enumerate(NAMES)
        ],
        "cs_name string, att_name string, att_conf_id long, data_type string",
    )
    att_names = spark.createDataFrame(
        list(NAMES),
        "cs_name string, domain string, family string, member string, name string",
    )
    return HdbppCatalog(att_conf, att_names)


def _reference_grafana_search(term: str) -> list[str]:
    """The reference's /search matching verbatim (server.py:196-207):
    sorted full names, re.match against the UNESCAPED '.*term.*' wrap,
    case-insensitive."""
    attributes = sorted("%s/%s/%s/%s" % t[1:] for t in NAMES)
    regex = ".*{}.*".format(term)
    return [a for a in attributes if re.match(regex, a, re.IGNORECASE)]


def test_grafana_search_wrap_byte_parity_on_literal_terms(spark):
    """For terms without regex metacharacters the engine's contains=True
    name list is byte-for-byte the reference's '.*term.*' match list
    (ordering included: both sort the full names)."""
    catalog = _catalog(spark)
    for term in ("fam0", "TEMP", "attr", "mem0/", "zzz"):
        got = [r["name"] for r in catalog.search("cs1", term, contains=True).collect()]
        assert got == _reference_grafana_search(term), term


def test_grafana_search_metacharacter_divergence_pinned(spark):
    """Documented divergence (sources/hdbpp.match_names): the reference
    splices the term into the regex UNESCAPED, so 'a.c' also matches
    'aXc'; the engine treats the term as a literal substring. Pin both
    sides so the divergence stays deliberate."""
    catalog = _catalog(spark)
    ref = _reference_grafana_search("a.c")
    assert ref == ["dom1/fam0/mem1/aXc", "dom1/fam2/mem0/a.c"]  # regex superset
    got = [r["name"] for r in catalog.search("cs1", "a.c", contains=True).collect()]
    assert got == ["dom1/fam2/mem0/a.c"]  # literal subset, deliberate


def test_search_max_param_string_coercion(spark):
    """Reference server.py:77 reads max from the query string (str when
    present, int 100 default) and never applies it; the engine coerces
    the same string shape AND enforces the cap (declared hardening,
    SURVEY F2/O5). Non-numeric strings raise instead of scanning
    uncapped."""
    catalog = _catalog(spark)
    got = [r["name"] for r in catalog.search("cs1", "*", max_n="2").collect()]
    assert got == sorted("%s/%s/%s/%s" % t[1:] for t in NAMES)[:2]
    # int path unchanged
    assert catalog.search("cs1", "*", max_n=3).count() == 3
    with pytest.raises(ValueError):
        catalog.search("cs1", "*", max_n="lots")


def test_csv_rw_null_value_w_bytes_match_pandas_twin(spark):
    """CSV byte shape for an rw frame with NULL value_w cells: the
    engine's renderer must agree byte-for-byte with the reference's own
    CSV mechanism (pandas to_csv, data.py:50-55) extended with the
    value_w column the reference lists as missing (server.py:21) - NULL
    write cells become EMPTY csv cells, floats print via repr like
    pandas' default float_format=None shortest-repr."""
    import pandas as pd

    from web_maxiv_hdbppviewer_spark.api.render import render_csv_combined

    name = "cs1/dom0/fam0/mem0/attr0"
    rows = [
        (1_700_000_000_000_000, 1.5, 2.25),
        (1_700_000_001_000_000, -0.125, None),   # NULL value_w -> empty cell
        (1_700_000_002_000_000, None, 3.0),      # NULL value_r too
    ]
    df = spark.createDataFrame(
        [(name, *r) for r in rows],
        "name string, t long, value_r double, value_w double",
    )
    got = render_csv_combined(df, [name])

    pdf = pd.DataFrame(rows, columns=["t", "value_r", "value_w"])
    want = "{}\n{}".format(
        name,
        pdf.to_csv(
            columns=["t", "value_r", "value_w"], index=False, sep=",",
            header=["t[us]", "value_r", "value_w"],
        ),
    ).encode()
    assert got == want


def test_snap_streamed_edge_rows_properties():
    """Randomized invariants of the edge fold: (a) total cnt per
    (series, yb) over columns {w-1, w} is conserved, (b) no output row
    has xb == w, (c) rows with xb not in {w-1, w} pass through
    unchanged, (d) idempotence (a second fold is a no-op), (e) inputs
    never mutated."""
    import copy
    import random

    from web_maxiv_hdbppviewer_spark.api.png import snap_streamed_edge_rows

    rng = random.Random(1404)
    w, h = 12, 6
    for _ in range(200):
        rows = [
            {
                "series": rng.randrange(3),
                "xb": rng.choice([0, 3, w - 2, w - 1, w, w + 3]),
                "yb": rng.randrange(h),
                "cnt": rng.randrange(1, 9),
            }
            for _ in range(rng.randrange(0, 25))
        ]
        frozen = copy.deepcopy(rows)
        out = snap_streamed_edge_rows(rows, w)
        assert rows == frozen  # (e)
        assert all(int(r["xb"]) != w for r in out)  # (b)

        def tally(rs, pred):
            agg: dict = {}
            for r in rs:
                if pred(r):
                    key = (r["series"], int(r["yb"]))
                    agg[key] = agg.get(key, 0) + r["cnt"]
            return agg

        assert tally(out, lambda r: int(r["xb"]) == w - 1) == tally(
            rows, lambda r: int(r["xb"]) in (w - 1, w)
        )  # (a)
        passthrough = lambda r: int(r["xb"]) not in (w - 1, w)  # noqa: E731
        assert sorted(
            (r["series"], r["xb"], r["yb"], r["cnt"]) for r in out if passthrough(r)
        ) == sorted(
            (r["series"], r["xb"], r["yb"], r["cnt"]) for r in rows if passthrough(r)
        )  # (c)
        again = snap_streamed_edge_rows(out, w)
        assert sorted(
            (r["series"], r["xb"], r["yb"], r["cnt"]) for r in again
        ) == sorted((r["series"], r["xb"], r["yb"], r["cnt"]) for r in out)  # (d)


# --- r14 new operators: constructed ground truth ---------------------------


def _constructed_corpus(spark, tmp_path, docs=None, emb=None):
    """Write a minimal sf-dir: the given documents/embeddings plus
    zero-row stubs for every other table (extensions._docs/_emb load the
    whole table set through load_tables)."""
    from web_maxiv_hdbppviewer_spark.sources.tables import TESTDATA_TABLES

    for name in TESTDATA_TABLES:
        if name == "documents" and docs is not None:
            docs.write.parquet(str(tmp_path / "documents.parquet"))
        elif name == "embeddings" and emb is not None:
            emb.write.parquet(str(tmp_path / "embeddings.parquet"))
        else:
            spark.read.parquet(f"{SF_SMOKE}/{name}.parquet").limit(0).write.parquet(
                str(tmp_path / f"{name}.parquet")
            )
    return str(tmp_path)


def test_hybrid_rrf_constructed_fusion(spark, tmp_path):
    """Pin the RRF arithmetic and the full-outer semantics on a corpus
    built so every case occurs: a doc in BOTH legs' top-k (scores sum),
    docs in exactly one leg (other contributes 0), and the deterministic
    ordering (rrf desc, doc_id asc). Values computed by hand:
    1/(60+r) with r from each leg's (score desc, id asc) ranking."""
    from web_maxiv_hdbppviewer_spark.plans import extensions

    docs = spark.createDataFrame(
        [
            # doc 1: contains both query terms twice -> lex rank 1
            (1, "query dup query dup filler filler filler filler"),
            # doc 2: one term once -> lex rank 2
            (2, "query filler filler filler filler filler filler filler"),
            # doc 3: no terms -> bm25 0, still ranked (rank 3 by id)
            (3, "filler filler filler filler filler filler filler filler"),
        ],
        "doc_id long, text string",
    )
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0], 0),   # the query vector
            (1, [0.0, 1.0], 1),   # orthogonal -> cos 0, vec rank 3
            (2, [1.0, 0.1], 1),   # nearly parallel -> vec rank 1
            (3, [1.0, 1.0], 1),   # 45 degrees -> vec rank 2
        ],
        "vec_id long, embedding array<float>, label int",
    )
    sf_dir = _constructed_corpus(spark, tmp_path, docs=docs, emb=emb)

    rows = {
        r["doc_id"]: r for r in extensions.sim_hybrid_rrf(spark, sf_dir).collect()
    }
    # lex ranks: 1->1, 2->2, 3->3 ; vec ranks: 2->1, 3->2, 1->3
    def rrf(lex, vec):
        return round(
            (1.0 / (60 + lex) if lex else 0.0) + (1.0 / (60 + vec) if vec else 0.0),
            6,
        )

    assert (rows[1]["lex_rank"], rows[1]["vec_rank"]) == (1, 3)
    assert (rows[2]["lex_rank"], rows[2]["vec_rank"]) == (2, 1)
    assert (rows[3]["lex_rank"], rows[3]["vec_rank"]) == (3, 2)
    for d, (l, v) in {1: (1, 3), 2: (2, 1), 3: (3, 2)}.items():
        assert rows[d]["rrf_r"] == rrf(l, v), d
    # ordering: 1 and 2 tie on rrf (ranks {1,3} vs {2,1} -> same sum?) -
    # no: 1/61+1/63 != 1/62+1/61; verify the emitted order is by score
    ordered = extensions.sim_hybrid_rrf(spark, sf_dir).collect()
    scores = [r["rrf_r"] for r in ordered]
    assert scores == sorted(scores, reverse=True)


def test_hybrid_rrf_empty_corpus_degenerates_to_empty(spark, tmp_path):
    """BM25 is undefined on an empty corpus (bm25_scores short-circuits)
    and the vector leg has no query row: the fused result is EMPTY, not
    an error - the defensive shape of the other driver-bounded ops."""
    from web_maxiv_hdbppviewer_spark.plans import extensions

    sf_dir = _constructed_corpus(
        spark,
        tmp_path,
        docs=spark.createDataFrame([], "doc_id long, text string"),
        emb=spark.createDataFrame([], "vec_id long, embedding array<float>, label int"),
    )
    assert extensions.sim_hybrid_rrf(spark, sf_dir).count() == 0


def test_hard_negatives_constructed_cross_label_only(spark, tmp_path):
    """Every emitted candidate differs in label from its query, the
    nearest SAME-label vector is excluded even when it dominates on
    cosine, and ranks follow (cos desc, id asc)."""
    from web_maxiv_hdbppviewer_spark.plans import extensions

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0], 7),    # query, label 7
            (1, [1.0, 0.001], 7),  # nearest overall but SAME label: excluded
            (2, [1.0, 0.1], 3),    # best cross-label -> rank 1
            (3, [1.0, 0.5], 3),    # -> rank 2
            (4, [0.0, 1.0], 3),    # orthogonal -> rank 3
        ],
        "vec_id long, embedding array<float>, label int",
    )
    sf_dir = _constructed_corpus(spark, tmp_path, emb=emb)
    rows = [
        r
        for r in extensions.sim_hard_negatives(spark, sf_dir).collect()
        if r["q_id"] == 0
    ]
    assert [r["cand_id"] for r in rows] == [2, 3, 4]
    assert all(r["cand_label"] != 7 for r in rows)
    assert [r["rank"] for r in rows] == [1, 2, 3]
    assert 1 not in {r["cand_id"] for r in rows}


# --- rotation policy, machine-checked (VERDICT r13 #7) ---------------------


def test_witness_window_fill_is_oldest_first():
    """The steady-state rotation rule (__spark_entry__.py): after the
    changelist, the window fills with the least-recently-witnessed
    declared queries, alphabetical within an equal-age cohort - recomputed
    here from the committed CORRECTNESS_r*.json ledger, so a hand-edited
    window that skips a stale row fails the suite instead of waiting for
    judge arbitration. Changelist entries are exempt from age order (a
    changed query leads regardless of freshness); legacy artifact names
    no longer declared (renamed queries) are ignored."""
    import glob
    import json
    import os
    import re as _re

    import __spark_entry__ as entry_mod

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    latest: dict[str, int] = {}
    for f in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        rnd = int(_re.search(r"r(\d+)", os.path.basename(f)).group(1))
        for name in json.load(open(f)):
            latest[name] = max(latest.get(name, 0), rnd)

    declared = set(entry_mod.queries())
    changed = list(entry_mod._CHANGED_THIS_ROUND)
    window = list(entry_mod._WINDOW)
    fill = window[len(changed):]

    # expected fill: oldest-first (never-witnessed = age 0 sorts first),
    # alphabetical within a cohort, excluding changelist entries
    candidates = sorted(
        (q for q in declared if q not in set(changed)),
        key=lambda q: (latest.get(q, 0), q),
    )
    assert fill == candidates[: len(fill)], (
        "window fill is not the oldest-first prefix of the ledger;\n"
        f"expected head: {candidates[:len(fill)][:6]}...\n"
        f"got head:      {fill[:6]}..."
    )


# --- 4. Cassandra connector predicate snapshot (VERDICT r13 #8) ------------


def test_cassandra_pushdown_predicate_snapshot(spark):
    """Pin the generated CQL-pushable predicates at the plan level: the
    partition-key IN-lists (att_conf_id, period day fan-out - the
    reference's hand-built per-day statements, hdbpp.py:303-321) and the
    clustering data_time range with its whole-second-widened lower bound.
    ``source`` injection stands in for the connector; the predicates are
    plain Catalyst filters on physical columns, which is exactly what
    DSv2 SupportsPushDownFilters hands the connector."""
    from web_maxiv_hdbppviewer_spark.sources.cassandra import (
        read_cassandra_datapoints,
    )

    source = spark.createDataFrame(
        [],
        "att_conf_id int, period string, data_time timestamp,"
        " data_time_us int, value_r double, quality int, error_desc string",
    )
    out = read_cassandra_datapoints(
        spark,
        "hdb",
        "scalar_devdouble_ro",
        att_conf_ids=[7, 11],
        t0=datetime(2024, 1, 30, 12, 0, 0, 250_000),
        t1=datetime(2024, 2, 2, 6, 30),
        source=source,
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString()

    # X1 day fan-out: exactly the covered local-date keys, as one IN-list
    for day in ("2024-01-30", "2024-01-31", "2024-02-01", "2024-02-02"):
        assert day in plan, (day, plan)
    assert "2024-01-29" not in plan and "2024-02-03" not in plan
    # partition-key id restriction
    assert re.search(r"att_conf_id#\d+L? IN \(7,\s*11\)", plan), plan
    # clustering range on the RAW storage column: lower bound widened to
    # the whole second (12:00:00, not 12:00:00.25) so the exact µs trim
    # never loses edge rows; the .25 may only appear in the DERIVED-ts
    # trim (the reference's client-side data.py:102-108 trim, not pushed)
    assert re.search(r"data_time#\d+ >= 2024-01-30 12:00:00\)", plan), plan
    assert not re.search(r"data_time#\d+ >= 2024-01-30 12:00:00\.25", plan), plan
    assert re.search(r"data_time#\d+ <= 2024-02-02 06:30:00\)", plan), plan
    # and the exact µs trim IS present on the derived ts (both bounds)
    assert "12:00:00.25" in plan, plan


# --- 5. Naive-Bayes classifier: constructed ground truth (NEW r14) ---------
#
# Hand-derived corpus exercising every model path: a token counted under
# BOTH labels ('the': en+fr), a vocab token with a zero count under one
# label (sat/fr -> per-label default), OOV tokens, an EMPTY document
# (prior-only score), and a label NONE of whose tokens survive the
# vocabulary cut (zz: T_zz = 0, still gets a prior and defaults).
# min_count=2 -> vocab {the, sat, le}, V=3; T_en=5, T_fr=4, T_zz=0;
# N_en=3, N_fr=2, N_zz=1, N=6. All literals below are hand-computed
# micro-nats: round(ln(ratio) * 1e6).

_NB_CORPUS = [
    (1, "en", "the cat sat on the mat"),
    (2, "en", "the dog sat"),
    (3, "fr", "le chat le chien"),
    (4, "fr", "le the"),
    (5, "en", ""),
    (6, "zz", "xyz unique tokens only"),
]


def test_nb_model_constructed_ground_truth(spark):
    from web_maxiv_hdbppviewer_spark.operators import nbayes

    df = spark.createDataFrame(_NB_CORPUS, "doc_id long, lang string, text string")
    got = sorted(
        tuple(r) for r in nbayes.nb_model(df, min_count=2).collect()
    )
    # logp_fp = round(ln((c+1)/(T_L+V)) * 1e6):
    #   (le,fr):  ln(4/7)  -> -559616   (sat,en): ln(3/8) -> -980829
    #   (the,en): ln(4/8)  -> -693147   (the,fr): ln(2/7) -> -1252763
    assert got == [
        ("le", "fr", 3, -559616),
        ("sat", "en", 2, -980829),
        ("the", "en", 3, -693147),
        ("the", "fr", 1, -1252763),
    ], got


def test_nb_classify_constructed_ground_truth(spark):
    from web_maxiv_hdbppviewer_spark.operators import nbayes

    df = spark.createDataFrame(_NB_CORPUS, "doc_id long, lang string, text string")
    got = {
        r["doc_id"]: (r["lang"], r["pred"], r["score_fp"])
        for r in nbayes.nb_classify(df, min_count=2).collect()
    }
    # defaults: en ln(1/8) -> -2079442, fr ln(1/7) -> -1945910,
    #           zz ln(1/3) -> -1098612
    # priors:   en ln(3/6) -> -693147,  fr ln(2/6) -> -1098612,
    #           zz ln(1/6) -> -1791759
    assert got == {
        # doc1: zz WINS (-1791759 + 6*-1098612 = -8383431) over en
        # (-693147 - 2*693147 - 980829 - 3*2079442 = -9298596): the
        # zero-vocab label's cheap defaults beat en's OOV penalty -
        # correct NB arithmetic, pinned deliberately
        1: ("en", "zz", -8383431),
        2: ("en", "en", -4446565),
        3: ("fr", "fr", -6109664),
        4: ("fr", "fr", -2910991),
        5: ("en", "en", -693147),   # empty doc -> prior-only argmax
        6: ("zz", "zz", -6186207),
    }, got


def test_nb_confusion_and_empty_corpus(spark):
    from web_maxiv_hdbppviewer_spark.operators import nbayes

    df = spark.createDataFrame(_NB_CORPUS, "doc_id long, lang string, text string")
    conf = sorted(
        tuple(r)
        for r in nbayes.nb_confusion(nbayes.nb_classify(df, min_count=2)).collect()
    )
    assert conf == [("en", "en", 2), ("en", "zz", 1), ("fr", "fr", 2), ("zz", "zz", 1)]

    empty = spark.createDataFrame([], "doc_id long, lang string, text string")
    assert nbayes.nb_model(empty, min_count=2).count() == 0
    cls = nbayes.nb_classify(empty, min_count=2)
    assert cls.count() == 0
    assert [f.name for f in cls.schema.fields] == ["doc_id", "lang", "pred", "score_fp"]


# --- 6. DSIR selection: pure-Python twin + contracts (NEW r14) --------------


def _dsir_twin(corpus, k=3, n_buckets=256):
    """Independent full-pipeline replication of operators/sampling.
    dsir_select in pure Python: hashlib md5 for the portable hash,
    math.log for the ratios, the same micro-nat rounding."""
    import hashlib
    import math

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def toks(t):
        return [w for w in t.lower().split(" ") if w]

    ct, cr = {}, {}
    for _id, lang, text in corpus:
        tgt = lang == "en"
        for w in toks(text):
            b = h60(f"dsir:{w}") % n_buckets
            (ct if tgt else cr)[b] = (ct if tgt else cr).get(b, 0) + 1
    tt, tr = sum(ct.values()), sum(cr.values())
    all_b = set(ct) | set(cr)
    lr = {
        b: int(round((math.log((ct.get(b, 0) + 1.0) / (tt + n_buckets))
                      - math.log((cr.get(b, 0) + 1.0) / (tr + n_buckets))) * 1e6))
        for b in all_b
    }
    rows = []
    for _id, lang, text in corpus:
        if lang == "en":
            continue
        tl = toks(text)
        if not tl:
            continue  # empty docs carry no evidence -> excluded (documented)
        s = sum(lr[h60(f"dsir:{w}") % n_buckets] for w in tl)
        u = ((h60(f"dsir-g:{_id}") % (1 << 52)) + 0.5) / float(1 << 52)
        g = int(round(-math.log(-math.log(u)) * 1e6))
        rows.append((_id, len(tl), s, g, s + g))
    rows.sort(key=lambda r: (-r[4], r[0]))
    return rows[:k]


def test_dsir_matches_pure_python_twin(spark):
    from web_maxiv_hdbppviewer_spark.operators import sampling

    corpus = [
        (1, "en", "wiki style clean prose about science"),
        (2, "en", "clean prose with citations and science"),
        (3, "fr", "clean prose science citations"),      # target-like pool doc
        (4, "fr", "menu login click here click here"),   # boilerplate
        (5, "de", "science prose wiki clean"),           # target-like pool doc
        (6, "de", ""),                                    # empty -> excluded
        (7, "zh", "click menu here login"),
    ]
    df = spark.createDataFrame(corpus, "doc_id long, lang string, text string")
    got = [tuple(r) for r in sampling.dsir_select(df, 3).collect()]
    assert got == _dsir_twin(corpus, 3), (got, _dsir_twin(corpus, 3))
    # contracts: no target docs, no empty docs, k honored, deterministic
    ids = [r[0] for r in got]
    assert 1 not in ids and 2 not in ids and 6 not in ids
    assert len(got) == 3
    assert got == [tuple(r) for r in sampling.dsir_select(df, 3).collect()]


def test_dsir_degenerate_corpora(spark):
    from web_maxiv_hdbppviewer_spark.operators import sampling

    # no pool docs at all -> empty selection, stable schema
    only_target = spark.createDataFrame(
        [(1, "en", "a b c")], "doc_id long, lang string, text string"
    )
    out = sampling.dsir_select(only_target, 5)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "doc_id", "n_tokens", "logratio_fp", "gumbel_fp", "key_fp",
    ]
    # no target docs -> model is pool-only + smoothing, still selects
    only_pool = spark.createDataFrame(
        [(1, "fr", "a b"), (2, "de", "c d")],
        "doc_id long, lang string, text string",
    )
    assert sampling.dsir_select(only_pool, 5).count() == 2


# --- 7. NB classifier: integer self-consistency property (NEW r14) ---------


def test_nb_classify_is_argmax_over_published_model(spark):
    """Classification must be EXACTLY argmax over the published model
    artifacts - replayed here in pure-integer Python from Spark's own
    nb_model / label-stats outputs (no floats, no ln), so a wiring bug
    in the wide pivot, the OOV default, the empty-doc path, or the
    tie-break flips this even when every parity hash is green."""
    from web_maxiv_hdbppviewer_spark.operators import nbayes

    df = spark.createDataFrame(_NB_CORPUS, "doc_id long, lang string, text string")
    model = {
        (r["token"], r["label"]): r["logp_fp"]
        for r in nbayes.nb_model(df, min_count=2).collect()
    }
    stats = {
        r["label"]: (r["def_fp"], r["prior_fp"])
        for r in nbayes._label_stats(
            df, nbayes.nb_counts(df, min_count=2), "lang", include_total=True
        )
        .selectExpr(
            "label",
            "CAST(ROUND(ln(1.0 / CAST(t_l + v AS DOUBLE)) * 1e6, 0) AS LONG) AS def_fp",
            "CAST(ROUND(ln(CAST(n_docs AS DOUBLE) / n_total) * 1e6, 0) AS LONG) AS prior_fp",
        )
        .collect()
    }
    labels = sorted(stats)
    text_by_id = {d: t for d, _, t in _NB_CORPUS}
    for r in nbayes.nb_classify(df, min_count=2).collect():
        toks = [w for w in text_by_id[r["doc_id"]].lower().split(" ") if w]
        scores = {
            lbl: stats[lbl][1]
            + sum(model.get((w, lbl), stats[lbl][0]) for w in toks)
            for lbl in labels
        }
        best = min(labels, key=lambda lbl: (-scores[lbl], lbl))
        assert (r["pred"], r["score_fp"]) == (best, scores[best]), r


# --- 8. BPE carry columns + fertility ground truth (NEW r14) ----------------


def test_bpe_apply_carry_alignment_with_dropped_rows(spark):
    """apply_bpe_merges carry columns must stay row-aligned when the
    kernel DROPS rows (NULL text, token-less text) mid-batch - the
    alignment bug class this API could reintroduce: a positional bug
    would pair doc 3's count with doc 1's lang."""
    from web_maxiv_hdbppviewer_spark.operators import bpe

    df = spark.createDataFrame(
        [
            (1, None, "de"),          # NULL text -> dropped
            (2, "  ", "fr"),          # token-less -> dropped
            (3, "ab ab", "en"),
            (4, "b a", "zh"),
        ],
        "doc_id long, text string, lang string",
    ).coalesce(1)  # one batch, so drops and survivors share a batch
    got = sorted(
        tuple(r)
        for r in bpe.apply_bpe_merges(df, [("a", "b")], carry=("lang",)).collect()
    )
    # merges [("a","b")]: "ab" -> 1 token, "b"/"a" unmerged -> 1 each
    assert got == [(3, 2, "en"), (4, 2, "zh")], got
    # default call (no carry) keeps the original two-column contract
    base = bpe.apply_bpe_merges(df, [("a", "b")])
    assert [f.name for f in base.schema.fields] == ["doc_id", "n_bpe_tokens"]


def test_fertility_constructed_ground_truth(spark):
    """Hand-computed fertility on a corpus where every quantity is
    checkable by eye; also pins that docs dropped by the kernel (NULL /
    token-less) leave their language's totals entirely."""
    from web_maxiv_hdbppviewer_spark.operators import bpe
    from pyspark.sql import functions as F
    from web_maxiv_hdbppviewer_spark.functions.texthash import words

    df = spark.createDataFrame(
        [
            (1, "ab ab ab", "en"),   # 3 words, 3 BPE tokens, 8 bytes
            (2, "a b", "en"),        # 2 words, 2 tokens, 3 bytes
            (3, "", "fr"),           # dropped
        ],
        "doc_id long, text string, lang string",
    )
    base = df.select(
        "doc_id", "text", "lang",
        F.size(words(F.col("text"))).cast("long").alias("n_words"),
        F.octet_length("text").cast("long").alias("n_bytes"),
    )
    per = bpe.apply_bpe_merges(base, [("a", "b")], carry=("lang", "n_words", "n_bytes"))
    agg = per.groupBy("lang").agg(
        F.sum("n_words").alias("w"),
        F.sum("n_bpe_tokens").alias("t"),
        F.sum("n_bytes").alias("b"),
    )
    rows = {r["lang"]: (r["w"], r["t"], r["b"]) for r in agg.collect()}
    assert rows == {"en": (5, 5, 11)}, rows  # fr vanished with its only doc


def test_dsir_null_label_is_pool(spark):
    """NULL labels must land in the POOL on both engines: a bare
    `col == value` is NULL for NULL labels, and a NULL is_t silently
    vanishes from Spark's conditional count sums while the oracle's
    CASE WHEN routes it to ELSE (pool) - the coalesce(.., false) in
    dsir_select pins the two to the same semantics."""
    from web_maxiv_hdbppviewer_spark.operators import sampling

    df = spark.createDataFrame(
        [(1, "en", "a b c"), (2, None, "a b c"), (3, "fr", "a b c")],
        "doc_id long, lang string, text string",
    )
    got = sorted(r["doc_id"] for r in sampling.dsir_select(df, 10).collect())
    assert got == [2, 3], got  # the unlabeled doc is selectable pool


# --- 9. Streamed NB serving (NEW r14) ---------------------------------------


def test_stream_classify_equals_batch_and_is_stateless(spark):
    """The streamed classifier must return EXACTLY the batch result (the
    aliasing contract that lets it share text_nb_classify's oracle), and
    must run with ZERO state operators - the query itself asserts the
    progress shows none (stateless model-in-closure serving is the
    whole scale argument), so reaching the comparison proves both."""
    from web_maxiv_hdbppviewer_spark.plans.extensions import (
        stream_classify, text_nb_classify,
    )

    streamed = sorted(
        tuple(r) for r in stream_classify(spark, SF_SMOKE).collect()
    )
    batch = sorted(
        tuple(r) for r in text_nb_classify(spark, SF_SMOKE).collect()
    )
    assert streamed == batch and len(streamed) == 500


# --- 10. NB contracts from the r14 review pass ------------------------------


def test_nb_null_label_contract(spark):
    """Unlabeled rows neither train nor classify (nbayes._labeled; the
    oracles carry the same WHERE lang IS NOT NULL base): without the
    shared contract, Spark's NULL group crashes the driver sort while
    DuckDB ranks NULL as a candidate label - the engines would diverge
    or die. The NULL-lang doc must vanish from the model, the
    classification, the confusion matrix, AND the priors (en prior =
    ln(2/3), not ln(2/4))."""
    from web_maxiv_hdbppviewer_spark.operators import nbayes

    df = spark.createDataFrame(
        [
            (1, "en", "aa bb aa bb"),
            (2, "en", "aa bb"),
            (3, "fr", "aa bb"),
            (4, None, "aa bb aa bb aa bb"),  # unlabeled: fully excluded
        ],
        "doc_id long, lang string, text string",
    )
    model = nbayes.nb_model(df, min_count=2).collect()
    # counts must NOT include doc 4's tokens: c(aa,en)=3 not 6
    assert {(r["token"], r["label"]): r["n"] for r in model} == {
        ("aa", "en"): 3, ("bb", "en"): 3, ("aa", "fr"): 1, ("bb", "fr"): 1,
    }
    cls = nbayes.nb_classify(df, min_count=2)
    assert sorted(r["doc_id"] for r in cls.collect()) == [1, 2, 3]
    # prior denominator excludes the unlabeled doc: ln(2/3) -> -405465
    _, stats = nbayes.nb_artifacts(df, min_count=2)
    assert [lbl for lbl, _, _ in stats] == ["en", "fr"]
    assert stats[0][2] == -405465, stats  # round(ln(2/3)*1e6)


def test_nb_empty_vocabulary_raises(spark):
    """A labeled corpus where NO token reaches min_count has no model
    (t_l + v = 0 -> ln(1/0), NULL in Spark / inf in SQL): the classifier
    and the artifact trainer must refuse loudly instead of silently
    predicting the alphabetically-first label with NULL scores."""
    import pytest as _pytest

    from web_maxiv_hdbppviewer_spark.operators import nbayes

    df = spark.createDataFrame(
        [(1, "en", "unique words only"), (2, "fr", "chaque mot distinct")],
        "doc_id long, lang string, text string",
    )
    with _pytest.raises(ValueError, match="vocabulary is empty"):
        nbayes.nb_classify(df, min_count=5).collect()
    with _pytest.raises(ValueError, match="vocabulary is empty"):
        nbayes.nb_artifacts(df, min_count=5)


def test_bpe_carry_rejects_duplicate_columns(spark):
    """carry repeating id_col/text_col would make pdf[text_col] a
    2-column frame and silently mispair rows - rejected up front."""
    import pytest as _pytest

    from web_maxiv_hdbppviewer_spark.operators import bpe

    df = spark.createDataFrame([(1, "a b", "en")],
                               "doc_id long, text string, lang string")
    with _pytest.raises(ValueError, match="carry must not repeat"):
        bpe.apply_bpe_merges(df, [("a", "b")], carry=("text",))


# --- 11. Randomized properties for the new families (NEW r14) ---------------
#
# Spark runs per example, so max_examples stays small; the NB replay is
# PURE INTEGER (it reuses Spark's own published micro-nats), so it can
# never flake on float rounding - it tests the counting pipeline, the
# vocabulary cut, the NULL-label contract, the wide-pivot wiring, and
# the argmax/tie-break against an independent Python derivation.

from hypothesis import given, settings, strategies as st

_NB_WORD = st.sampled_from(["a", "b", "ab", "ba", ""])
_NB_DOC = st.lists(_NB_WORD, max_size=6).map(lambda ws: " ".join(ws))
_NB_ROW = st.tuples(st.sampled_from(["x", "y", None]), _NB_DOC)


@given(rows=st.lists(_NB_ROW, min_size=1, max_size=8))
@settings(max_examples=12, deadline=None)
def test_nb_pipeline_matches_integer_replay(spark, rows):
    import pytest as _pytest

    from web_maxiv_hdbppviewer_spark.operators import nbayes

    corpus = [(i, lang, text) for i, (lang, text) in enumerate(rows)]
    df = spark.createDataFrame(corpus, "doc_id long, lang string, text string")

    # independent Python derivation of the integer layer
    def toks(t):
        return [w for w in t.lower().split(" ") if w]

    counts: dict = {}
    for _id, lang, text in corpus:
        if lang is None:
            continue
        for w in toks(text):
            counts[(w, lang)] = counts.get((w, lang), 0) + 1
    tot: dict = {}
    for (w, _l), n in counts.items():
        tot[w] = tot.get(w, 0) + n
    m = {k: n for k, n in counts.items() if tot[k[0]] >= 2}
    labels = sorted({l for _i, l, _t in corpus if l is not None})

    if not labels:
        assert nbayes.nb_model(df, min_count=2).count() == 0
        assert nbayes.nb_classify(df, min_count=2).count() == 0
        return
    if not m:  # labeled corpus, empty vocabulary -> the named refusal
        with _pytest.raises(ValueError, match="vocabulary is empty"):
            nbayes.nb_classify(df, min_count=2).collect()
        return

    got_model = nbayes.nb_model(df, min_count=2).collect()
    assert {(r["token"], r["label"]): r["n"] for r in got_model} == m

    model, stats = nbayes.nb_artifacts(df, min_count=2)
    assert [lbl for lbl, _, _ in stats] == labels
    # classification must be exact integer argmax over the published model
    by_id = {r["doc_id"]: r for r in nbayes.nb_classify(df, min_count=2).collect()}
    assert sorted(by_id) == [i for i, l, _t in corpus if l is not None]
    for _id, lang, text in corpus:
        if lang is None:
            continue
        scores = {
            lbl: prior + sum(model.get((w, lbl), dflt) for w in toks(text))
            for lbl, dflt, prior in stats
        }
        best = min(labels, key=lambda lbl: (-scores[lbl], lbl))
        r = by_id[_id]
        assert (r["pred"], r["score_fp"]) == (best, scores[best]), (corpus, _id)


@given(rows=st.lists(
    st.tuples(st.sampled_from(["en", "fr", None]), _NB_DOC),
    min_size=1, max_size=8,
))
@settings(max_examples=10, deadline=None)
def test_dsir_matches_twin_on_random_corpora(spark, rows):
    from web_maxiv_hdbppviewer_spark.operators import sampling

    corpus = [(i, lang, text) for i, (lang, text) in enumerate(rows)]
    df = spark.createDataFrame(corpus, "doc_id long, lang string, text string")
    got = [tuple(r) for r in sampling.dsir_select(df, 3).collect()]
    assert got == _dsir_twin(corpus, 3), corpus
