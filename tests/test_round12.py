"""Round-12 regression pins: the MIPS exact-ip tie snap, post-round
signed-zero canonicalization in dimension_stats, the bloom md5
bit-slice family, and the value_w write-value surface."""

import math

from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from tests.conftest import SF_SMOKE

QUERIES = entry_mod.queries()


# ------------------------------------------------------------- mips ties


def test_mips_aug_ok_robust_to_exact_ip_ties(spark):
    """Two candidates with BITWISE-equal inner product but different
    norms (hence different augmented coordinates and potentially
    different float noise in the materialized |x'|) must still certify
    aug_ok: the exact-ip peer snap makes both rankings fall to the
    cand_id tiebreak instead of racing last-ulp aug_cos noise (the
    ADVICE r11 data-dependent hash-flip scenario, constructed)."""
    from web_maxiv_hdbppviewer_spark.operators.similarity import topk_mips

    rows = [
        (0, [1.0, 0.0, 0.0]),        # the query (id < query_ids_below)
        (10, [2.0, 1.0, 0.0]),       # ip = 2.0, |c| = sqrt(5)
        (11, [2.0, 0.0, 3.0]),       # ip = 2.0, |c| = sqrt(13)
        (12, [2.0, -1.0, 0.0]),      # ip = 2.0, |c| = sqrt(5)
        (13, [0.5, 4.0, 0.0]),       # ip = 0.5 (distinct, sanity row)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = topk_mips(df, k=4, query_ids_below=1).collect()
    assert len(out) == 4
    assert all(r["aug_ok"] for r in out), out
    # ties broken by cand_id within the equal-ip group
    ranked = [r["cand_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert ranked == [10, 11, 12, 13]


# ---------------------------------------------------- signed-zero rounding


def test_dimension_stats_negative_subulp_mean_rounds_to_positive_zero(spark):
    """A dimension whose true mean lies in (-0.5e-6, 0) must report
    mean_r as +0.0, not -0.0: the +0.0 canonicalization sits OUTSIDE the
    round (inside it, Spark's BigDecimal round keeps +0.0 while DuckDB
    keeps -0.0 and the driver hash flips - the sim_pca_gram class)."""
    from web_maxiv_hdbppviewer_spark.operators.similarity import (
        dimension_stats,
    )

    # dim 0: values quantize (grid 1e-3) to -1 and 0 over 4096 rows ->
    # mean_grid = -1/4096 -> mean = -2.4e-7: inside the negative sub-round
    # band. dim 1: exactly zero.
    rows = [([-0.001 if i == 0 else 0.0, 0.0],) for i in range(4096)]
    df = spark.createDataFrame(rows, "embedding array<double>")
    got = {r["d"]: r for r in dimension_stats(df).collect()}
    assert repr(got[0]["mean_r"]) == "0.0", got[0]
    assert repr(got[0]["var_r"]) != "-0.0"
    assert repr(got[1]["mean_r"]) == "0.0"


# ------------------------------------------------------- bloom md5 slices


def test_bloom_positions_and_key_are_md5_slices(spark):
    """The bloom family's portability contract: join key = md5 hex chars
    1-15 as int60, positions = chars 16-21 / 22-27 mod 2^22 - replayed
    here from Python's hashlib on the same shingle strings, so the
    engine's JVM conv/substring arithmetic is pinned to the documented
    slices an external SQL engine uses."""
    from web_maxiv_hdbppviewer_spark.operators.dedup import (
        bloom_contamination,
    )

    ev = spark.createDataFrame(
        [(1, "a b c d e f g h")], "doc_id long, text string"
    )
    tr = spark.createDataFrame(
        [(2, "a b c d e f g h"), (3, "x y z w v u t s")],
        "doc_id long, text string",
    )
    out = bloom_contamination(ev, tr, k=5).collect()
    assert len(out) == 1
    row = out[0]
    # 8 tokens -> 4 overlapping 5-grams, all shared with train doc 2:
    # every one passes the bloom and the exact join
    assert row["n_shingles"] == 4
    assert row["n_candidates"] == 4
    assert row["n_shared"] == 4
    assert row["shared_frac"] == 1.0


def test_bloom_admits_no_false_negatives_on_testdata(spark):
    """Soundness on real data: every exactly-shared shingle must pass the
    bloom (n_candidates >= n_shared per doc) - a false negative would
    undercount n_shared vs the oracle's true string-set overlap."""
    from web_maxiv_hdbppviewer_spark.operators.dedup import (
        bloom_contamination,
    )
    from web_maxiv_hdbppviewer_spark.operators import sampling
    from web_maxiv_hdbppviewer_spark.sources.tables import load_tables

    docs = load_tables(spark, SF_SMOKE)["documents"]
    split = sampling.hash_split(docs, {"train": 0.8, "val": 0.1, "test": 0.1})
    ev = split.where(F.col("split") == "test")
    tr = split.where(F.col("split") == "train")
    out = bloom_contamination(ev, tr, 5).collect()
    assert out, "no eval docs"
    for r in out:
        assert r["n_candidates"] >= r["n_shared"], r
        assert r["n_shingles"] >= r["n_candidates"], r


# ------------------------------------------------------------- value_w


def test_value_w_flows_ingest_to_summary(spark):
    """The rw surface end-to-end on a constructed frame: value_w
    aggregates land only on the rw numeric attribute; ro numeric and
    discrete attributes report n_w = 0 with NULL write stats; the
    tracking error is the mean over rows where BOTH sides exist."""
    from datetime import datetime

    from web_maxiv_hdbppviewer_spark.operators.typed import typed_summary

    t = datetime(2024, 1, 5)
    rows = [
        # rw numeric: reads 10/20, writes 8/24 -> trk_err = (2 - 4)/2 = -1
        (1, "scalar_devdouble_rw", "2024-01-05", t, 10.0, 8.0, None, None, 0, None),
        (1, "scalar_devdouble_rw", "2024-01-05", t, 20.0, 24.0, None, None, 0, None),
        # rw numeric row with a read but no write: excluded from trk_err
        (1, "scalar_devdouble_rw", "2024-01-05", t, 99.0, None, None, None, 0, None),
        # ro numeric: value_w never set
        (2, "scalar_devdouble_ro", "2024-01-05", t, 5.0, None, None, None, 0, None),
        # discrete
        (3, "scalar_devstring_ro", "2024-01-05", t, None, None, "ON", None, 0, None),
    ]
    schema = (
        "att_conf_id long, data_type string, period string, ts timestamp,"
        " value_r double, value_w double, value_str string,"
        " value_arr array<double>, quality int, error_desc string"
    )
    dp = spark.createDataFrame(rows, schema)
    got = {r["att_conf_id"]: r for r in typed_summary(dp, write_values=True).collect()}
    assert got[1]["n_w"] == 2
    assert got[1]["wmin"] == 8.0 and got[1]["wmax"] == 24.0
    assert got[1]["wmean"] == 16.0
    assert got[1]["trk_err_r"] == -1.0
    assert got[2]["n_w"] == 0 and got[2]["wmean"] is None
    assert got[3]["n_w"] == 0 and got[3]["trk_err_r"] is None
    # default call keeps q29's schema: no write columns
    assert "n_w" not in typed_summary(dp).columns


# ------------------------------------------------- lifecycle_image pin


def test_lifecycle_image_matches_its_pinned_oracle_rows(spark, duck):
    """The pinned-digest oracle is literal rows keyed on corpus size; the
    suite's independent compositor (test_raster_png) derives the digest
    from first principles - this test closes the triangle by asserting
    the PIN ITSELF matches the live render at sf0.001, so an engine
    change that drifts the pixels fails here before the driver sees it."""
    sdf = QUERIES["lifecycle_image"](spark, SF_SMOKE).collect()
    ddf = duck.sql(entry_mod.oracle_sql()["lifecycle_image"]).fetchall()
    got = sorted((r["axis"], r["n_lit"], r["pixel_sha256"]) for r in sdf)
    want = sorted((r[0], r[3], r[4]) for r in ddf)
    assert got == want


def test_bloom_empty_train_corpus_yields_zero_rows_not_errors(spark):
    """An empty train side must produce an all-zero bitmap and zero
    candidates/shared for every eval doc - not a crash in the bitmap
    OR-merge or a null row."""
    from web_maxiv_hdbppviewer_spark.operators.dedup import (
        bloom_contamination,
    )

    ev = spark.createDataFrame(
        [(1, "a b c d e f g h")], "doc_id long, text string"
    )
    tr = spark.createDataFrame([], "doc_id long, text string")
    out = bloom_contamination(ev, tr, k=5).collect()
    assert len(out) == 1
    assert out[0]["n_shingles"] == 4
    assert out[0]["n_candidates"] == 0
    assert out[0]["n_shared"] == 0
    assert out[0]["shared_frac"] == 0.0


def test_bloom_matches_pure_python_brute_force(spark):
    """INDEPENDENT check (no shared expression code, the
    pq-vs-numpy-brute-force pattern): a seeded random corpus with a tiny
    vocabulary (forcing heavy cross-doc shingle sharing), the engine's
    (n_shingles, n_candidates, n_shared) vs a from-scratch Python
    replication - hashlib md5 slices for the bloom bits, plain string
    sets for the true overlap. Catches any shared misconception between
    the engine and its SQL oracle."""
    import hashlib
    import random

    from web_maxiv_hdbppviewer_spark.operators.dedup import (
        BLOOM_M_LOG2,
        bloom_contamination,
    )

    rng = random.Random(12)
    vocab = ["w%d" % i for i in range(12)]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 30))))
        for i in range(30)
    ]
    k, m = 3, 1 << BLOOM_M_LOG2
    ev_docs, tr_docs = docs[:10], docs[10:]

    def grams(text):
        toks = [t for t in text.lower().split(" ") if t]
        return {
            " ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)
        }

    def positions(s):
        hx = hashlib.md5(s.encode()).hexdigest()
        return int(hx[15:21], 16) % m, int(hx[21:27], 16) % m

    train = set()
    for _, t in tr_docs:
        train |= grams(t)
    bits = set()
    for s in train:
        bits.update(positions(s))
    want = {}
    for i, t in ev_docs:
        g = grams(t)
        cand = {s for s in g if set(positions(s)) <= bits}
        want[i] = (len(g), len(cand), len(g & train))

    ev = spark.createDataFrame(ev_docs, "doc_id long, text string")
    tr = spark.createDataFrame(tr_docs, "doc_id long, text string")
    got = {
        r["id"]: (r["n_shingles"], r["n_candidates"], r["n_shared"])
        for r in bloom_contamination(ev, tr, k).collect()
    }
    assert got == want


# -------------------------------------------- append-mode streaming raster


def test_streaming_raster_append_equals_batch_finalized_columns(spark):
    """The production live-dashboard path: append-mode watermarked raster
    must emit exactly the batch bin_2d cells of every FINALIZED pixel
    column (window end at or before the final watermark = max event time
    minus the lateness bound) - emitted once, bit-equal, with later
    columns still held in state."""
    import tempfile

    from web_maxiv_hdbppviewer_spark.functions.time import epoch_us
    from web_maxiv_hdbppviewer_spark.operators.raster import bin_2d
    from web_maxiv_hdbppviewer_spark.plans import extensions
    from web_maxiv_hdbppviewer_spark.plans.queries import X0_US, X_SPAN_US
    from web_maxiv_hdbppviewer_spark.sources.tables import load_tables
    from web_maxiv_hdbppviewer_spark.streaming.incremental import (
        streaming_raster_windowed,
    )

    events = load_tables(spark, SF_SMOKE)["events"]
    feed = extensions._stream_events(spark, SF_SMOKE).select("ts", "value")
    sink = "stream_raster_append_t12"
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            streaming_raster_windowed(
                feed, X0_US, X_SPAN_US, 100, 0.0, 500.0, 80
            )
            .writeStream.format("memory")
            .queryName(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        extensions._drain(q)
    got = {
        (r["xb"], r["yb"], r["cnt"], r["vmean"], r["vmin"], r["vmax"])
        for r in spark.table(sink).collect()
    }
    col_us = int(X_SPAN_US / 100)
    # the stream filters on value BEFORE the watermark column, so the
    # twin must take max(ts) over the SAME filtered rows - an out-of-
    # range value on the globally-latest event would otherwise put the
    # twin's watermark ahead of the stream's
    max_us = (
        events.where((F.col("value") >= 0.0) & (F.col("value") < 500.0))
        .select(epoch_us(F.max("ts")).alias("m"))
        .collect()[0]["m"]
    )
    # the watermark rides the SYNTHETIC event time (the column start of
    # the latest surviving event, by the batch float binning), minus 1h
    max_synth_us = X0_US + math.floor((max_us - X0_US) / X_SPAN_US * 100) * col_us
    wm_us = max_synth_us - 3_600_000_000
    batch = bin_2d(events, X0_US, X_SPAN_US, 100, 0.0, 500.0, 80).collect()
    want = {
        (r["xb"], r["yb"], r["cnt"], r["vmean"], r["vmin"], r["vmax"])
        for r in batch
        if X0_US + (r["xb"] + 1) * col_us <= wm_us
    }
    assert want, "watermark left no finalized columns - fixture too small"
    assert got == want
    # later columns exist in batch but are (correctly) still unemitted
    assert len(batch) > len(want)


def test_streaming_raster_boundary_events_match_batch_float_binning(spark):
    """CONSTRUCTED HAZARD: events bitwise-exactly on pixel-column
    boundaries. The batch xbin float expression floor((t-x0)/span*nx)
    rounds the quotient one ulp LOW for columns {29, 57, 58} at the
    production 30-day/nx=100 grid, binning those boundary events one
    column left of the exact integer grid. The append-mode streaming
    raster windows on a synthetic event time derived from the same
    float expression, so it must agree with bin_2d on every one of
    these cells (it disagreed before the synthetic-ts fix)."""
    import tempfile

    from pyspark.sql import types as T

    from web_maxiv_hdbppviewer_spark.operators.raster import bin_2d
    from web_maxiv_hdbppviewer_spark.plans import extensions
    from web_maxiv_hdbppviewer_spark.plans.queries import X0_US, X_SPAN_US
    from web_maxiv_hdbppviewer_spark.streaming.incremental import (
        streaming_raster_windowed,
    )

    nx, col_us = 100, int(X_SPAN_US / 100)
    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    # every column boundary (the hazard set {29,58} included), plus
    # one far-future row so the watermark finalizes all of them
    batch_df = spark.createDataFrame(
        [(k, float(k % 7) + 0.25) for k in range(nx)], "k long, value double"
    ).select(
        F.timestamp_micros(F.lit(X0_US) + F.col("k") * F.lit(col_us)).alias(
            "ts"
        ),
        "value",
    )
    closer = spark.createDataFrame(
        [(X0_US + (nx + 100) * col_us, 1.0)], "us long, value double"
    ).select(F.timestamp_micros("us").alias("ts"), "value")
    full = batch_df.unionByName(closer)

    with tempfile.TemporaryDirectory() as d:
        src, ckpt = f"{d}/src", f"{d}/ckpt"
        full.coalesce(1).write.parquet(src)
        feed = spark.readStream.schema(schema).parquet(src)
        q = (
            streaming_raster_windowed(
                feed, X0_US, X_SPAN_US, nx, 0.0, 500.0, 80
            )
            .writeStream.format("memory")
            .queryName("stream_raster_boundary_t12")
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        extensions._drain(q)

    got = {
        tuple(r)
        for r in spark.table("stream_raster_boundary_t12").collect()
    }
    want = {
        tuple(r)
        for r in bin_2d(full, X0_US, X_SPAN_US, nx, 0.0, 500.0, 80).collect()
        # streaming holds back columns past the watermark; the +100
        # closer row leaves every constructed column finalized
        if r["xb"] <= nx
    }
    assert got == want
    # the hazard is real on this grid: the boundary events of columns 29
    # and 58 bin LEFT, so those columns are EMPTY (57's event also shifts
    # left, but 58's backfills it) - the discriminating assertion, not
    # merely "k-1 is present" (true under exact binning too)
    xbs = {r[0] for r in want}
    assert 29 not in xbs and 58 not in xbs, sorted(xbs)
    assert 28 in xbs and 57 in xbs


def test_registry_clear_empties_every_kind():
    """The corpus-rewrite escape hatch must cover ALL session artifact
    kinds - the fuzzy gram/rare indexes were added after the old
    per-module clear and silently survived it, returning stale
    checkpointed indexes after an in-place corpus rewrite (same logical
    plan, same semantic hash, old blocks). One registry clear() now
    empties every kind at once."""
    from types import SimpleNamespace

    from web_maxiv_hdbppviewer_spark.cache import SessionArtifacts

    reg = SessionArtifacts()
    fake = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="app"))
    kinds = (
        "shingle_idx", "pair_table", "fuzzy_gram_idx", "fuzzy_rare_idx",
        "pca_gram",  # r13: the partial-Gram kernel memo
        "ann_scored", "bpe_merges", "hdbpp_catalog", "tables",
    )
    for kind in kinds:
        reg.get_or_build(fake, kind, 0, lambda: (0, None, None))
    reg.clear()
    assert all(reg.peek(fake, kind, 0) is None for kind in kinds)
    assert reg.builds() == []


def test_nearest_bucket_rounds_half_ties_to_even_like_the_reference(spark, duck):
    """CONSTRUCTED HAZARD: events bitwise-exactly on half-bucket
    instants. The reference resamples with PYTHON round
    (data.py:12-14), which is half-to-EVEN - floor(t/w + 0.5) would
    send t/w = 2.5 to bucket 3 where the reference says 2. The engine
    (F.bround) and the oracle twin (DuckDB round_even) must both
    reproduce the reference's tie rule on the same constructed
    instants."""
    from web_maxiv_hdbppviewer_spark.functions.time import (
        epoch_us,
        nearest_bucket,
    )

    w = 600_000_000  # 10-minute buckets
    halves = [1, 3, 4, 5, 6, 2_000_001]  # t/w = 0.5, 1.5, 2.0, 2.5, 3.0, ...
    df = spark.createDataFrame(
        [(h * (w // 2),) for h in halves], "t_us long"
    ).select(F.timestamp_micros("t_us").alias("ts"))
    got = [
        r["b"]
        for r in df.select(
            nearest_bucket(epoch_us(F.col("ts")), w).alias("b")
        ).orderBy("b").collect()
    ]
    want = [round(h / 2) for h in sorted(halves)]  # python round = reference
    assert got == want, (got, want)
    oracle = [
        r[0]
        for r in duck.sql(
            "SELECT CAST(round_even(t / 600000000.0, 0) AS BIGINT) AS b "
            "FROM (SELECT unnest([300000000, 900000000, 1200000000, "
            "1500000000, 1800000000, 600000300000000]) AS t) ORDER BY b"
        ).fetchall()
    ]
    assert oracle == want, (oracle, want)
    # the discriminating instants: 0.5 -> 0 and 2.5 -> 2 (half-up says 1, 3)
    assert want[0] == 0 and round(2.5) == 2
