"""Round-19 pins.

1. Rasterline canvas clipping (VERDICT r18 #4 / ADVICE r18 low): the
   segment kernel Liang-Barsky-clips each segment to the conservative
   canvas slab [-1, w] x [-1, h] BEFORE computing the sample count, so
   a far-off-canvas endpoint no longer triggers either a value-
   proportional allocation (pre-r18) or the r18 8*(w+h) sample cap
   that rendered the in-view crossing DOTTED. Pins: in-slab segments
   walk bit-identically to the historical unclipped kernel (the
   geometry every pinned image digest exercises - the clip is an
   identity there), far-anchored crossings render SOLID at any finite
   endpoint magnitude (including 1e12+, where the unclipped walk could
   never even allocate, and 1e9+, where the unclipped formula's float
   cancellation would alias samples onto .5 boundaries and dot the
   line anyway), clipped coverage stays within 1px of the unclipped
   ground truth wherever that ground truth is materializable, and
   allocation is bounded by the slab. The walk lives in
   tests/rasterline_reference.py; every geometry here is also drawn by
   the Catalyst operator, which must match the reference exactly.

2. Streaming raster watermark predicate (ADVICE r18 high) is pinned in
   tests/test_round18.py::test_streaming_raster_watermark_hardening
   (rewritten to assert the OPTIMIZED plan of a started query).
"""

from __future__ import annotations

import numpy as np

from tests.rasterline_reference import (
    _clip_to_slab,
    _segments_to_pixels,
    assert_native_equals_reference,
    segments_frame,
)


def _unclipped_walk(x0, y0, x1, y1, w, h):
    """The pre-r18 exact kernel: full linspace walk, no cap - the
    ground truth for in-slab bit-equality (only materializable for
    moderate spans)."""
    grid = np.zeros((h, w), dtype=np.int64)
    span = max(abs(x1 - x0), abs(y1 - y0))
    if not np.isfinite(span):
        return grid
    n = int(span) + 1
    px = np.rint(np.linspace(x0, x1, n)).astype(np.int64)
    py = np.rint(np.linspace(y0, y1, n)).astype(np.int64)
    keep = (px >= 0) & (px < w) & (py >= 0) & (py < h)
    if keep.any():
        flat = np.unique(py[keep] * w + px[keep])
        grid.flat[flat] += 1
    return grid


def _clipped_walk(x0, y0, x1, y1, w, h):
    return _segments_to_pixels(np.asarray([x0, x1]), np.asarray([y0, y1]), w, h)


def _native_matches_reference(spark, segments, w, h):
    """Draw every segment as its own series with the Catalyst operator
    and require the reference walk's pixels and counts."""
    df, canvas = segments_frame(spark, segments, w, h)
    assert_native_equals_reference(df, **canvas)


def _dilate(mask: np.ndarray) -> np.ndarray:
    """8-neighborhood binary dilation (no scipy in the container)."""
    out = mask.copy()
    out[1:, :] |= mask[:-1, :]
    out[:-1, :] |= mask[1:, :]
    out[:, 1:] |= mask[:, :-1]
    out[:, :-1] |= mask[:, 1:]
    out[1:, 1:] |= mask[:-1, :-1]
    out[:-1, :-1] |= mask[1:, 1:]
    out[1:, :-1] |= mask[:-1, 1:]
    out[:-1, 1:] |= mask[1:, :-1]
    return out


def test_in_slab_segments_bit_equal_unclipped_walk(spark):
    """Property: for random segments wholly inside the slab
    [-1, w] x [-1, h] the clip is an identity, so the kernel must
    reproduce the historical unclipped walk EXACTLY - same pixels,
    same counts. This is the geometry every pinned digest exercises."""
    rng = np.random.default_rng(1907)
    w, h = 100, 80
    segments = []
    for trial in range(300):
        x0, x1 = rng.uniform(-1.0, w, 2)
        y0, y1 = rng.uniform(-1.0, h, 2)
        got = _clipped_walk(x0, y0, x1, y1, w, h)
        want = _unclipped_walk(x0, y0, x1, y1, w, h)
        assert np.array_equal(got, want), (
            f"trial {trial}: segment ({x0},{y0})->({x1},{y1}) diverged"
        )
        segments.append((x0, y0, x1, y1))
    _native_matches_reference(spark, segments, w, h)


def test_out_of_slab_coverage_within_1px_of_ground_truth(spark):
    """Property: for segments with endpoints beyond the slab (spans up
    to ~1e5 px, still materializable by the ground-truth walk), the
    clipped walk's sample phase differs from the unclipped walk's, but
    coverage must agree to within 1px Hausdorff both ways - the same
    Bresenham-equivalence class."""
    rng = np.random.default_rng(4111)
    w, h = 100, 80
    segments = []
    for trial in range(200):
        scale = 10.0 ** rng.uniform(2, 5)
        x0, x1 = rng.uniform(-scale, scale, 2)
        y0, y1 = rng.uniform(-scale, scale, 2)
        got = _clipped_walk(x0, y0, x1, y1, w, h) > 0
        want = _unclipped_walk(x0, y0, x1, y1, w, h) > 0
        assert not (got & ~_dilate(want)).any(), f"trial {trial}: extra pixel"
        assert not (want & ~_dilate(got)).any(), f"trial {trial}: missing pixel"
        segments.append((x0, y0, x1, y1))
    _native_matches_reference(spark, segments, w, h)


def test_axis_aligned_and_degenerate_cases_match_ground_truth(spark):
    """Deterministic edges: axis-aligned crossings (where clipped and
    unclipped pixel sets agree exactly, not just within 1px), zero-
    length and sub-pixel segments, slab-boundary hugs, full misses."""
    w, h = 64, 48
    exact = [
        (0.0, 10.0, 63.0, 10.0),         # horizontal, full width
        (5.0, 0.0, 5.0, 47.0),           # vertical, full height
        (0.0, 0.0, 63.0, 47.0),          # diagonal, in-slab
        (12.3, 40.1, 12.3, 40.1),        # zero-length (n == 1 dot)
        (7.6, 7.4, 7.9, 7.2),            # sub-pixel span (n == 1)
        (-0.49, 10.0, 63.49, 10.0),      # rint boundary hug, in-slab
        (-200.0, -200.0, -100.0, -50.0),  # fully off-canvas -> empty
        (-0.6, 24.0, -0.6, 30.0),        # just inside slab left edge
        (0.0, 47.49, 63.0, 47.49),       # top-edge rounding band
        (-500.0, 20.0, 563.0, 20.0),     # horizontal THROUGH the canvas
        (30.0, -977.0, 30.0, 1100.0),    # vertical THROUGH the canvas
    ]
    for x0, y0, x1, y1 in exact:
        got = _clipped_walk(x0, y0, x1, y1, w, h)
        want = _unclipped_walk(x0, y0, x1, y1, w, h)
        assert np.array_equal(got > 0, want > 0), (x0, y0, x1, y1)
    _native_matches_reference(spark, exact, w, h)


def test_far_endpoint_crossing_renders_solid_not_dotted(spark):
    """The ADVICE r18 low: a FINITE wild endpoint (sensor glitch under
    manual axis bounds) anchoring a segment that crosses the canvas.
    The r18 cap subsampled the whole span - every span/(8*(w+h))-th
    pixel - so the in-view crossing rendered dotted. The clipped walk
    must paint the crossing SOLID (gap-free) at ANY finite magnitude,
    including spans the unclipped walk could never allocate (1e12 px
    ~ 8 TB of samples) and magnitudes where the unclipped formula's
    own float cancellation would alias the line (>= ~1e9)."""
    w, h = 100, 80
    for far in (1e6, 1e9, 1e12, 1e15):
        # near-horizontal line from deep off-canvas through the canvas
        grid = _clipped_walk(-far, 40.25, 99.5, 40.25, w, h)
        cols = np.nonzero(grid.sum(axis=0))[0]
        assert cols.size >= w - 1, (
            f"far={far}: only {cols.size}/{w} columns painted - dotted"
        )
        assert np.all(np.diff(cols) == 1), f"far={far}: gap in crossing"
        # steep crossing: every row must be hit
        grid = _clipped_walk(50.2, -far, 50.2, 79.5, w, h)
        rows = np.nonzero(grid.sum(axis=1))[0]
        assert rows.size >= h - 1 and np.all(np.diff(rows) == 1), (
            f"far={far}: vertical crossing has gaps"
        )
    _native_matches_reference(
        spark,
        [seg for far in (1e6, 1e9, 1e12, 1e15)
         for seg in ((-far, 40.25, 99.5, 40.25), (50.2, -far, 50.2, 79.5))],
        w, h,
    )


def test_clip_bounds_allocation_by_slab():
    """The clipped span - hence the walk's sample count - is bounded by
    the slab perimeter for ANY endpoint magnitude."""
    w, h = 100, 80
    for far in (1e6, 1e9, 1e15, 1e18, 1e300):
        clip = _clip_to_slab(-far, 40.25, 99.5, 40.25, w, h)
        assert clip is not None
        cx0, cy0, cx1, cy1 = clip
        assert max(abs(cx1 - cx0), abs(cy1 - cy0)) <= w + h + 4, far
        assert -1.0 <= cx0 <= w and -1.0 <= cy0 <= h, far
    # in-slab: identity, ORIGINAL floats back (bit-exact legacy walk)
    seg = (3.7, 2.2, 63.1, 41.9)
    assert _clip_to_slab(*seg, w, h) == seg
    # fully-off-canvas: no segment at all
    assert _clip_to_slab(-1e9, 200.0, 1e9, 200.0, w, h) is None
    assert _clip_to_slab(200.0, -5.0, 300.0, 90.0, w, h) is None


def test_minhash_geometry_rule_outputs():
    """VERDICT r18 #6: the (b, r)-from-threshold S-curve chooser.
    Inflections at NUM_PERM=12: 12x1=0.083, 6x2=0.408, 4x3=0.630,
    3x4=0.760, 2x6=0.891, 1x12=1.0. Pins the prescribed t=0.5/0.7/0.9
    choices, budget exhaustion (b*r == n_perms always), the recall-
    favoring tie-break, and input validation."""
    import pytest

    from web_maxiv_hdbppviewer_spark.operators.dedup import (
        NUM_PERM, minhash_geometry_for,
    )

    assert minhash_geometry_for(0.5) == (6, 2)   # 0.408 nearer than 0.630
    assert minhash_geometry_for(0.7) == (3, 4)   # 0.760 nearer than 0.630
    assert minhash_geometry_for(0.9) == (2, 6)   # 0.891
    # extremes
    assert minhash_geometry_for(0.05) == (12, 1)
    assert minhash_geometry_for(1.0) == (1, 12)
    # the repo's historical default geometry is the rule's answer for
    # thresholds near its own inflection
    assert minhash_geometry_for(0.63) == (4, 3)
    # budget is always fully used, for any budget
    for n in (4, 6, 12, 16, 24):
        for t in (0.3, 0.5, 0.7, 0.9):
            b, r = minhash_geometry_for(t, n)
            assert b * r == n, (t, n, b, r)
    # near-tie at the midpoint of adjacent inflections (n=4: 2x2=0.707,
    # 1x4=1.0; the midpoint's distances differ only in the last ulp):
    # resolves deterministically to 2x2 - and the documented exact-tie
    # rule (more bands, i.e. the recall side) would give the same answer
    b_lo, r_lo = minhash_geometry_for(((1 / 2) ** (1 / 2) + 1.0) / 2, 4)
    assert (b_lo, r_lo) == (2, 2)
    with pytest.raises(ValueError):
        minhash_geometry_for(0.0)
    with pytest.raises(ValueError):
        minhash_geometry_for(1.5)
    with pytest.raises(ValueError):
        minhash_geometry_for(0.5, 0)
    assert NUM_PERM == 12  # the documented budget the pins above assume


def test_alignment_gate_fires_on_constructed_pairs(spark):
    """VERDICT r18 #5 pin: the image-text alignment gate keeps aligned
    pairs and cuts mismatched captions. Constructed corpus: doc 0 (a
    multiple of ALIGN_MISALIGN_EVERY) takes doc 1's caption - two docs
    with DISJOINT vocabularies, so the mismatched pair's cosine is ~0 -
    while docs 1..3 keep their own captions (score ~1, capped-tf vs raw
    counts keeps it below exactly 1 only when a word repeats > cap)."""
    from pyspark.sql import functions as F  # noqa: F401

    from web_maxiv_hdbppviewer_spark.operators.multimodal import (
        attach_payload, image_tower, text_tower,
    )
    from web_maxiv_hdbppviewer_spark.plans.extensions import (
        ALIGN_MIN_COS, ALIGN_MISALIGN_EVERY, multimodal_alignment,
    )

    # 7 is coprime with the generator's doc_id % 20 source assignment:
    # every source sees a mix of aligned and mismatched pairs (5 aliased
    # onto 4 all-misaligned sources in the first cut of this fixture)
    assert ALIGN_MISALIGN_EVERY == 7 and ALIGN_MIN_COS == 0.93

    docs = spark.createDataFrame(
        [
            # doc 0: vocabulary A; its caption will be doc 1's (disjoint
            # vocabulary B) -> misaligned, must be CUT
            (0, "alpha beta gamma alpha alpha beta", "srcA"),
            # docs 1..3 keep their own captions -> aligned, must be KEPT
            (1, "delta epsilon zeta delta", "srcA"),
            (2, "eta theta iota eta eta eta eta", "srcB"),
            (3, "kappa lambda mu", "srcB"),
        ],
        "doc_id long, text string, source string",
    )

    # Direct pair-level check through the towers: the aligned pair's
    # score clears the gate, the constructed mismatch scores ~0
    img = {
        (r["doc_id"], r["dim"]): r["iw"]
        for r in image_tower(attach_payload(docs)).collect()
    }
    txt = {
        (r["doc_id"], r["dim"]): r["tw"]
        for r in text_tower(docs).collect()
    }

    def cos(i, j):
        dims = {d for (k, d) in img if k == i} & {d for (k, d) in txt if k == j}
        dot = sum(img[(i, d)] * txt[(j, d)] for d in dims)
        n_i = sum(v * v for (k, _), v in img.items() if k == i) ** 0.5
        n_j = sum(v * v for (k, _), v in txt.items() if k == j) ** 0.5
        return dot / (n_i * n_j)

    assert cos(0, 1) == 0.0, "disjoint vocabularies must score 0"
    assert cos(1, 1) > ALIGN_MIN_COS
    # capped tf (3) vs raw count (4x 'eta') pulls doc 2's self-score
    # below 1 but far above the gate
    assert ALIGN_MIN_COS < cos(2, 2) < 1.0
    assert abs(cos(3, 3) - 1.0) < 1e-12  # no word repeats > cap

    # The declared-query shape end-to-end on a tmp sf_dir-like frame is
    # covered by oracle parity; here pin the report on this corpus by
    # monkey-loading the docs frame through the query's own internals:
    # srcA has pairs (0->cap1 misaligned CUT, 1->1 kept) = retention 0.5,
    # srcB has (2->2, 3->3) kept = retention 1.0
    import web_maxiv_hdbppviewer_spark.plans.extensions as ext

    orig = ext._docs
    ext._docs = lambda spark_, sf_dir_: docs
    try:
        rep = {
            r["source"]: r
            for r in multimodal_alignment(spark, "ignored").collect()
        }
    finally:
        ext._docs = orig
    assert rep["srcA"]["n_pairs"] == 2 and rep["srcA"]["n_kept"] == 1
    assert rep["srcA"]["retention_r"] == 0.5
    assert rep["srcB"]["n_pairs"] == 2 and rep["srcB"]["n_kept"] == 2
    assert rep["srcB"]["retention_r"] == 1.0
    assert rep["srcA"]["min_score"] == 0.0  # the constructed mismatch


def test_stream_index_append_matches_batch_and_survives_restart(spark):
    """VERDICT r18 #8 pin: the streamed index-append lifecycle restarts
    mid-stream (the declared query's two checkpointed phases) and must
    (a) certify its own exactly-once contracts - codes_exact (combined
    code table has n_vectors * PQ_M rows, all (id, m) distinct, i.e. no
    replayed duplicate and no lost append) and resumed_only_delta
    (phase 2 read exactly the late files from the offset log) - and
    (b) serve an ADC top-k VALUE-IDENTICAL to the batch append path
    (sim_index_append): PQ encoding is per-row, so stream and batch can
    never legitimately drift."""
    from web_maxiv_hdbppviewer_spark.plans.extensions import (
        sim_index_append, stream_index_append,
    )

    sf = "/root/testdata/sf0.001"
    streamed = stream_index_append(spark, sf).collect()
    assert streamed, "served top-k must be non-empty"
    assert all(r["codes_exact"] for r in streamed)
    assert all(r["resumed_only_delta"] for r in streamed)
    batch = sim_index_append(spark, sf).collect()
    assert [
        (r["q_id"], r["cand_id"], r["acos_r"], r["rank"]) for r in streamed
    ] == [
        (r["q_id"], r["cand_id"], r["acos_r"], r["rank"]) for r in batch
    ], "streamed append must serve the exact batch-append ranking"


def test_degenerate_docs_do_not_kill_text_stats(spark):
    """r19 textquality review: under ANSI mode (Spark 4 default) a
    single token-less document (empty / whitespace-only text) used to
    throw DIVIDE_BY_ZERO inside quality_scores' and bpe_token_stats'
    ratio projections and kill the WHOLE job - the one-bad-row-at-100TB
    hazard class. The NULLIF guards must keep the row with NULL ratios;
    healthy docs are unaffected. bm25_scores at b=1.0 (zero-token doc
    -> denominator tf+norm == 0) must emit the BM25 tf->0 limit (a 0
    contribution), not crash."""
    from web_maxiv_hdbppviewer_spark.operators import textquality as tq

    docs = spark.createDataFrame(
        [
            (0, "the cat and the hat of the house"),
            (1, ""),           # empty -> token-less
            (2, "   "),        # space-only -> token-less
            # tab/newline runs are NON-empty under the defined
            # space-split tokenizer (words()): 2 "tokens", ratios
            # well-defined - included to pin that the guard does not
            # over-trigger
            (3, "\t\n \n\t"),
        ],
        "doc_id long, text string",
    )
    q = {r["doc_id"]: r for r in tq.quality_scores(docs).collect()}
    assert set(q) == {0, 1, 2, 3}, "degenerate rows must survive"
    assert q[0]["quality"] is not None and q[0]["n_tokens"] == 8
    for i in (1, 2):
        assert q[i]["n_tokens"] == 0
        assert q[i]["stop_ratio"] is None
        assert q[i]["distinct_ratio"] is None
        assert q[i]["quality"] is None
    assert q[3]["n_tokens"] == 2 and q[3]["quality"] is not None

    b = {r["doc_id"]: r for r in tq.bpe_token_stats(docs).collect()}
    assert b[0]["mean_tok_len"] is not None
    for i in (1, 2, 3):  # BPE pattern skips \s entirely: all three empty
        assert b[i]["n_bpe"] == 0 and b[i]["mean_tok_len"] is None

    # b=1.0 puts norm at k1*b*dl/avgdl: zero for the token-less docs
    s = {
        r["doc_id"]: r["bm25"]
        for r in tq.bm25_scores(docs, ["cat", "zzz"], b=1.0).collect()
    }
    assert set(s) == {0, 1, 2, 3}
    assert s[0] is not None and s[0] > 0.0
    for i in (1, 2):
        assert s[i] == 0.0, "tf->0 limit is a zero score, not a crash"

    e = {r["id"]: r for r in tq.unigram_entropy(docs).collect()}
    assert e[0]["n_distinct"] == 6  # size(counts) == distinct count
    assert e[1]["n_tokens"] == 0 and e[1]["entropy_r"] == 0.0


def _md5_int60(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_weighted_sample_key_resolves_large_equal_weight_corpora(spark):
    """r19 sampling review: the old round-6 of the ln(u)/w QUOTIENT
    quantized absolutely - with realistic weights (~2000 chars) every
    key lay in [-0.021, 0] and the top bin collected mass ties, so the
    'weighted' sample silently became the smallest doc_ids. The
    nano-nat key (round(ln(u)*1e9) / w) is relative to ln(u): on a
    2000-doc equal-weight corpus the selection must be hash-ordered,
    not id-ordered, and must equal the exact Python replay."""
    from pyspark.sql import functions as F  # noqa: F401

    from web_maxiv_hdbppviewer_spark.operators.sampling import weighted_sample

    n, k, w = 2000, 50, 2000
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit(w).alias("n_chars")
    )
    got = [r["doc_id"] for r in weighted_sample(docs, k).collect()]
    assert len(got) == k
    # exact replay: key = round(ln((h+1)/2^60)*1e9) / w, top-k desc
    import math

    def key(i):
        u = (_md5_int60(f"wsample:{i}") + 1) / float(1 << 60)
        fp = round(math.log(u) * 1e9)
        return fp / w

    want = sorted(range(n), key=lambda i: (-key(i), i))[:k]
    assert got == want, "selection must follow the E-S key order exactly"
    assert got != list(range(k)), (
        "equal weights must NOT collapse to smallest-id order"
    )


def test_pack_sequences_orders_by_full_hash_not_bucket(spark):
    """r19 sampling review: within a shard the pack order is the FULL
    60-bit seeded hash (then id) - the coarse 10k bucket would pack
    |shard|/10k-document doc_id runs contiguously at scale. Pinned by
    replaying the exact hash order in Python; shard assignment (bucket
    % n_shards) is unchanged."""
    from pyspark.sql import functions as F  # noqa: F401

    from web_maxiv_hdbppviewer_spark.operators.sampling import (
        BUCKETS, pack_sequences,
    )

    docs = spark.createDataFrame(
        [(i, "tok " * (i % 7 + 1)) for i in range(300)],
        "doc_id long, text string",
    )
    rows = pack_sequences(docs, seq_len=16, n_shards=4).collect()
    by_shard: dict = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r)
    for shard, rs in by_shard.items():
        rs.sort(key=lambda r: r["start_tok"])
        got_order = [r["doc_id"] for r in rs]
        want_order = sorted(
            got_order, key=lambda i: (_md5_int60(f"pack:{i}"), i)
        )
        assert got_order == want_order, f"shard {shard} not in hash order"
        # shard assignment still derives from the bucket
        for r in rs:
            assert (_md5_int60(f"pack:{r['doc_id']}") % BUCKETS) % 4 == shard
        # streams tile: start_tok cumsum is gapless
        pos = 0
        for r in rs:
            assert r["start_tok"] == pos
            pos = r["end_tok"]


def test_temperature_rebalance_null_stratum_is_a_real_domain(spark):
    """r19 sampling review: NULL-source rows previously vanished from
    the kept-count join (equi-join drops NULL keys) while still setting
    n_min - every other domain's fraction was depressed by a stratum
    that itself kept nothing. Null-safe joins make the NULL stratum a
    first-class domain: it keeps by its own threshold (the rarest
    domain keeps everything)."""
    from pyspark.sql import functions as F  # noqa: F401

    from web_maxiv_hdbppviewer_spark.operators.sampling import (
        temperature_rebalance,
    )

    rows = [(i, "web") for i in range(400)] + [
        (1000 + i, None) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = {r["source"]: r for r in temperature_rebalance(df, 0.5).collect()}
    assert set(out) == {"web", None}
    null_row = out[None]
    assert null_row["n_total"] == 10
    assert null_row["keep_bp"] == 10_000, "rarest domain keeps everything"
    assert null_row["n_kept"] == 10, "NULL stratum must actually keep rows"
    assert out["web"]["keep_bp"] == round((10 / 400) ** 0.5 * 10_000)
    import pytest

    with pytest.raises(ValueError, match="alpha"):
        temperature_rebalance(df, 1.5)


def test_sampling_parameter_guards(spark):
    """r19 sampling review: the validation gaps - a negative fraction
    that sums to 1.0, non-positive seq_len/n_shards, non-positive DSIR
    n_buckets - now raise instead of silently producing wrong splits /
    NULL assignments / empty selections."""
    import pytest

    from web_maxiv_hdbppviewer_spark.operators import sampling

    docs = spark.createDataFrame(
        [(1, "a b c", "en")], "doc_id long, text string, lang string"
    )
    with pytest.raises(ValueError, match="outside"):
        sampling.hash_split(docs, {"train": 1.1, "val": -0.1})
    with pytest.raises(ValueError, match="seq_len"):
        sampling.pack_sequences(docs, seq_len=0)
    with pytest.raises(ValueError, match="n_shards"):
        sampling.pack_sequences(docs, seq_len=16, n_shards=0)
    with pytest.raises(ValueError, match="n_buckets"):
        sampling.dsir_select(docs, 5, n_buckets=0)


def test_write_training_shards_tolerates_split_on_docs(spark, tmp_path):
    """r19 sampling review: passing hash_split output as ``docs`` (split
    lives on BOTH frames) used to raise an ambiguous-reference
    AnalysisException at the repartition; the pack assignment columns
    are now authoritative and the docs-side duplicates are dropped."""
    from web_maxiv_hdbppviewer_spark.operators.sampling import (
        hash_split, pack_sequences, write_training_shards,
    )

    docs = spark.createDataFrame(
        [(i, "tok " * 5) for i in range(40)], "doc_id long, text string"
    )
    split_docs = hash_split(docs, {"train": 0.5, "val": 0.5})
    packed = pack_sequences(split_docs, seq_len=16, n_shards=2, by=["split"])
    path = str(tmp_path / "shards")
    write_training_shards(split_docs, packed, path)
    out = spark.read.parquet(path)
    assert out.count() == 40
    assert set(r["split"] for r in out.select("split").distinct().collect()) \
        <= {"train", "val"}


def test_log_axis_bins_on_log10_positions(spark):
    """r19 lifecycle review (reference parity): datashader with
    y_axis_type='log' (reference plot.py:22-24) bins on log10 POSITIONS
    while aggregating raw values; the engine previously binned log axes
    in LINEAR value space, collapsing an exponential decade spread into
    the bottom pixels. Pin: a three-decade series (10/100/1000) on a
    log axis lands its points at equally-spaced canvas heights, the
    aggregated values stay RAW, and a linear axis reproduces the
    historical geometry."""
    from datetime import datetime

    from pyspark.sql import functions as F  # noqa: F401

    from web_maxiv_hdbppviewer_spark.api.lifecycle import HdbppQueryEngine
    from web_maxiv_hdbppviewer_spark.sources.fixtures import hdbpp_fixture
    from tests.conftest import SF_SMOKE

    catalog, datapoints = hdbpp_fixture(spark, SF_SMOKE)
    # replace the fixture datapoints with a constructed 3-decade series
    # on one known attribute id
    uid = datapoints.select("att_conf_id").limit(1).collect()[0][0]
    t_mid = datetime(2024, 1, 2, 12, 0, 0)
    rows = [
        (uid, datetime(2024, 1, 2, 12, 0, i), float(v))
        for i, v in enumerate((10.0, 100.0, 1000.0))
    ]
    dp = spark.createDataFrame(
        rows, "att_conf_id int, ts timestamp, value_r double"
    )
    engine = HdbppQueryEngine(catalog, dp)
    name_row = catalog.att_conf.where(
        F.col("att_conf_id") == uid
    ).collect()[0]
    name = f"{name_row['cs_name']}/{name_row['att_name']}"
    attrs = [{"name": name, "y_axis": 0}]
    t0 = datetime(2024, 1, 2, 11, 0, 0)
    t1 = datetime(2024, 1, 2, 13, 0, 0)
    h = 90

    aggs = engine.image_aggregates(
        attrs, t0, t1, (100, h), axes={"0": {"scale": "log", "min": 10, "max": 1000}}
    )
    ax = aggs[0]
    import math

    # manual bounds then the reference's 5% LOG-space pad (plot.py:181-185)
    b0, b1 = ax["bin_range"]
    assert (b0, b1) == (0.9, 3.1)
    assert ax["y_range"] == (10 ** 0.9, 10 ** 3.1)
    got = {r["vmin"]: r["yb"] for r in ax["raster"].collect()}
    # raw values preserved in aggregates; log10 POSITIONS in yb - the
    # three decades land equally spaced on the canvas
    assert set(got) == {10.0, 100.0, 1000.0}
    bins = [
        math.floor((math.log10(v) - b0) / (b1 - b0) * h)
        for v in (10.0, 100.0, 1000.0)
    ]
    assert [got[10.0], got[100.0], got[1000.0]] == bins
    spacings = [bins[1] - bins[0], bins[2] - bins[1]]
    assert abs(spacings[0] - spacings[1]) <= 1, "decades must be equidistant"
    # linear axis: the historical geometry (100 of the padded band sits low)
    lin = engine.image_aggregates(
        attrs, t0, t1, (100, h),
        axes={"0": {"scale": "linear", "min": 10, "max": 1000}},
    )[0]
    ly0, ly1 = lin["y_range"]
    lin_got = {r["vmin"]: r["yb"] for r in lin["raster"].collect()}
    assert lin_got[100.0] == math.floor((100 - ly0) / (ly1 - ly0) * h)
    assert lin_got[100.0] < h // 4, "linear geometry keeps 100 low on the canvas"


def test_lifecycle_api_hardening(spark):
    """r19 lifecycle review pins: (1) an empty attributes list resolves
    to an empty result instead of crashing schema inference; (2) color
    specs accept #rgb shorthand and basic names, and reject garbage
    with a clear error; (3) run_cancellable restores the caller's
    thread-local job properties - including interruptOnCancel - instead
    of leaking executor-interrupt onto every later job."""
    from datetime import datetime

    import pytest

    from web_maxiv_hdbppviewer_spark.api.lifecycle import (
        HdbppQueryEngine, _parse_color,
    )
    from web_maxiv_hdbppviewer_spark.sources.fixtures import hdbpp_fixture
    from tests.conftest import SF_SMOKE

    catalog, datapoints = hdbpp_fixture(spark, SF_SMOKE)
    engine = HdbppQueryEngine(catalog, datapoints)
    assert engine._resolve([]) == {}
    out = engine.query_raw_df([], datetime(2024, 1, 1), datetime(2024, 1, 2))
    assert out.collect() == []

    assert _parse_color("#abc") == (0xAA, 0xBB, 0xCC)
    assert _parse_color("#a1b2c3") == (0xA1, 0xB2, 0xC3)
    assert _parse_color("red") == (255, 0, 0)
    assert _parse_color(" Navy ") == (0, 0, 128)
    with pytest.raises(ValueError, match="color"):
        _parse_color("#abcd")
    with pytest.raises(ValueError, match="color"):
        _parse_color("not-a-color")

    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", "outer-req")
    try:
        engine.run_cancellable("inner-req", lambda: 1)
        assert sc.getLocalProperty("spark.jobGroup.id") == "outer-req"
        assert sc.getLocalProperty("spark.job.interruptOnCancel") in (
            None, "false",
        ), "interruptOnCancel must not leak past the cancellable scope"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_source_layer_hardening(spark, tmp_path):
    """r19 sources review pins: (1) a single time bound filters instead
    of silently scanning full history; (2) aware non-UTC datetimes are
    converted - not wall-clock-reinterpreted - before day-key
    enumeration, so the period IN-list agrees with the ts predicate;
    (3) search limit=0 caps at zero rows instead of disabling the cap;
    (4) the Cassandra reader refuses non-numeric scalar families loudly
    instead of ANSI-crashing or silently nulling; (5) write_datapoints
    declares the partition-column-leading sort so the writer inserts no
    sort of its own."""
    from datetime import datetime, timedelta, timezone

    import pytest

    from web_maxiv_hdbppviewer_spark.sources.cassandra import (
        read_cassandra_datapoints,
    )
    from web_maxiv_hdbppviewer_spark.sources.hdbpp import (
        day_partitions, match_names, read_datapoints, write_datapoints,
    )
    from web_maxiv_hdbppviewer_spark.sources.fixtures import hdbpp_fixture
    from tests.conftest import SF_SMOKE

    _, datapoints = hdbpp_fixture(spark, SF_SMOKE)
    path = str(tmp_path / "dp")
    write_datapoints(datapoints, path)
    total = spark.read.parquet(path).count()
    t_mid = datetime(2024, 1, 3)
    lo_only = read_datapoints(spark, path, t0=t_mid).count()
    hi_only = read_datapoints(spark, path, t1=t_mid).count()
    assert 0 < lo_only < total, "a lone lower bound must filter"
    assert 0 < hi_only < total, "a lone upper bound must filter"
    # the two halves partition the store (boundary row counted twice at
    # most; ts == t_mid lands in both inclusive bounds)
    both = read_datapoints(
        spark, path, t0=t_mid, t1=t_mid
    ).count()
    assert lo_only + hi_only == total + both

    # aware non-UTC bounds enumerate the same days as their UTC instant
    aware = datetime(2024, 1, 1, 1, 0, tzinfo=timezone(timedelta(hours=2)))
    naive_utc = datetime(2023, 12, 31, 23, 0)
    assert day_partitions(aware, aware) == day_partitions(naive_utc, naive_utc)
    assert day_partitions(aware, aware) == ["2023-12-31"]

    names = [f"a/b/c/attr{i}" for i in range(5)]
    assert match_names(names, "*", limit=0) == []
    assert len(match_names(names, "*", limit=None)) == 5

    with pytest.raises(ValueError, match="devstring"):
        read_cassandra_datapoints(spark, "hdb", "scalar_devstring_ro")


def test_nonfinite_endpoints_still_paint_nothing():
    """r18 finite-guard preserved: NaN/inf endpoints draw no pixels and
    raise nothing."""
    w, h = 32, 32
    for bad in (np.nan, np.inf, -np.inf):
        assert _clipped_walk(bad, 10.0, 20.0, 10.0, w, h).sum() == 0
        assert _clipped_walk(5.0, bad, 20.0, 10.0, w, h).sum() == 0
        assert _clipped_walk(5.0, 10.0, bad, bad, w, h).sum() == 0


# --- optimization r19: boilerplate df-pass min/max rewrite ---------------


def test_boilerplate_minmax_df_pass_matches_count_distinct(spark):
    """min_df=2 now tests min(id) != max(id) instead of
    count_distinct(id) >= 2 (one map-side-combinable g-keyed exchange
    instead of the distinct-count's two). The rewrite is exact: >= 2
    distinct non-null ids iff min != max. Pin value parity against the
    general count-distinct branch (min_df=3 exercises it) and against a
    corpus with the adversarial case - a gram repeated WITHIN one doc
    (must not be boiler) next to a gram shared ACROSS docs (must be)."""
    from pyspark.sql import functions as F

    from web_maxiv_hdbppviewer_spark.operators import textquality

    header = "shared header gram words one two three eight"  # 8 words
    docs = [
        # the 8-gram "a b c d e f g h" occurs TWICE in doc 1 (positions
        # 0 and 8) but in no other doc: within-doc repetition must not
        # make it boiler under either df-pass implementation
        (1, "a b c d e f g h a b c d e f g h"),
        (2, header + " alpha beta"),
        (3, header + " gamma delta"),
        (4, "wholly unique text with no overlapping gram content here"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        r["id"]: r
        for r in textquality.boilerplate_stats(df, k=8, min_df=2).collect()
    }
    # doc 1: 9 gram positions, none boiler (its repeat is within-doc)
    assert out[1]["n_grams"] == 9 and out[1]["n_boiler"] == 0
    # docs 2/3: the 3 8-grams inside the 10-word text that lie fully in
    # the shared 8-word header + suffix overlap... compute directly:
    # each text has 10 words -> 3 positions; only position 0 (the header
    # itself) is shared across docs
    for did in (2, 3):
        assert out[did]["n_grams"] == 3 and out[did]["n_boiler"] == 1
    assert out[4]["n_boiler"] == 0

    # independent replay with the general branch's arithmetic
    from web_maxiv_hdbppviewer_spark.functions.texthash import (
        word_kgrams, words,
    )

    toks = words(F.col("text"))
    grams = df.select(
        F.col("doc_id").alias("id"),
        F.explode(word_kgrams(toks, 8)).alias("g"),
    )
    boiler = (
        grams.groupBy("g")
        .agg(F.count_distinct("id").alias("dfd"))
        .where("dfd >= 2")
        .select("g")
    )
    want = {
        r["id"]: r["nb"]
        for r in grams.join(boiler, "g", "left_semi")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("nb"))
        .collect()
    }
    for did in (1, 2, 3, 4):
        assert out[did]["n_boiler"] == want.get(did, 0)


def test_boilerplate_minmax_plan_drops_one_exchange(spark):
    """Self-relative plan pin: on the same frame, the min_df=2 plan
    carries exactly one fewer Exchange than the count-distinct branch
    (min_df=3), because the (g, id) incidence exchange is gone."""
    from web_maxiv_hdbppviewer_spark.operators import textquality

    df = spark.createDataFrame(
        [(1, "a b c d e f g h i"), (2, "a b c d e f g h j")],
        "doc_id long, text string",
    )

    def n_exchanges(min_df):
        plan = (
            textquality.boilerplate_stats(df, k=8, min_df=min_df)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        return plan.count("Exchange hashpartitioning")

    assert n_exchanges(2) == n_exchanges(3) - 1


def test_symmetric_diff_count_equals_directional_anti_joins(spark):
    """scale_bucketed's one-job mismatch count (optimization r19) must
    equal the two directional anti-joins it replaced, on frames built to
    exercise every case: agreeing keys, value disagreements (both
    directions), one-sided keys on each side, duplicate rows, and NULL
    keys (an equi-anti-join never matches NULLs, so a NULL-keyed row
    must count as mismatched on both sides even when the tuples agree)."""
    from pyspark.sql import functions as F

    from web_maxiv_hdbppviewer_spark.plans.extensions import (
        _symmetric_diff_count,
    )

    cols = ["k", "n", "mx"]
    schema = "k long, n long, mx double"
    a = spark.createDataFrame(
        [
            (1, 10, 1.5),    # agrees with b
            (2, 20, 2.5),    # value disagreement vs b's (2, 21, 2.5)
            (3, 30, 3.5),    # only in a
            (5, 50, 5.5),    # duplicated row in a, single in b
            (5, 50, 5.5),
            (None, 70, 7.5), # NULL key, tuple-identical in b
        ],
        schema,
    )
    b = spark.createDataFrame(
        [
            (1, 10, 1.5),
            (2, 21, 2.5),
            (4, 40, 4.5),    # only in b
            (5, 50, 5.5),
            (None, 70, 7.5),
        ],
        schema,
    )
    expected = (
        a.join(b, cols, "left_anti").count()
        + b.join(a, cols, "left_anti").count()
    )
    # the NULL-keyed rows are anti-join mismatches on BOTH sides despite
    # equal tuples - guard that the fixture really exercises that case
    assert expected == 2 + 1 + 1 + 1 + 1  # (2,*) both ways, 3, 4, NULLs
    assert _symmetric_diff_count(a, b, cols) == expected
    # self-comparison: the NULL-free rows all match (0), while the
    # NULL-keyed row never anti-join-matches even itself - both forms
    # agree on that too
    a_nn = a.where(F.col("k").isNotNull())
    assert _symmetric_diff_count(a_nn, a_nn.select(*cols), cols) == 0
    assert _symmetric_diff_count(a, a.select(*cols), cols) == (
        a.join(a.select(*cols), cols, "left_anti").count() * 2
    )


def test_pagerank_single_read_superstep_covers_all_nodes(spark):
    """The r19 superstep rebuilds state from (contrib JOIN deg) with an
    INNER join - sound only because on the doubled edge list every node
    is both a src and a dst, so the contribution aggregate covers the
    whole node set. Pin the minimal cases where a lost node would show:
    a single edge (both endpoints degree-1), and a leaf whose only
    neighbor contributes pr DIV deg == 0 after truncation (the row must
    still exist: zero-valued contribution, not absent node)."""
    from pyspark.sql import functions as F

    from web_maxiv_hdbppviewer_spark.operators.graph import pagerank

    # single undirected pair: symmetric, both nodes present, equal pr
    one = spark.createDataFrame([(1, 2)], "src long, dst long")
    rows = {r["id"]: r["pr"] for r in pagerank(one, iterations=3).collect()}
    assert set(rows) == {1, 2} and rows[1] == rows[2]

    # zero-valued contributions: scale=1 makes every pr DIV deg == 0
    # after the first step, so every node's incoming sum is 0 - the
    # node set must survive (9 nodes, star + path, two components)
    edges = [(0, i) for i in range(1, 6)] + [(6, 7), (7, 8)]
    df = spark.createDataFrame(edges, "src long, dst long")
    tiny = pagerank(df, iterations=4, scale=1)
    assert tiny.count() == 9
    assert tiny.where(F.col("pr").isNull()).count() == 0
