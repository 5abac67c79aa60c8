"""Similarity search over embedding columns (SURVEY §7.1 M6).

Two paths:
  - brute-force cosine top-k: the correctness baseline - broadcast the
    (small) query set against the full corpus, rank per query. At 100 TB
    the corpus side streams; only queries x k rows survive the window.
  - LSH-bucketed ANN: random-hyperplane sign buckets partition the corpus;
    the join is bucket-equi (co-partitioned, no cross product), trading
    recall for a candidate set ~1/2^nbits of the corpus per query. This is
    the scale path; swap the bucket function for learned IVF centroids
    without touching the query shape. Int8 quantization
    (``quantize_embeddings``) is the orthogonal memory/bandwidth lever.

Ranking is by ROUND(cosine, 6) desc with id tiebreak - rounding first makes
the rank deterministic across engines despite float-sum ordering.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import as_double_array, cosine, dot, norm


def with_norms(df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """(id, vec as double array, norm) - materialize once, reuse in joins."""
    v = as_double_array(vec_col)
    return df.select(F.col(id_col).alias("id"), v.alias("vec"), norm(v).alias("nrm"))


def topk_cosine(
    df: DataFrame,
    k: int,
    query_ids_below: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k: for each query vector (id < query_ids_below),
    the k nearest other vectors. Output (q_id, cand_id, cos_r, rank)."""
    base = with_norms(df, id_col, vec_col)
    q = base.select(F.col("id").alias("q_id"), F.col("vec").alias("q_vec"), F.col("nrm").alias("q_nrm"))
    q = q.where(F.col("q_id") < query_ids_below)
    c = base.select(F.col("id").alias("cand_id"), F.col("vec").alias("c_vec"), F.col("nrm").alias("c_nrm"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("cand_id") != F.col("q_id"))
        .select(
            "q_id",
            "cand_id",
            F.round(
                cosine(F.col("q_vec"), F.col("c_vec"), F.col("q_nrm"), F.col("c_nrm")), 6
            ).alias("cos_r"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_r").desc(), F.col("cand_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
    )


def topk_mips(
    df: DataFrame,
    k: int,
    query_ids_below: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximum-inner-product top-k (MIPS) - the retrieval primitive for
    recommendation / dense-retrieval scoring where vectors are NOT
    normalized and cosine is the wrong objective (a longer document
    vector SHOULD outrank a shorter one at equal angle).

    Output (q_id, cand_id, ip_r, rank, aug_ok): exact top-k by round-6
    inner product (ids tiebreak), plus the norm-augmentation reduction
    (Bachrach et al. 2014; Shrivastava & Li 2014 L2-ALSH lineage)
    verified as an in-engine contract: augment every candidate with an
    extra coordinate sqrt(M^2 - |x|^2) (M = corpus max norm) and every
    query with 0 - then |x'| = M for ALL candidates, so cosine ranking
    over the augmented vectors IS inner-product ranking, which is
    exactly what makes the battery's existing cosine machinery
    (sign-LSH bands, IVF cells, PQ codes) applicable to MIPS unchanged.
    ``aug_ok`` certifies per row that the rank computed from the
    honestly-materialized augmented arrays (concat + full cosine, raw
    doubles) equals the direct inner-product rank; the oracle pins it
    true, so a broken reduction flips the hash.

    Scale shape: the exact path is the brute-force baseline (same shape
    as ``topk_cosine``: per-query broadcast, one ranking window per
    query partition); the documented scale path is the reduction + any
    ANN index above."""
    base = with_norms(df, id_col, vec_col)
    mx = base.agg(F.max("nrm").alias("mx"))
    q = base.where(F.col("id") < query_ids_below).select(
        F.col("id").alias("q_id"),
        F.col("vec").alias("q_vec"),
        F.col("nrm").alias("q_nrm"),
    )
    c = base.select(
        F.col("id").alias("cand_id"),
        F.col("vec").alias("c_vec"),
        F.col("nrm").alias("c_nrm"),
    )
    # augmented candidate: ext = sqrt(max(M^2 - |x|^2, 0)) (clamped -
    # float error can push the max-norm row's argument epsilon-negative)
    ext = F.sqrt(
        F.greatest(
            F.col("mx") * F.col("mx") - F.col("c_nrm") * F.col("c_nrm"),
            F.lit(0.0),
        )
    )
    scored = (
        c.crossJoin(F.broadcast(mx))
        .select(
            "cand_id",
            "c_vec",
            "c_nrm",
            F.concat(F.col("c_vec"), F.array(ext)).alias("c_aug"),
        )
        .crossJoin(F.broadcast(q))
        .where(F.col("cand_id") != F.col("q_id"))
        .select(
            "q_id",
            "cand_id",
            dot(F.col("q_vec"), F.col("c_vec")).alias("ip"),
            # augmented cosine, computed the honest way: q' = [q, 0], so
            # dot(q', x') = dot(q, x) but |x'| comes from the materialized
            # augmented array, NOT from the algebraic identity |x'| = M
            (
                dot(
                    F.concat(F.col("q_vec"), F.array(F.lit(0.0))),
                    F.col("c_aug"),
                )
                / (F.col("q_nrm") * F.sqrt(dot(F.col("c_aug"), F.col("c_aug"))))
            ).alias("aug_cos"),
        )
    )
    # hashed output rank: round-6 ip + id tiebreak (engine-portable, the
    # house ranking discipline). The reduction contract compares RAW
    # against RAW (raw-ip order vs raw-augmented-cosine order) - mixing
    # a rounded key into one side would report false mismatches wherever
    # round-6 collapses distinct products.
    w_out = Window.partitionBy("q_id").orderBy(
        F.round(F.col("ip"), 6).desc(), F.col("cand_id").asc()
    )
    w_ip = Window.partitionBy("q_id").orderBy(
        F.col("ip").desc(), F.col("cand_id").asc()
    )
    # Snap exact-ip ties before the augmented ranking: rows with
    # bitwise-equal raw ip are order-indifferent under MIPS, but the
    # materialized |x'| only APPROXIMATES M per candidate, so their
    # aug_cos values can differ by float noise and flip the w_aug order
    # against w_ip's cand_id tiebreak - a data-dependent false
    # aug_ok=false. Sharing one representative aug_cos across each
    # exact-ip peer group (RANGE CURRENT ROW..CURRENT ROW = all peers of
    # the ip sort key; reuses the q_id exchange, no extra shuffle) makes
    # both rankings fall to the cand_id tiebreak on ties; distinct-ip
    # rows are singleton peer groups, so the contract binds unchanged.
    # The snap is GATED on the group's spread staying inside a float-
    # noise bound: an unconditional max would also absorb a genuine
    # per-row aug_cos corruption inside a tie group (e.g. a broken ext
    # clamp on the max-norm candidate), certifying a row whose raw value
    # disagrees with the reduction. Noise from the materialized |x'| is
    # a handful of ulps; corruption is not - outside the bound every row
    # keeps its raw aug_cos and a corrupted row surfaces as aug_ok=false.
    w_peer = (
        Window.partitionBy("q_id")
        .orderBy(F.col("ip").desc())
        .rangeBetween(Window.currentRow, Window.currentRow)
    )
    spread_ok = (
        F.max("aug_cos").over(w_peer) - F.min("aug_cos").over(w_peer)
    ) <= F.lit(1e-9) * F.greatest(F.abs(F.max("aug_cos").over(w_peer)), F.lit(1.0))
    scored = scored.withColumn(
        "aug_snap",
        F.when(spread_ok, F.max("aug_cos").over(w_peer)).otherwise(
            F.col("aug_cos")
        ),
    )
    w_aug = Window.partitionBy("q_id").orderBy(
        F.col("aug_snap").desc(), F.col("cand_id").asc()
    )
    return (
        scored.select(
            "q_id",
            "cand_id",
            F.round(F.col("ip"), 6).alias("ip_r"),
            F.row_number().over(w_out).cast("long").alias("rank"),
            (F.row_number().over(w_ip) == F.row_number().over(w_aug)).alias(
                "aug_ok"
            ),
        )
        .where(F.col("rank") <= k)
    )


def sign_bucket(vec_col, nbits: int = 8, offset: int = 0):
    """Coordinate-sign LSH bucket: bit i set iff vec[offset + i] >= 0.

    KEPT ONLY as the baseline a property test demonstrates failing:
    correlated dimensions (e.g. embeddings whose leading coordinates share a
    sign corpus-wide) collapse every vector into one bucket, so the
    candidate join degrades to all-pairs. Production paths use
    ``hyperplane_bucket``.
    """
    bits = [
        F.when(F.element_at(vec_col, offset + i + 1) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        for i in range(nbits)
    ]
    bit_sum = bits[0]
    for b in bits[1:]:
        bit_sum = bit_sum + b
    return bit_sum


#: Deterministic Rademacher (+-1) hyperplane matrix for sign LSH, 64 planes x
#: 64 dims - generated by the same 64-bit MMIX LCG discipline as
#: ``operators.dedup.MINHASH_AB`` (independent seed) so the DuckDB oracle can
#: inline the IDENTICAL literals and buckets agree bit-for-bit. +-1 entries
#: keep every product exact (term = +-v[j], a sign flip on a double), so the
#: left-to-right term sum is bit-identical across engines; ROUND(dot, 6)
#: before the >= 0 test is the engine-portability discipline used everywhere
#: else (collapses any reordering noise an engine might introduce).
HYPERPLANE_DIM = 64


def _hyperplanes(n: int, dim: int) -> list[list[int]]:
    x, out = 0xC2B2AE3D27D4EB4F, []
    for _ in range(n):
        row = []
        for _ in range(dim):
            x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            row.append(1 if (x >> 63) else -1)
        out.append(row)
    return out


HYPERPLANES = _hyperplanes(HYPERPLANE_DIM, HYPERPLANE_DIM)


def plane_dot(vec_col, plane_idx: int):
    """ROUND(dot(vec, HYPERPLANES[plane_idx]), 6) as a left-to-right chain
    of +-vec[j] terms - pure codegen (each term is an exact sign flip of a
    double, so any engine evaluating a left-associated sum agrees
    bit-for-bit; the ROUND absorbs sign-of-zero corner cases)."""
    dot = None
    for j, s in enumerate(HYPERPLANES[plane_idx]):
        term = F.element_at(vec_col, j + 1)
        if s < 0:
            term = -term
        dot = term if dot is None else dot + term
    return F.round(dot, 6)


def _all_plane_dots_kernel(emb_series):
    """pandas kernel: n x dim float batch -> n x HYPERPLANE_DIM raw dots.

    Vectorized across ROWS, sequential across DIMS: acc = acc + (+-V[:, j])
    is the same left-to-right double addition as the oracle's SQL chain and
    ``plane_dot``'s codegen chain, element for element - numpy's own
    matmul/add.reduce use pairwise summation and would NOT be bit-identical.
    Rounding deliberately stays JVM-side (F.round), keeping the established
    cross-engine ROUND discipline in one place.
    """
    import numpy as np
    import pandas as pd

    if len(emb_series) == 0:
        return pd.Series([], dtype=object)
    v = np.stack(emb_series.to_numpy()).astype(np.float64)
    n, dim = v.shape
    out = np.empty((n, HYPERPLANE_DIM), dtype=np.float64)
    for p in range(HYPERPLANE_DIM):
        plane = HYPERPLANES[p]
        acc = v[:, 0] if plane[0] > 0 else -v[:, 0]
        for j in range(1, dim):
            acc = acc + (v[:, j] if plane[j] > 0 else -v[:, j])
        out[:, p] = acc
    return pd.Series(list(out))


def all_plane_dots(vec_col):
    """All HYPERPLANE_DIM raw plane dots as one array<double> column via an
    Arrow-batched pandas UDF - the scale path for multi-band consumers
    (inlining every band's terms as expressions overflows the JVM 64 KB
    codegen method limit; a 4096-node interpreted expression tree is ~50x
    slower than this kernel)."""
    from pyspark.sql.functions import pandas_udf

    return pandas_udf(_all_plane_dots_kernel, "array<double>")(vec_col)


def hyperplane_bucket(vec_col, nbits: int = 8, plane_offset: int = 0):
    """Random-hyperplane sign LSH bucket: bit i set iff
    ROUND(dot(vec, HYPERPLANES[plane_offset + i]), 6) >= 0.

    Replaces coordinate-sign bucketing: each bit now projects the WHOLE
    vector onto an independent pseudo-random hyperplane, so correlated
    dimensions cannot collapse the bucket space (Charikar'02 sign-random-
    projection; collision probability 1 - theta/pi per bit).

    One expression of nbits x dim inlined terms: fine for single buckets of
    a few bits (codegen splits projection expressions into separate JVM
    methods), but do NOT inline many of these inside one Generate/explode -
    generate_doConsume can't be split and overflows the JVM's 64 KB method
    limit (measured janino failure at 8x8 bands). Multi-band consumers use
    the ``all_plane_dots`` Arrow kernel instead (see ``near_dup_pairs``).
    """
    bits = [
        F.when(plane_dot(vec_col, plane_offset + i) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        for i in range(nbits)
    ]
    bit_sum = bits[0]
    for b in bits[1:]:
        bit_sum = bit_sum + b
    return bit_sum


def ann_scored_lsh(
    df: DataFrame,
    query_ids_below: int = 10,
    nbits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The LSH bucket-join scoring pass, UNRANKED (r19, VERDICT r18 #3 -
    the ann_scored_ivf/ann_adc_ivfpq factoring applied to the sign-LSH
    method): candidates sharing the query's random-hyperplane sign
    bucket, scored by exact cosine. Returns (q_id, cand_id, cos_r); the
    scored frame does not depend on ``k``, so sim_ann_compare and the
    per-method query rank the SAME session-memoized pass instead of
    re-running the bucket join. Buckets derive from the Arrow plane-dot
    kernel (same bits as ``hyperplane_bucket``, measured ~2x faster
    than the nbits x dim inline expression chain at sf0.1)."""
    dots = all_plane_dots(F.col("vec"))
    bits = [
        F.when(F.round(F.element_at(dots, i + 1), 6) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        for i in range(nbits)
    ]
    bkt = bits[0]
    for b in bits[1:]:
        bkt = bkt + b
    base = with_norms(df, id_col, vec_col).withColumn("bkt", bkt)
    q = base.where(F.col("id") < query_ids_below).select(
        F.col("id").alias("q_id"), F.col("vec").alias("q_vec"), F.col("nrm").alias("q_nrm"), "bkt"
    )
    c = base.select(
        F.col("id").alias("cand_id"), F.col("vec").alias("c_vec"), F.col("nrm").alias("c_nrm"), "bkt"
    )
    return (
        c.join(F.broadcast(q), "bkt")
        .where(F.col("cand_id") != F.col("q_id"))
        .select(
            "q_id",
            "cand_id",
            F.round(
                cosine(F.col("q_vec"), F.col("c_vec"), F.col("q_nrm"), F.col("c_nrm")), 6
            ).alias("cos_r"),
        )
    )


def ann_topk_lsh(
    df: DataFrame,
    k: int,
    query_ids_below: int = 10,
    nbits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """LSH-bucketed approximate top-k: the ``ann_scored_lsh`` bucket
    join ranked per query (cos desc, id asc) and cut to the top ``k``.
    Output (q_id, cand_id, cos_r, rank) - recall < 1 by design. Values
    bit-identical to the pre-split operator (same window, same
    tiebreak, via the shared ``topk_per_query`` tail)."""
    scored = ann_scored_lsh(df, query_ids_below, nbits, id_col, vec_col)
    return topk_per_query(scored, k, "cos_r")


def ann_scored_ivf(
    df: DataFrame,
    query_ids_below: int = 10,
    n_cells: int = 8,
    nprobe_max: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """The IVF-flat probe scan, UNRANKED, carrying each candidate's probe
    ``cell_rank`` (1-based position of the candidate's cell in the
    query's nearest-centroid order) - the ann_adc_ivfpq factoring (r18)
    applied to the flat index, so probe-sweep dials run the assignment +
    probe join + exact cosine ONCE at ``nprobe_max`` and derive every
    smaller setting by a pure ``cell_rank <= nprobe`` filter (each
    candidate keeps exactly one cell and its cosine doesn't depend on
    which probe surfaced it).

    Returns (q_id, cand_id, cos_r, cell_rank).

    Default centroids are the first ``n_cells`` vectors (deterministic,
    training-free seeding so any engine reproduces the cells bit-for-bit);
    pass ``centroids`` = a (cid, cvec) table - e.g. from
    ``train_ivf_centroids`` - to plug in a TRAINED quantizer with the
    identical assignment/probe plan shape. Scale shape: assignment is a
    BROADCAST of the tiny centroid table against the streaming corpus
    (n x K cosines, one pass, no shuffle), the probe is a cell-equi join -
    the same plan IVF indexes execute.
    """
    nprobe = nprobe_max
    base = with_norms(df, id_col, vec_col)
    if centroids is None:
        cents = base.where(F.col("id") < n_cells).select(
            F.col("id").alias("cid"), F.col("vec").alias("cvec"), F.col("nrm").alias("cnrm")
        )
    else:
        cents = centroids.select(
            "cid", "cvec", norm(F.col("cvec")).alias("cnrm")
        )
    sim = F.round(cosine(F.col("vec"), F.col("cvec"), F.col("nrm"), F.col("cnrm")), 6)
    scored_assign = base.crossJoin(F.broadcast(cents)).select(
        "id", "vec", "nrm", "cid", sim.alias("sim")
    )
    # Argmax cell per vector as a map-side-combinable aggregation: the n x K
    # broadcast-join rows collapse to n rows BEFORE the exchange (partial
    # max_by per partition), instead of shuffling+sorting all n x K
    # vector-carrying rows through a Window - the K-fold amplification that
    # made this the one structural scale flaw. Ordering key struct(sim, -cid)
    # reproduces the Window's (sim desc, cid asc) tiebreak exactly, so ranks
    # and hashes are unchanged.
    best = F.max_by(
        F.struct(F.col("cid"), F.col("vec"), F.col("nrm")),
        F.struct(F.col("sim"), (-F.col("cid")).alias("ncid")),
    )
    cells = (
        scored_assign.groupBy("id")
        .agg(best.alias("b"))
        .select("id", F.col("b.vec").alias("vec"), F.col("b.nrm").alias("nrm"),
                F.col("b.cid").alias("cell"))
    )
    # Query probes (nprobe nearest cells): the query set is tiny (filtered
    # BEFORE aggregation), so collect the per-id cell list and slice the
    # (sim desc, cid asc) prefix - same order the Window produced.
    q = (
        scored_assign.where(F.col("id") < query_ids_below)
        .groupBy("id")
        .agg(
            F.slice(
                F.array_sort(
                    F.collect_list(
                        F.struct((-F.col("sim")).alias("ns"), F.col("cid").alias("cid"))
                    )
                ),
                1,
                nprobe,
            ).alias("probes"),
            F.max_by(F.struct(F.col("vec"), F.col("nrm")), F.col("cid")).alias("v"),
        )
        .select(
            F.col("id").alias("q_id"),
            F.col("v.vec").alias("q_vec"),
            F.col("v.nrm").alias("q_nrm"),
            F.posexplode("probes").alias("pr", "p"),
        )
        .select(
            "q_id",
            "q_vec",
            "q_nrm",
            F.col("p.cid").alias("cell"),
            (F.col("pr") + 1).cast("long").alias("cell_rank"),
        )
    )
    c = cells.select(
        F.col("id").alias("cand_id"), F.col("vec").alias("c_vec"), F.col("nrm").alias("c_nrm"), "cell"
    )
    return (
        c.join(F.broadcast(q), "cell")
        .where(F.col("cand_id") != F.col("q_id"))
        .select(
            "q_id",
            "cand_id",
            F.round(
                cosine(F.col("q_vec"), F.col("c_vec"), F.col("q_nrm"), F.col("c_nrm")), 6
            ).alias("cos_r"),
            "cell_rank",
        )
    )


def topk_per_query(
    scored: DataFrame, k: int, score_col: str, id_col: str = "cand_id"
) -> DataFrame:
    """Per-query top-k: rank (score desc, id asc) within q_id, cut to
    ``k``. The ONE definition of the ANN ranking tail - ann_topk_ivf /
    ann_topk_ivfpq wrap their scored pass with it, and the probe sweeps
    apply it to their cell_rank-filtered frames, so a tie-break change
    can never silently diverge between wrapper and sweep (r18 review)."""
    w = Window.partitionBy("q_id").orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).where(F.col("rank") <= k)


def ann_topk_ivf(
    df: DataFrame,
    k: int,
    query_ids_below: int = 10,
    n_cells: int = 8,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-flat approximate top-k: the ``ann_scored_ivf`` probe scan at
    exactly ``nprobe`` cells, ranked per query (cos desc, id asc) and cut
    to the top ``k``. Output (q_id, cand_id, cos_r, rank) - recall < 1 by
    design and rises with ``nprobe`` (the standard IVF recall/cost dial:
    probing p of K cells scans ~p/K of the corpus; each candidate keeps
    exactly one cell, so multi-probe never duplicates a pair). Assignment,
    probe and scale notes live on ``ann_scored_ivf`` (the unranked pass
    this wraps since r18; values bit-identical to the pre-split
    operator)."""
    scored = ann_scored_ivf(
        df, query_ids_below, n_cells, nprobe, id_col, vec_col, centroids
    ).drop("cell_rank")
    return topk_per_query(scored, k, "cos_r")


def expected_lsh_candidates(n_vectors: int, bands: int, band_bits: int) -> float:
    """Expected RANDOM-collision candidate pairs of a banded sign-LSH join
    over ``n_vectors`` unrelated vectors: bands * C(n, 2) / 2^bits - the
    quadratic law the r17 census measured exactly (LSH_BUCKETS_r17.json:
    x100.6 and x105.2 candidates per corpus decade at 8x8; the measured
    8x8 counts sit within 20% of this estimate at 2k/20k/200k vectors).
    True near-duplicates add ~bands * true_pairs on top (they collide in
    every band), which is the linear, unavoidable part of the workload."""
    return bands * (n_vectors * (n_vectors - 1) / 2.0) / float(1 << band_bits)


def lsh_geometry_for(
    n_vectors: int,
    total_planes: int = HYPERPLANE_DIM,
    pairs_per_vector: int = 32,
) -> tuple[int, int]:
    """Corpus-sized banded sign-LSH geometry (bands, band_bits) - the r17
    100x finding as engine behavior (VERDICT r17 #5): band bit-width must
    track the corpus, bits ~ 2*log2(N) - log2(target_pairs/bands), or the
    candidate join grows quadratically (x100 candidates per x10 corpus,
    measured in LSH_BUCKETS_r17.json and validated end-to-end in
    LSH_4X16_100X_r17.json: doubling 8x8 to 4x16 at 200k vectors cut
    candidates 35x and turned a disk-exhausting join into a 22.8 s run
    finding exactly the true 100x pair workload).

    Walks band_bits up the power-of-two ladder within the fixed
    ``total_planes`` hyperplane budget (bands = total_planes // band_bits,
    so narrower bands buy recall back with MORE bands) and returns the
    narrowest bit-width whose expected random-collision candidate volume
    (``expected_lsh_candidates``) stays within ``pairs_per_vector *
    n_vectors`` - a LINEAR total workload. At 2k vectors this picks 8x8
    (the geometry the declared dedup_embedding / sim_knn_graph queries pin
    explicitly - right at test scale, where 4x16 collapses recall: 233
    candidates); at 20k and 200k it picks 4x16 (the validated 100x
    geometry); at web scale (~1e10 docs) it reaches 2x32 within a 64-plane
    budget - the hash lengths production LSH deployments use. Run the
    sim_lsh_census query as the pre-flight to measure, not estimate, a
    real corpus before paying for the pair join."""
    budget = float(pairs_per_vector) * max(n_vectors, 1)
    bits = 4
    while bits < total_planes:
        if expected_lsh_candidates(n_vectors, total_planes // bits, bits) <= budget:
            return total_planes // bits, bits
        bits *= 2
    return 1, total_planes


def near_dup_pairs(
    df: DataFrame,
    min_cos: float,
    bands: int | None = None,
    band_bits: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_vectors: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cos >= min_cos).

    Banded sign-LSH candidate generation + exact cosine verification - the
    same shape as MinHash+LSH dedup: a pair is a candidate iff it agrees on
    ALL bits of at least one of ``bands`` disjoint ``band_bits``-bit
    random-hyperplane sign bands, then only
    candidates get the exact cosine. Each band is an equi-join on its bucket value - co-partitioned
    shuffle joins, never a cross product; candidate volume is ~bands/2^bits
    of all pairs for unrelated vectors, while near-identical vectors collide
    in every band. Recall < 1 by design for background-level min_cos (like
    ``ann_topk_lsh``); truly near-duplicate vectors (cos ~ 1) are recalled
    with overwhelming probability. The DuckDB oracle reproduces the banding
    as one naive OR-join, so parity checks the algorithm, not the plan.

    Geometry defaults to ``lsh_geometry_for`` over the corpus size (one
    count job when ``n_vectors`` isn't supplied) - the r18 default wiring
    the measured bits ~ 2*log2(N) sizing rule in; callers with a pinned
    cross-engine oracle (dedup_embedding, sim_knn_graph) pass their
    geometry explicitly instead.
    """
    if (bands is None) != (band_bits is None):
        raise ValueError(
            "near_dup_pairs geometry is all-or-nothing: pass BOTH bands "
            "and band_bits (a pinned oracle-replayed geometry) or NEITHER "
            "(the lsh_geometry_for corpus-sized default); a half-pinned "
            "geometry would silently pair the caller's value with a rule "
            "value the caller never saw"
        )
    base = with_norms(df, id_col, vec_col)
    # all bands x bits plane dots come from the Arrow-batched numpy kernel
    # (one array column), the JVM side only rounds + thresholds: inlining
    # bands x bits x dim terms into expressions was measured to overflow
    # the 64 KB codegen method limit (janino failure -> interpreted
    # fallback, 50+ s at sf0.1 vs ~1 s for the kernel)
    dotted = base.select("id", all_plane_dots(F.col("vec")).alias("_dots"))
    # materialize ONCE: the candidate self-join otherwise duplicates the
    # whole lineage per side, running the Arrow kernel twice (plan showed 2
    # ArrowEvalPython nodes; r4 measured the 2.05 -> 3.12 s creep). The
    # checkpoint is (id, 64 doubles) - corpus-linear and tiny.
    from .dedup import _memoized_checkpoint

    dotted = _memoized_checkpoint("dots_baseline", dotted)
    if bands is None:
        # Geometry count runs on the MEMOIZED checkpoint, not the raw
        # input (ADVICE r18): with_norms never drops rows, so the counts
        # are equal, but counting `dotted` materializes blocks the
        # candidate self-join needs anyway - an expensive upstream
        # pipeline is computed once, not once-extra for the count.
        n = n_vectors if n_vectors is not None else dotted.count()
        bands, band_bits = lsh_geometry_for(n)

    def _bucket(b: int):
        bits = [
            F.when(
                F.round(F.element_at(F.col("_dots"), b * band_bits + j + 1), 6) >= 0,
                F.lit(1 << j),
            ).otherwise(F.lit(0))
            for j in range(band_bits)
        ]
        s = bits[0]
        for x in bits[1:]:
            s = s + x
        return s

    banded = dotted.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), _bucket(b).alias("bv"))
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.bv").alias("bv"))
    left = banded.select(F.col("id").alias("id_a"), "band", "bv")
    right = banded.select(F.col("id").alias("id_b"), "band", "bv")
    cands = (
        left.join(right, ["band", "bv"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    a = base.select(F.col("id").alias("id_a"), F.col("vec").alias("va"), F.col("nrm").alias("na"))
    b = base.select(F.col("id").alias("id_b"), F.col("vec").alias("vb"), F.col("nrm").alias("nb"))
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("va"), F.col("vb"), F.col("na"), F.col("nb")), 6).alias("cos_r"),
        )
        .where(F.col("cos_r") >= min_cos)
    )


def train_ivf_centroids(
    df: DataFrame,
    n_cells: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic Lloyd k-means for the IVF quantizer: (cid, cvec).

    Init = the first ``n_cells`` vectors; each iteration assigns every
    vector to its max-ROUND(cosine,6) centroid (cid tiebreak) and recomputes
    centroids as the element-wise member mean, ROUNDED to 6 decimals -
    the same determinism discipline as ranking: rounding collapses
    float-sum-order noise so any engine reproduces the trained centroids
    bit-for-bit (the DuckDB oracle unrolls the identical iterations).
    Cells that lose all members drop out (both sides agree).

    Scale shape: per iteration, assignment is a broadcast of the K-row
    centroid table against the streaming corpus (the IVF plan shape), and
    the update is one posexplode + (cell, dim) aggregation - corpus-linear.
    The K x dim centroid table round-trips through the driver between
    iterations (bounded by K, never by the corpus - the same shape MLlib
    uses for k-means centroids).

    Centroids deliberately flow as DATA (broadcast join), not as literal
    expressions: an inline-literal argmax projection was measured and
    REJECTED - with the folds inlined into the argmax cascade the analyzer
    cost exploded (42 s/run), and even with sims materialized as columns
    the per-iteration recompile (literals change every round) made it
    slower than the constant-shape broadcast plan, which also scales to
    large K where literal expressions cannot.
    """
    base = with_norms(df, id_col, vec_col).localCheckpoint()
    cents = base.where(F.col("id") < n_cells).select(
        F.col("id").alias("cid"), F.col("vec").alias("cvec")
    )
    for _ in range(iters):
        c = cents.select(
            "cid", "cvec", norm(F.col("cvec")).alias("cnrm")
        )
        sim = F.round(cosine(F.col("vec"), F.col("cvec"), F.col("nrm"), F.col("cnrm")), 6)
        # map-side max_by argmax (same rewrite as ann_topk_ivf): n x K
        # broadcast rows partial-aggregate to n per partition before the one
        # exchange, paid once per Lloyd iteration; struct(sim, -cid) keeps
        # the (sim desc, cid asc) tiebreak so trained centroids are
        # bit-identical to the Window formulation.
        members = (
            base.crossJoin(F.broadcast(c))
            .select("id", "vec", "cid", sim.alias("sim"))
            .groupBy("id")
            .agg(
                F.max_by(
                    F.struct(F.col("cid"), F.col("vec")),
                    F.struct(F.col("sim"), (-F.col("cid")).alias("ncid")),
                ).alias("b")
            )
            .select("id", F.col("b.cid").alias("cid"), F.col("b.vec").alias("vec"))
        )
        dims = members.select("cid", F.posexplode("vec").alias("idx", "x"))
        means = (
            dims.groupBy("cid", "idx")
            .agg(F.round(F.avg("x"), 6).alias("av"))
            .groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("idx", "av"))),
                    lambda s: s["av"],
                ).alias("cvec")
            )
        )
        # K rows of dim doubles: flatten the iteration boundary through the
        # driver so plan depth stays constant across iterations
        spark = df.sparkSession
        cents = spark.createDataFrame(
            [(r["cid"], r["cvec"]) for r in means.collect()],
            "cid long, cvec array<double>",
        )
    return cents


# --- product quantization (Jegou/Douze/Schmid, TPAMI 2011 - public) -----

#: PQ defaults for the 64-dim testdata embeddings: 4 subspaces of 16 dims,
#: 8 codewords each -> 4 codes/vector (3 bits of information each; 4 bytes
#: stored as tinyint). vs float64 that is a 64x store compression - the
#: lever that fits a 100 TB embedding corpus in serving memory; int8
#: scalar quantization (quantize_embeddings) is the milder 8x sibling.
PQ_M = 4
PQ_SUBDIM = 16
PQ_K = 8
PQ_ITERS = 2


def _subvectors(df: DataFrame, n_sub: int, sub_dim: int, id_col: str, vec_col: str) -> DataFrame:
    """(id, m, sv): the corpus exploded into per-subspace subvectors -
    a narrow projection (no shuffle), n_sub rows per vector."""
    v = as_double_array(vec_col)
    return df.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.array(*[F.slice(v, m * sub_dim + 1, sub_dim) for m in range(n_sub)])
        ).alias("m", "sv"),
    )


def _l2sq_r(a, b):
    """ROUND(|a-b|^2, 6) via the inner-product identity ip(a,a) -
    2*ip(a,b) + ip(b,b): every term is a sequential-fold dot product, the
    primitive both engines evaluate identically, so the rounded distance
    (and therefore every k-means assignment) is bit-reproducible."""
    return F.round(dot(a, a) - 2 * dot(a, b) + dot(b, b), 6)


def train_pq_codebooks(
    df: DataFrame,
    n_sub: int = PQ_M,
    k: int = PQ_K,
    iters: int = PQ_ITERS,
    sub_dim: int = PQ_SUBDIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic per-subspace Lloyd k-means: (m, cid, cv) codebooks.

    Same determinism discipline as ``train_ivf_centroids`` (init = the
    first ``k`` vectors' subvectors, round-6 distances with cid tiebreak,
    round-6 element-wise member means, empty cells drop out on both
    sides), but over squared L2 in each subspace - PQ approximates
    distances per subspace, where cosine is meaningless because subvector
    norms vary freely. All subspaces train in ONE chain of jobs (m is a
    grouping column, not a loop), so the corpus is scanned iters+1 times
    total, not per-subspace; the per-iteration driver round-trip is the
    n_sub x k codebook table - bounded by the codebook, never the corpus.
    """
    spark = df.sparkSession
    subs = _subvectors(df, n_sub, sub_dim, id_col, vec_col).localCheckpoint()
    cents = subs.where(F.col("id") < k).select(
        "m", F.col("id").alias("cid"), F.col("sv").alias("cv")
    )
    for _ in range(iters):
        d = _l2sq_r(F.col("sv"), F.col("cv"))
        # map-side min_by argmin (the ann_topk_ivf rewrite): the n_sub*n x k
        # broadcast rows collapse per partition before the one exchange
        members = (
            subs.join(F.broadcast(cents), "m")
            .select("id", "m", "sv", "cid", d.alias("dist"))
            .groupBy("id", "m")
            .agg(
                F.min_by(
                    F.struct(F.col("cid"), F.col("sv")),
                    F.struct(F.col("dist"), F.col("cid")),
                ).alias("b")
            )
            .select("m", F.col("b.cid").alias("cid"), F.col("b.sv").alias("sv"))
        )
        means = (
            members.select("m", "cid", F.posexplode("sv").alias("idx", "x"))
            .groupBy("m", "cid", "idx")
            .agg(F.round(F.avg("x"), 6).alias("av"))
            .groupBy("m", "cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("idx", "av"))),
                    lambda s: s["av"],
                ).alias("cv")
            )
        )
        cents = spark.createDataFrame(
            [(int(r["m"]), r["cid"], r["cv"]) for r in means.collect()],
            "m int, cid long, cv array<double>",
        )
    return cents


def pq_assign(
    df: DataFrame,
    codebooks: DataFrame,
    n_sub: int = PQ_M,
    sub_dim: int = PQ_SUBDIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ encoding at (id, m, code) grain: each subvector's nearest
    codeword (round-6 L2, cid tiebreak). Kept long-form deliberately -
    the ADC join consumes (m, code) directly, so packing codes into an
    array would buy nothing but an extra exchange. One broadcast join +
    one map-side-combining aggregation; at a real deployment the result
    IS the stored index (4 tinyints/vector)."""
    subs = _subvectors(df, n_sub, sub_dim, id_col, vec_col)
    d = _l2sq_r(F.col("sv"), F.col("cv"))
    return (
        subs.join(F.broadcast(codebooks), "m")
        .select("id", "m", "cid", d.alias("dist"))
        .groupBy("id", "m")
        .agg(F.min_by(F.col("cid"), F.struct(F.col("dist"), F.col("cid"))).alias("code"))
    )


def adc_scored_pq(
    df: DataFrame,
    query_ids_below: int = 10,
    n_sub: int = PQ_M,
    sub_dim: int = PQ_SUBDIM,
    n_codes: int = PQ_K,
    iters: int = PQ_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: DataFrame | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """The plain-PQ ADC scoring pass, UNRANKED (r19, VERDICT r18 #3 -
    the scored/ranked split applied to the PQ method): queries stay
    full-precision, candidates are 4-byte codes. Returns
    (q_id, cand_id, acos_r); the scored frame does not depend on ``k``,
    so sim_topk_pq (k=TOPK) and sim_ann_compare (k=ANN_TOPK) rank the
    SAME session-memoized pass instead of re-running encode + table
    join.

    approx dot(q, x) = sum_m pd[q][m][code_m(x)] where pd is the per-query
    lookup table of ROUND(subquery . codeword, 6) partial dots; approx
    |x| = sqrt(sum_m nsq[m][code_m(x)]) from the codeword self-products.
    Both sums are written as EXPLICIT left-to-right additions over the
    n_sub pivoted columns (a groupBy SUM would re-introduce float
    order-dependence across engines). Scale shape: the corpus side touches
    only the (id, m, code) index - never the vectors; the per-query tables
    (|q| x n_sub x k rows) broadcast; one aggregation groups the join back
    to (q_id, cand_id) with map-side combine.

    ``codes`` serves a pre-encoded (id, m, code) table (the persisted-index
    lifecycle) and REQUIRES ``codebooks`` - the ones the codes were
    encoded with."""
    if codes is not None and codebooks is None:
        # pre-encoded codes are meaningless without the codebooks they
        # were encoded with - retraining here would silently index them
        # against mismatched codewords
        raise ValueError("codes requires the codebooks they were encoded with")
    if codebooks is None:
        codebooks = train_pq_codebooks(
            df, n_sub, n_codes, iters, sub_dim, id_col, vec_col
        )
    if codes is None:
        codes = pq_assign(df, codebooks, n_sub, sub_dim, id_col, vec_col)
    base = with_norms(df, id_col, vec_col)
    qsubs = base.where(F.col("id") < query_ids_below).select(
        F.col("id").alias("q_id"),
        F.col("nrm").alias("q_nrm"),
        F.posexplode(
            F.array(
                *[F.slice(F.col("vec"), m * sub_dim + 1, sub_dim) for m in range(n_sub)]
            )
        ).alias("m", "qsv"),
    )
    tab = qsubs.join(F.broadcast(codebooks), "m").select(
        "q_id",
        "q_nrm",
        "m",
        F.col("cid").alias("code"),
        F.round(dot(F.col("qsv"), F.col("cv")), 6).alias("pd"),
        F.round(dot(F.col("cv"), F.col("cv")), 6).alias("nsq"),
    )
    joined = codes.join(F.broadcast(tab), ["m", "code"]).where(
        F.col("id") != F.col("q_id")
    )
    aggs = []
    for m in range(n_sub):
        aggs.append(F.max(F.when(F.col("m") == m, F.col("pd"))).alias(f"pd{m}"))
        aggs.append(F.max(F.when(F.col("m") == m, F.col("nsq"))).alias(f"nsq{m}"))
    g = joined.groupBy("q_id", F.col("id").alias("cand_id"), "q_nrm").agg(*aggs)

    def _ltr(prefix):  # explicit left-to-right sum, engine-order-identical
        expr = F.col(f"{prefix}0")
        for m in range(1, n_sub):
            expr = expr + F.col(f"{prefix}{m}")
        return expr

    return g.select(
        "q_id",
        "cand_id",
        F.round(_ltr("pd") / (F.col("q_nrm") * F.sqrt(_ltr("nsq"))), 6).alias(
            "acos_r"
        ),
    )


def topk_cosine_pq(
    df: DataFrame,
    k: int,
    query_ids_below: int = 10,
    n_sub: int = PQ_M,
    sub_dim: int = PQ_SUBDIM,
    n_codes: int = PQ_K,
    iters: int = PQ_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: DataFrame | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) cosine top-k over PQ codes: the
    ``adc_scored_pq`` pass ranked per query (acos desc, id asc) and cut
    to the top ``k``. Output (q_id, cand_id, acos_r, rank) - the PQ
    sibling of ``topk_cosine_quantized``, directly diffable against the
    float baseline for rank drift. Values bit-identical to the
    pre-split operator (same window, same tiebreak, via the shared
    ``topk_per_query`` tail); all ADC algebra and scale notes live on
    ``adc_scored_pq``."""
    scored = adc_scored_pq(
        df, query_ids_below, n_sub, sub_dim, n_codes, iters,
        id_col, vec_col, codebooks, codes,
    )
    return topk_per_query(scored, k, "acos_r")


def _coarse_assign_residuals(
    base: DataFrame, cents: DataFrame, checkpoint: bool = True
):
    """(scored_assign, residuals) for IVFPQ: broadcast cosine scoring of
    every vector against the coarse centroids, map-side max_by cell
    argmax, and the per-vector residual (vector minus cell centroid).
    ``checkpoint`` materializes the residual frame once when BOTH
    training and encoding will consume it; with pre-trained codebooks
    the single consumer pipelines straight through instead."""
    c = cents.select("cid", "cvec", norm(F.col("cvec")).alias("cnrm"))
    sim = F.round(cosine(F.col("vec"), F.col("cvec"), F.col("nrm"), F.col("cnrm")), 6)
    scored_assign = base.crossJoin(F.broadcast(c)).select(
        "id", "vec", "nrm", "cid", sim.alias("sim")
    )
    best = F.max_by(
        F.struct(F.col("cid"), F.col("vec")),
        F.struct(F.col("sim"), (-F.col("cid")).alias("ncid")),
    )
    cells = (
        scored_assign.groupBy("id")
        .agg(best.alias("b"))
        .select("id", F.col("b.vec").alias("vec"), F.col("b.cid").alias("cell"))
    )
    residuals = cells.join(
        F.broadcast(cents.select(F.col("cid").alias("cell"), "cvec")), "cell"
    ).select(
        "id",
        "cell",
        F.zip_with(F.col("vec"), F.col("cvec"), lambda x, y: x - y).alias("rv"),
    )
    if checkpoint:
        residuals = residuals.localCheckpoint(eager=False)
    return scored_assign, residuals


def train_ivfpq(
    df: DataFrame,
    n_cells: int = 8,
    kmeans_iters: int = 2,
    n_sub: int = PQ_M,
    n_codes: int = PQ_K,
    pq_iters: int = PQ_ITERS,
    sub_dim: int = PQ_SUBDIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Train both IVFPQ artifacts - (coarse centroids, residual
    codebooks) - as driver-bounded tables, so callers can memoize them
    the way a serving system persists its trained index parameters."""
    base = with_norms(df, id_col, vec_col)
    cents = train_ivf_centroids(df, n_cells, kmeans_iters, id_col, vec_col)
    _, residuals = _coarse_assign_residuals(base, cents)
    rcb = train_pq_codebooks(
        residuals, n_sub, n_codes, pq_iters, sub_dim, id_col="id", vec_col="rv"
    )
    return cents, rcb


def ann_adc_ivfpq(
    df: DataFrame,
    query_ids_below: int = 10,
    n_cells: int = 8,
    nprobe_max: int = 2,
    kmeans_iters: int = 2,
    n_sub: int = PQ_M,
    sub_dim: int = PQ_SUBDIM,
    n_codes: int = PQ_K,
    pq_iters: int = PQ_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    codebooks: DataFrame | None = None,
) -> DataFrame:
    """The IVF-PQ ADC scoring pass, UNRANKED, carrying each candidate's
    probe ``cell_rank`` (1-based position of the candidate's cell in the
    query's nearest-centroid order) - factored out of ``ann_topk_ivfpq``
    (r18) so probe-sweep dials compute the expensive probe join + ADC
    aggregation ONCE at ``nprobe_max`` and derive every smaller setting
    by a pure ``cell_rank <= nprobe`` filter: a candidate lives in
    exactly one cell, ADC scores don't depend on which probe surfaced
    them, so the nprobe=k candidate set is exactly the rows whose cell
    rank is <= k (the transformation the sweep oracles already use).

    Returns (q_id, cand_id, acos_r, cell_rank).

    ADC algebra (every leaf rounded to 6 decimals, every sum an explicit
    left-to-right addition, so both engines agree bit-for-bit):
      dot(q, x) ~ dot(q, c_cell) + sum_m pd[q][m][code_m]          (pd over
        the RAW query subvectors vs residual codewords - distributing dot
        over x = c + r)
      |x|^2 ~ ip(c, c) + 2 * sum_m cross[cell][m][code_m] + sum_m
        nsq[m][code_m]  (cross = centroid-subvector . codeword, the term
        plain PQ doesn't need; n_cells x n_sub x n_codes rows, broadcast)
    Scale shape: the candidate side touches only (id, cell, m, code);
    every lookup table is broadcast-tiny; the cell-equi probe join is the
    same plan as ann_topk_ivf; one aggregation groups back to
    (q_id, cand_id) with map-side combine.
    """
    nprobe = nprobe_max
    base = with_norms(df, id_col, vec_col)
    cents = (
        centroids
        if centroids is not None
        else train_ivf_centroids(df, n_cells, kmeans_iters, id_col, vec_col)
    )
    scored_assign, residuals = _coarse_assign_residuals(
        base, cents, checkpoint=codebooks is None
    )
    rcb = (
        codebooks
        if codebooks is not None
        else train_pq_codebooks(
            residuals, n_sub, n_codes, pq_iters, sub_dim, id_col="id", vec_col="rv"
        )
    )
    # FUSED encode (optimization r20, guide SS1.2): carry ``cell``
    # through the PQ argmin aggregation instead of joining the codes
    # back to the residual frame - the old ``codes JOIN residuals ON
    # id`` executed the residual subtree TWICE (once under each join
    # side; with pre-trained codebooks the frame is un-checkpointed by
    # design) and paid the join's sorts. ``cell`` is functionally
    # determined by ``id``, so grouping by (id, cell, m) forms exactly
    # the (id, m) groups of pq_assign and min_by picks the identical
    # code - values bit-identical, one corpus pass and zero id-joins.
    rsubs = residuals.select(
        "id",
        "cell",
        F.posexplode(
            F.array(
                *[
                    F.slice(F.col("rv"), m * sub_dim + 1, sub_dim)
                    for m in range(n_sub)
                ]
            )
        ).alias("m", "sv"),
    )
    dcb = _l2sq_r(F.col("sv"), F.col("cv"))
    cand = (
        rsubs.join(F.broadcast(rcb), "m")
        .select("id", "cell", "m", "cid", dcb.alias("dist"))
        .groupBy("id", "cell", "m")
        .agg(
            F.min_by(
                F.col("cid"), F.struct(F.col("dist"), F.col("cid"))
            ).alias("code")
        )
    )

    # query probes: nprobe nearest cells by the same (sim desc, cid asc)
    # order the assignment used (ann_topk_ivf's collect-and-slice shape);
    # posexplode keeps the probe position as cell_rank (1-based)
    q = (
        scored_assign.where(F.col("id") < query_ids_below)
        .groupBy("id")
        .agg(
            F.slice(
                F.array_sort(
                    F.collect_list(
                        F.struct((-F.col("sim")).alias("ns"), F.col("cid").alias("cid"))
                    )
                ),
                1,
                nprobe,
            ).alias("probes"),
            F.max_by(F.struct(F.col("vec"), F.col("nrm")), F.col("cid")).alias("v"),
        )
        .select(
            F.col("id").alias("q_id"),
            F.col("v.vec").alias("q_vec"),
            F.col("v.nrm").alias("q_nrm"),
            F.posexplode("probes").alias("pr", "p"),
        )
        .select(
            "q_id",
            "q_vec",
            "q_nrm",
            F.col("p.cid").alias("cell"),
            (F.col("pr") + 1).cast("long").alias("cell_rank"),
        )
    )
    # per-(query, probed cell) scalars: dot(q, c) and ip(c, c)
    qc = q.join(
        F.broadcast(cents.select(F.col("cid").alias("cell"), "cvec")), "cell"
    ).select(
        "q_id",
        "cell",
        "cell_rank",
        "q_nrm",
        "q_vec",
        F.round(dot(F.col("q_vec"), F.col("cvec")), 6).alias("qc_dot"),
        F.round(dot(F.col("cvec"), F.col("cvec")), 6).alias("ipcc"),
    )
    # query partial-dot table over RAW query subvectors vs residual codewords
    qsubs = qc.select(
        "q_id",
        F.posexplode(
            F.array(
                *[
                    F.slice(F.col("q_vec"), m * sub_dim + 1, sub_dim)
                    for m in range(n_sub)
                ]
            )
        ).alias("m", "qsv"),
    ).dropDuplicates(["q_id", "m"])  # one row per (q, m), not per probed cell
    pdt = qsubs.join(F.broadcast(rcb), "m").select(
        "q_id", "m", F.col("cid").alias("code"),
        F.round(dot(F.col("qsv"), F.col("cv")), 6).alias("pd"),
    )
    nsqt = rcb.select(
        "m", F.col("cid").alias("code"),
        F.round(dot(F.col("cv"), F.col("cv")), 6).alias("nsq"),
    )
    # centroid-subvector x codeword cross terms: n_cells x n_sub x n_codes
    csubs = cents.select(
        F.col("cid").alias("cell"),
        F.posexplode(
            F.array(
                *[
                    F.slice(F.col("cvec"), m * sub_dim + 1, sub_dim)
                    for m in range(n_sub)
                ]
            )
        ).alias("m", "csv"),
    )
    crosst = csubs.join(F.broadcast(rcb), "m").select(
        "cell", "m", F.col("cid").alias("code"),
        F.round(dot(F.col("csv"), F.col("cv")), 6).alias("cross"),
    )
    j = (
        cand.join(
            F.broadcast(
                qc.select("q_id", "cell", "cell_rank", "q_nrm", "qc_dot", "ipcc")
            ),
            "cell",
        )
        .where(F.col("id") != F.col("q_id"))
        .join(F.broadcast(pdt), ["q_id", "m", "code"])
        .join(F.broadcast(nsqt), ["m", "code"])
        .join(F.broadcast(crosst), ["cell", "m", "code"])
    )
    aggs = [
        F.first("q_nrm").alias("q_nrm"),
        F.first("qc_dot").alias("qc_dot"),
        F.first("ipcc").alias("ipcc"),
        # a candidate lives in exactly one cell, so every row of a
        # (q_id, cand_id) group carries the same cell_rank
        F.first("cell_rank").alias("cell_rank"),
    ]
    for m in range(n_sub):
        for col in ("pd", "nsq", "cross"):
            aggs.append(
                F.max(F.when(F.col("m") == m, F.col(col))).alias(f"{col}{m}")
            )
    g = j.groupBy("q_id", F.col("id").alias("cand_id")).agg(*aggs)

    def _ltr(prefix):
        expr = F.col(f"{prefix}0")
        for m in range(1, n_sub):
            expr = expr + F.col(f"{prefix}{m}")
        return expr

    approx_dot = F.col("qc_dot") + _ltr("pd")
    approx_nsq = F.col("ipcc") + 2 * _ltr("cross") + _ltr("nsq")
    return g.select(
        "q_id",
        "cand_id",
        F.round(approx_dot / (F.col("q_nrm") * F.sqrt(approx_nsq)), 6).alias("acos_r"),
        "cell_rank",
    )


def ann_topk_ivfpq(
    df: DataFrame,
    k: int,
    query_ids_below: int = 10,
    n_cells: int = 8,
    nprobe: int = 2,
    kmeans_iters: int = 2,
    n_sub: int = PQ_M,
    sub_dim: int = PQ_SUBDIM,
    n_codes: int = PQ_K,
    pq_iters: int = PQ_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    codebooks: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ with RESIDUAL coding - the production ANN index shape
    (FAISS IVFPQ, Jegou'11 §IV): the ``ann_adc_ivfpq`` scoring pass at
    exactly ``nprobe`` probed cells, ranked per query (acos desc, id
    asc) and cut to the top ``k``. All ADC algebra, lookup-table shapes
    and scale notes live on ``ann_adc_ivfpq`` (the unranked pass this
    wraps since r18; values bit-identical to the pre-split operator)."""
    scored = ann_adc_ivfpq(
        df,
        query_ids_below,
        n_cells,
        nprobe,
        kmeans_iters,
        n_sub,
        sub_dim,
        n_codes,
        pq_iters,
        id_col,
        vec_col,
        centroids,
        codebooks,
    ).drop("cell_rank")
    return topk_per_query(scored, k, "acos_r")


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_vec: bool = False,
) -> DataFrame:
    """Per-vector symmetric int8 quantization: (id, scale_r, qvec).

    scale_r = ROUND(max|v| / 127, 6), qvec[j] = clamp(ROUND(v[j] / scale_r),
    -127, 127) as TINYINT - the standard 4x memory / bandwidth lever for
    corpus-scale embedding stores (a 100 TB float32 store becomes 25 TB,
    and int8 SIMD dot products in a serving layer). Rounding the scale to 6
    decimals first is the cross-engine determinism discipline: both engines
    then divide by the identical double, so the quantized codes agree
    bit-for-bit. Pure projection - zero shuffles.
    """
    v = as_double_array(vec_col)
    scale = F.round(
        F.array_max(F.transform(v, lambda x: F.abs(x))) / F.lit(127.0), 6
    )
    # LET-BIND (vec, scale) behind a Generate barrier: without it,
    # CollapseProject inlines the array_max scale expression into every
    # per-element lambda below (64x recompute per row - measured 2.5x
    # slower end-to-end), and into every consumer projection above.
    packed = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.transform(
                F.array(F.struct(v.alias("fv"), scale.alias("sc"))), lambda s: s
            )
        ).alias("t"),
    )
    fv, sc = F.col("t.fv"), F.col("t.sc")
    q = F.transform(
        fv,
        lambda x: F.greatest(
            F.lit(-127), F.least(F.lit(127), F.round(x / sc, 0).cast("int"))
        ).cast("tinyint"),
    )
    cols = [
        F.col("id"),
        sc.alias("scale_r"),
        F.when(sc > 0, q).otherwise(
            F.transform(fv, lambda x: F.lit(0).cast("tinyint"))
        ).alias("qvec"),
    ]
    if keep_vec:
        # auditors need the float vector next to the codes; carrying it
        # here keeps downstream error stats a pure projection instead of a
        # re-join against the source table
        cols.append(fv.alias("vec"))
    return packed.select(*cols)


def topk_cosine_quantized(
    df: DataFrame,
    k: int,
    query_ids_below: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k over DEQUANTIZED int8 embeddings - the
    recall-fidelity probe for ``quantize_embeddings`` (same output shape as
    ``topk_cosine``, so rank drift under quantization is directly
    diffable). Dequantization (qvec[j] * scale_r) is a projection; the join
    shape is identical to the float baseline: broadcast tiny query set
    against the streaming corpus.
    """
    qz = quantize_embeddings(df, id_col, vec_col)
    deq = qz.select(
        "id",
        F.transform(
            F.col("qvec"), lambda x: x.cast("double") * F.col("scale_r")
        ).alias("vec"),
    )
    base = deq.select("id", "vec", norm(F.col("vec")).alias("nrm"))
    q = base.where(F.col("id") < query_ids_below).select(
        F.col("id").alias("q_id"), F.col("vec").alias("q_vec"), F.col("nrm").alias("q_nrm")
    )
    c = base.select(
        F.col("id").alias("cand_id"), F.col("vec").alias("c_vec"), F.col("nrm").alias("c_nrm")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("cand_id") != F.col("q_id"))
        .select(
            "q_id",
            "cand_id",
            F.round(
                cosine(F.col("q_vec"), F.col("c_vec"), F.col("q_nrm"), F.col("c_nrm")), 6
            ).alias("cos_r"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_r").desc(), F.col("cand_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
    )


def semantic_dedup(
    df: DataFrame,
    min_cos: float,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means clusters
    bound the pair search, then any vector with a LOWER-id cluster-mate at
    ROUND(cosine, 6) >= ``min_cos`` is marked a semantic duplicate of the
    smallest such mate. Output one row per vector:
    (id, cell, dup_of, keep) - ``dup_of`` = -1 and keep = true for
    survivors (the deterministic keep-lowest-id policy; -1 instead of NULL
    keeps the comparator dtype integral).

    Scale shape - the published SemDeDup design exactly: the full pairwise
    problem is confined to WITHIN-cluster pairs, so candidate volume is
    sum(|cell|^2) not n^2; at 100 TB K grows with the corpus
    (K ~ n / target_cell_size) keeping cells bounded. Assignment is the
    same broadcast-centroids + map-side max_by argmax as ``ann_topk_ivf``
    (no Window, no n x K shuffle); the pair join is a cell-equi
    self-join - co-partitioned shuffle, never a cross product. Hot-cell
    skew is the known SemDeDup caveat and is AQE-split; the keep decision
    is a groupBy(min) + left join, all on (id, cell)-narrow rows.
    """
    base = with_norms(df, id_col, vec_col)
    cents = centroids.select("cid", "cvec", norm(F.col("cvec")).alias("cnrm"))
    sim = F.round(cosine(F.col("vec"), F.col("cvec"), F.col("nrm"), F.col("cnrm")), 6)
    best = F.max_by(
        F.struct(F.col("cid"), F.col("vec"), F.col("nrm")),
        F.struct(F.col("sim"), (-F.col("cid")).alias("ncid")),
    )
    cells = (
        base.crossJoin(F.broadcast(cents))
        .select("id", "vec", "nrm", "cid", sim.alias("sim"))
        .groupBy("id")
        .agg(best.alias("b"))
        .select(
            "id",
            F.col("b.vec").alias("vec"),
            F.col("b.nrm").alias("nrm"),
            F.col("b.cid").alias("cell"),
        )
    )
    # both self-join sides read the assignment: materialize it once (the
    # near_dup_pairs dotted-frame discipline) instead of re-running the
    # broadcast-cosine argmax per side - corpus-linear narrow rows
    cells = cells.localCheckpoint()
    a = cells.select(
        F.col("id").alias("id_a"), F.col("vec").alias("va"),
        F.col("nrm").alias("na"), "cell",
    )
    b = cells.select(
        F.col("id").alias("id_b"), F.col("vec").alias("vb"),
        F.col("nrm").alias("nb"), "cell",
    )
    dups = (
        a.join(b, "cell")
        .where(F.col("id_a") < F.col("id_b"))
        .where(
            F.round(cosine(F.col("va"), F.col("vb"), F.col("na"), F.col("nb")), 6)
            >= min_cos
        )
        .groupBy(F.col("id_b").alias("id"))
        .agg(F.min("id_a").alias("dup_of"))
    )
    return (
        cells.join(dups, "id", "left")
        .select(
            "id",
            "cell",
            F.coalesce("dup_of", F.lit(-1)).cast("long").alias("dup_of"),
            F.col("dup_of").isNull().alias("keep"),
        )
    )


def kcenter_select(
    df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy k-center coreset selection (farthest-first traversal,
    Gonzalez'85 - the 2-approximation for metric k-center): seed with the
    smallest id, then k-1 times pick the point LEAST similar to its best
    already-chosen center (round-6 cosine, ties -> smaller id). The
    selection trace is the standard diversity-coreset / coverage
    certificate a curation pipeline uses to pick maximally-spread
    exemplars before labeling or eval-set construction.

    Scale shape: k bounded supersteps. Each superstep is one
    embarrassingly-parallel corpus pass (update the running
    best-similarity with ONE new center, broadcast as a 64-double
    literal) ending in a 1-row TakeOrderedAndProject - the ONLY
    driver-side values are the k chosen (id, vector) rows, the
    train_ivf_centroids discipline. The running frame is
    localCheckpoint'd each step so step i+1 reads materialized
    best-similarities instead of replaying i corpus passes (the rank.py
    discipline). Never a global sort, never an n x n distance matrix.

    Output (rank 1..k, vec_id, far_s = the point's best-center cosine at
    selection time; the seed reports 1.0 - it is its own center, and a
    non-NULL cell keeps the driver's all-column row sort total). far_s
    is NOT guaranteed monotone over ranks, but every remaining point's
    final coverage similarity is >= min(far_s) - the textbook 2-approx
    argument.
    """
    base = with_norms(df, id_col, vec_col)
    seed = base.orderBy("id").limit(1).collect()[0]
    chosen = [(1, int(seed["id"]), 1.0)]
    center_vec, center_nrm = seed["vec"], float(seed["nrm"])

    cur = base.where(F.col("id") != int(seed["id"]))
    for step in range(2, k + 1):
        # ONE array-literal node per superstep, not CreateArray over 64
        # F.lit leaves: Catalyst re-analyzes the running plan each step,
        # and literal-heavy trees cost it seconds across k steps (the r13
        # sim_pca lesson, operators/pca.py:282). Same doubles, same order.
        cv = F.lit([float(x) for x in center_vec])
        # lazy checkpoint: the argmin job below is the one corpus pass of
        # this superstep - it materializes the checkpointed partitions AND
        # answers the TakeOrdered in the same scan (eager=True would spend
        # a separate full pass just writing the checkpoint, doubling every
        # superstep's corpus IO; r14)
        cur = cur.withColumn(
            "best_s",
            F.round(cosine(F.col("vec"), cv, F.col("nrm"), F.lit(center_nrm)), 6)
            if step == 2
            else F.greatest(
                F.col("best_s"),
                F.round(
                    cosine(F.col("vec"), cv, F.col("nrm"), F.lit(center_nrm)), 6
                ),
            ),
        ).localCheckpoint(eager=False)
        far = cur.orderBy(F.asc("best_s"), F.asc("id")).limit(1).collect()[0]
        chosen.append((step, int(far["id"]), float(far["best_s"])))
        center_vec, center_nrm = far["vec"], float(far["nrm"])
        cur = cur.where(F.col("id") != int(far["id"]))

    spark = df.sparkSession
    return spark.createDataFrame(
        chosen, "rank long, vec_id long, far_s double"
    ).orderBy("rank")


def mmr_select(
    df: DataFrame,
    k: int,
    lam: float = 0.7,
    mu: float = 0.3,
    query_id: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell-Goldstein'98):
    greedily pick k results trading query relevance against redundancy,

        score_i = round6(lam * rel_i - mu * max_sim_to_selected_i)

    (mu passed as its own literal, NOT computed as 1 - lam: python's
    1.0 - 0.7 is 0.30000000000000004 while a SQL oracle's 0.3 literal is
    a different double - the usual cross-engine literal discipline)

    with rel = round-6 cosine to the query vector and ties -> smaller id
    - the diversified top-k a retrieval pipeline runs between ANN
    candidate generation and the consumer. First pick maximizes rel
    alone (no selected set yet).

    Scale shape: identical to kcenter_select's supersteps - the ONLY
    per-step state is one new center's 64-double literal broadcast into
    a running max-similarity column (localCheckpoint'd), each step one
    corpus pass ending in a 1-row TakeOrderedAndProject; rel is computed
    once in the first pass. Driver-side: the k chosen rows. The naive
    oracle re-scores the whole pool per step with chained
    ORDER-BY-LIMIT-1 CTEs.

    Output (rank 1..k, vec_id, rel_r, score_r); score_r of the first
    pick is its rel_r.
    """
    base = with_norms(df, id_col, vec_col)
    q = base.where(F.col("id") == query_id).collect()[0]
    qv = F.lit([float(x) for x in q["vec"]])  # one literal node (see kcenter)
    pool = base.where(F.col("id") != query_id).select(
        "id",
        "vec",
        "nrm",
        F.round(cosine(F.col("vec"), qv, F.col("nrm"), F.lit(float(q["nrm"]))), 6).alias(
            "rel"
        ),
    )
    first = pool.orderBy(F.desc("rel"), F.asc("id")).limit(1).collect()[0]
    chosen = [(1, int(first["id"]), float(first["rel"]), float(first["rel"]))]
    center_vec, center_nrm = first["vec"], float(first["nrm"])
    cur = pool.where(F.col("id") != int(first["id"]))
    for step in range(2, k + 1):
        # one literal node per superstep (see kcenter_select)
        cv = F.lit([float(x) for x in center_vec])
        sim = F.round(
            cosine(F.col("vec"), cv, F.col("nrm"), F.lit(center_nrm)), 6
        )
        # lazy checkpoint - one corpus pass per superstep (see kcenter)
        cur = cur.withColumn(
            "max_sim",
            sim if step == 2 else F.greatest(F.col("max_sim"), sim),
        ).localCheckpoint(eager=False)
        scored = cur.select(
            "id",
            "vec",
            "nrm",
            "rel",
            "max_sim",
            F.round(
                F.lit(lam) * F.col("rel") - F.lit(mu) * F.col("max_sim"),
                6,
            ).alias("score"),
        )
        top = scored.orderBy(F.desc("score"), F.asc("id")).limit(1).collect()[0]
        chosen.append(
            (step, int(top["id"]), float(top["rel"]), float(top["score"]))
        )
        center_vec, center_nrm = top["vec"], float(top["nrm"])
        cur = cur.where(F.col("id") != int(top["id"]))
    return df.sparkSession.createDataFrame(
        chosen, "rank long, vec_id long, rel_r double, score_r double"
    ).orderBy("rank")


#: fixed-point grid for class-centroid arithmetic: embeddings are snapped
#: to round(x * 1000) BEFORE any accumulation, so every centroid, distance,
#: and argmin below is exact 64-bit integer arithmetic - engine-order-free
#: (float sums depend on aggregation order; integer sums do not), which is
#: what lets a SQL oracle replay the classifier bit-for-bit
CENTROID_Q_SCALE = 1000

#: argmin key packing: key = dist * CENTROID_LABEL_SPAN + label, so one
#: integer MIN() yields (nearest distance, smallest label) with the tie
#: broken deterministically; labels must lie in [0, CENTROID_LABEL_SPAN)
CENTROID_LABEL_SPAN = 1024


def _quantized_vec(vec_col: str):
    """round(x * 1000) as long, then re-scaled by 1000 to the centroid's
    fixed-point grid (centroids carry 3 extra fractional digits)."""
    return F.transform(
        as_double_array(vec_col),
        lambda x: (F.round(x * CENTROID_Q_SCALE, 0).cast("long") * 1000),
    )


def class_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Exact fixed-point per-class mean vectors: (label, n_vecs, cvec).

    cvec[d] = floor(1000 * sum_class(round(x_d * 1000)) / n) - the class
    mean on a 1e-6 grid of the original coordinates, defined with an
    explicit floor so any engine lands on the identical integer (floats
    would make the mean depend on summation order; DuckDB and Spark
    disagree on double->int casts, but not on floor).

    Labels are runtime-guarded into [0, CENTROID_LABEL_SPAN): an
    out-of-range (or NULL) label would silently corrupt the packed
    argmin in ``nearest_centroid_confusion``, so it raises instead.
    Vectors are assumed fixed-width with no NULL elements (the
    embedding-store contract); per-dimension counts use count(qd) so a
    stray NULL element degrades to a consistent non-null mean rather
    than a sum/count mismatch.

    Scale shape (100 TB): posexplode to (label, dim) rows, ONE partial
    aggregation - the shuffle carries n_labels x dim rows per map task
    (640 longs for 10 classes x 64 dims), not the corpus; the ordered
    array re-assembly sorts n_labels tiny structs. The output is
    codebook-sized (labels x dim), broadcastable by construction, and
    session-memoized (localCheckpoint, registry kind
    "centroid_codebook") because the confusion and dispersion queries
    both consume the identical build. The checkpointed frame is labels x
    dim longs (the safe, tiny shape - NOT the wide gram-stream shape that
    regressed text_boilerplate in-battery).
    """
    from .dedup import _memoized_checkpoint

    lbl = F.col(label_col)
    guarded = F.when(
        lbl.between(0, CENTROID_LABEL_SPAN - 1), lbl
    ).otherwise(
        F.raise_error(
            F.lit(
                "class_centroids: label outside [0, "
                f"{CENTROID_LABEL_SPAN}) corrupts the packed argmin"
            )
        )
    )
    dims = df.select(
        guarded.alias("label"),
        F.posexplode(
            F.transform(
                as_double_array(vec_col),
                lambda x: F.round(x * CENTROID_Q_SCALE, 0).cast("long"),
            )
        ).alias("d", "qd"),
    )
    per_dim = dims.groupBy("label", "d").agg(
        F.sum("qd").alias("s"), F.count("qd").alias("n")
    )
    c = F.floor(F.col("s") * 1000.0 / F.col("n")).cast("long")
    cents = (
        per_dim.select("label", "d", F.col("n").alias("n_vecs"), c.alias("c"))
        .groupBy("label", "n_vecs")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("d", "c"))),
                lambda s: s["c"],
            ).alias("cvec")
        )
    )
    return _memoized_checkpoint("centroid_codebook", cents)


def _sq_dist(qvec, cvec):
    """Exact integer squared L2 between two fixed-point arrays."""
    return F.aggregate(
        F.zip_with(qvec, cvec, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def nearest_centroid_confusion(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Nearest-class-mean classification of every vector against the
    ``class_centroids`` codebook, reported as a confusion matrix
    (label_true, label_pred, n_vecs) - the Rocchio / nearest-centroid
    readout that tells a curation pipeline how separable its label space
    is in embedding space (diagonal mass = centroid-classifiable).

    Every arithmetic step is exact integers (see CENTROID_Q_SCALE), and
    the argmin is MIN(dist * 1024 + label) - nearest centroid, ties to
    the smallest label, one integer aggregate, no window.

    Scale shape (100 TB): the centroid table is labels x dim - broadcast
    (hinted) under a crossJoin, so classification is a map-side
    projection over the corpus; the only shuffles are the centroid
    build's (label, dim) partial aggregation and the final per-vector /
    confusion-cell aggregates (both key-bounded: n_vecs, then
    n_labels^2 rows).
    """
    cents = class_centroids(df, vec_col, label_col).select(
        F.col("label").alias("c_label"), "cvec"
    )
    d = _sq_dist(F.col("qs"), F.col("cvec"))
    key = d * CENTROID_LABEL_SPAN + F.col("c_label")
    assigned = (
        df.select(
            F.col(id_col).alias("id"),
            F.col(label_col).alias("label_true"),
            _quantized_vec(vec_col).alias("qs"),
        )
        .crossJoin(F.broadcast(cents))
        .groupBy("id", "label_true")
        .agg((F.min(key) % CENTROID_LABEL_SPAN).cast("long").alias("label_pred"))
    )
    return assigned.groupBy("label_true", "label_pred").agg(
        F.count("*").alias("n_vecs")
    )


def centroid_cluster_stats(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-class dispersion report over the ``class_centroids`` grid:
    (label, n_vecs, centroid_norm_sq, mean_dist_r) where centroid_norm_sq
    = ||cvec||^2 (exact long on the 1e-6 fixed-point grid) and
    mean_dist_r = ROUND(sum ||x - c_label(x)||^2 / 1e12 / n, 6) - the
    intra-class spread in ORIGINAL embedding units (the 1e12 divisor
    undoes the squared 1e6 grid), the signal a curation pipeline watches
    to spot collapsed or polluted label clusters.

    The distance sum is accumulated as DECIMAL(38,0) (a per-vector
    squared distance is < 2^60 on this grid; a 10^12-vector class would
    overflow a long sum), then cast to double once and RESCALED to O(1)
    magnitude BEFORE the 6-decimal round - rounding the raw grid value
    (~1e12) would ask for precision below double ulp, where Spark's
    BigDecimal HALF_UP and a SQL engine's multiply-round-divide disagree
    in the last digit; at O(1) the round is 10 orders above ulp and both
    engines agree bit-for-bit.

    Scale shape: identical to ``nearest_centroid_confusion`` minus the
    crossJoin - each vector joins ONLY its own class centroid (broadcast
    equi-join), one map-side projection, one n_labels-row aggregate.
    """
    cents = class_centroids(df, vec_col, label_col)
    norm_sq = F.aggregate(
        F.col("cvec"), F.lit(0).cast("long"), lambda acc, x: acc + x * x
    )
    d = _sq_dist(F.col("qs"), F.col("cvec"))
    return (
        df.select(
            F.col(label_col).alias("label"),
            _quantized_vec(vec_col).alias("qs"),
        )
        .join(F.broadcast(cents), "label")
        .groupBy("label", "n_vecs")
        .agg(
            F.sum(d.cast("decimal(38,0)")).alias("sum_d"),
            F.first(norm_sq).alias("centroid_norm_sq"),
        )
        .select(
            "label",
            "n_vecs",
            "centroid_norm_sq",
            F.round(
                F.col("sum_d").cast("double")
                / F.lit(1.0e12)
                / F.col("n_vecs"),
                6,
            ).alias("mean_dist_r"),
        )
    )


#: relative-to-class-mean outlier threshold: squared distance >= 4x the
#: class mean (~2 sigma for tight clusters) flags the vector
OUTLIER_RATIO = 4.0


def centroid_outliers(
    df: DataFrame,
    ratio_threshold: float = OUTLIER_RATIO,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-vector outlier flags against the own-class centroid - the
    embedding-store pruning rule (mislabeled / polluted / off-manifold
    examples sit far from their class mean; CLIP-style curation drops
    them before training): (vec_id, label, dist_r, mean_dist_r, ratio_r,
    is_outlier) where ratio_r = ROUND(dist / class_mean_dist, 6) and the
    flag compares the ROUNDED ratio to the threshold, so the verdict is
    bit-portable cross-engine.

    A relative-to-mean rule rather than a z-score ON PURPOSE: the mean
    is a single division of the DECIMAL-exact distance sum (the
    centroid_cluster_stats discipline), while a variance would need a
    sum of squared grid distances (~2^120 per class at corpus scale) or
    float accumulation with order-dependent results. Degenerate classes
    (all vectors identical, mean distance 0) yield NULL ratio and
    is_outlier = false.

    Scale shape: one broadcast equi-join against the codebook-sized
    centroid table, one per-vector projection (lazily localCheckpoint-ed
    for its two sequential consumers), one |labels|-row aggregate
    broadcast back. No window, no corpus-sized shuffle beyond the
    centroid build's (label, dim) partial aggregation.
    """
    cents = class_centroids(df, vec_col, label_col)
    d = _sq_dist(F.col("qs"), F.col("cvec"))
    per_vec = (
        df.select(
            F.col(id_col),
            F.col(label_col).alias("label"),
            _quantized_vec(vec_col).alias("qs"),
        )
        .join(F.broadcast(cents), "label")
        .select(
            id_col, "label", d.cast("decimal(38,0)").alias("dd")
        )
        .localCheckpoint(eager=False)
    )
    agg = per_vec.groupBy("label").agg(
        F.sum("dd").alias("sum_d"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    dist_u = F.col("dd").cast("double") / F.lit(1.0e12)
    mean_u = F.col("sum_d").cast("double") / F.lit(1.0e12) / F.col("n")
    ratio_r = F.when(F.col("sum_d") > 0, F.round(dist_u / mean_u, 6))
    return (
        per_vec.join(F.broadcast(agg), "label")
        .select(
            F.col(id_col),
            "label",
            F.round(dist_u, 6).alias("dist_r"),
            F.round(mean_u, 6).alias("mean_dist_r"),
            ratio_r.alias("ratio_r"),
            F.coalesce(
                ratio_r >= F.lit(ratio_threshold), F.lit(False)
            ).alias("is_outlier"),
        )
    )


def dimension_stats(
    df: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-dimension health card for an embedding store: (d, n, mean_r,
    var_r, n_zero) - the monitoring sweep that catches dead dimensions
    (n_zero ~ n), scale drift between ingest batches (mean/var moving),
    and collapsed encoders (var ~ 0 everywhere) before they poison
    downstream ANN/dedup quality.

    Exactness discipline: coordinates are snapped to the CENTROID_Q_SCALE
    integer grid first, so the per-dimension sums are exact and
    order-free; the sum of squares accumulates as DECIMAL(38,0) (qd^2
    reaches ~4e6 at |x|=2, so a long sum would wrap silently near
    n ~ 2e12 rows while a SQL oracle's int128 would not - the
    centroid_cluster_stats overflow rule applied to the corpus-grain
    aggregate). Mean and variance are then computed in double from the
    exact integers with the textbook E[x^2] - E[x]^2 form, rescaled
    back to original units BEFORE the 6-decimal round (the sub-ulp
    rule). n_zero counts coordinates that quantize to 0 - |x| <
    0.5/scale, an explicit dead-band.

    Scale shape (100 TB): posexplode -> ONE partial-aggregated
    HashAggregate keyed by dimension - every map task emits at most
    ``dim`` rows, the shuffle is dim-bounded, and the result is
    dashboard-sized. No windows, no driver state.
    """
    dims = df.select(
        F.posexplode(
            F.transform(
                as_double_array(vec_col),
                lambda x: F.round(x * CENTROID_Q_SCALE, 0).cast("long"),
            )
        ).alias("d", "qd")
    )
    agg = dims.groupBy("d").agg(
        F.count("*").alias("n"),
        F.sum("qd").alias("s"),
        F.sum((F.col("qd") * F.col("qd")).cast("decimal(38,0)")).alias("s2"),
        F.sum((F.col("qd") == 0).cast("long")).alias("n_zero"),
    )
    mean_grid = F.col("s").cast("double") / F.col("n")
    var_grid = (
        F.col("s2").cast("double") / F.col("n") - mean_grid * mean_grid
    )
    sc = float(CENTROID_Q_SCALE)
    # +0.0 goes OUTSIDE the round (the sim_pca_gram lesson): for a true
    # value in (-0.5e-6, 0), Spark's BigDecimal round yields +0.0 while
    # DuckDB's yields -0.0 - canonicalizing before the round would bake
    # that divergence in; after the round, both snap to +0.0.
    return agg.select(
        "d",
        "n",
        (F.round(mean_grid / sc, 6) + F.lit(0.0)).alias("mean_r"),
        (F.round(var_grid / F.lit(sc * sc), 6) + F.lit(0.0)).alias("var_r"),
        "n_zero",
    )
