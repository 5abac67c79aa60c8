"""Distributed PCA over the embedding corpus.

The 100 TB shape of PCA is moment accumulation: one corpus-linear pass
computes the d x d second-moment matrix and the d-vector of first
moments (both map-side-combinable aggregations), the dxd eigensolve is
O(d^3) DRIVER work on a bounded matrix, and projection is one broadcast
matrix applied map-side. Nothing quadratic in n ever materializes.

Cross-engine exactness discipline: a double->DECIMAL(38,18) cast rounds
DIFFERENTLY in Spark (BigDecimal exact expansion) and DuckDB (scaled
float arithmetic) - measured 1-ulp-at-digit-18 disagreements - so float
sums cannot be made portable by decimal-casting them. Instead the
embeddings are QUANTIZED to integers first (round(v * 1e9), the same
trick as similarity.quantize_embeddings's int8 codes, at int64
precision), and all moments are sums of int64 products in DECIMAL(38,0)
- pure integer arithmetic with no rounding anywhere, identical in any
engine. Covariance then comes out of the moments in double arithmetic
on identical inputs:

    Cov_ij = (S_ij - S_i * S_j / n) / (n * 1e18)

Quantization error is 5e-10 per coordinate - four orders below the
round-6 reporting grid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: quantization scale: round(v * 1e9) keeps |q| < 2^31 for unit-scale
#: embeddings, so q_i * q_j < 2^62 stays exact int64
QSCALE = 1_000_000_000


def quantized_coords(df: DataFrame, id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """(id, i, q): one row per coordinate, q = round(v * 1e9) as int64.
    ROUND on a double is half-away-from-zero in both Spark and DuckDB,
    so the quantized corpus is engine-portable by construction."""
    return df.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.transform(vec_col, lambda x: x.cast("double"))
        ).alias("i", "v"),
    ).select(
        "id", "i",
        F.round(F.col("v") * QSCALE, 0).cast("long").alias("q"),
    )


#: hi/lo split radix for second-moment sums: products |q_a * q_b| < 2^58
#: split as p = (p DIV 2^26) * 2^26 + (p % 2^26) - truncating division,
#: identical in Spark (DIV/%) and DuckDB (///%) including negatives
#: (verified: -7 DIV 2 = -3, -7 % 2 = -1 in both)
SPLIT_RADIX = 1 << 26


def moment_sums(coords: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(first, second): S_i = sum q_i (d rows, exact DECIMAL(38,0)) and
    S_ij = sum q_i * q_j for i <= j (d(d+1)/2 rows) as SPLIT long sums
    (s_hi = sum of p DIV 2^26, s_lo = sum of p % 2^26).

    The split exists because a DECIMAL(38,0) aggregation leaves codegen
    (measured 3.9 s vs 0.6 s for the same join at sf0.1): two plain LONG
    sums stay whole-stage-generated and map-side combinable, remain
    overflow-safe to ~2.5e9 rows per (i, j) cell (beyond that, fall back
    to the decimal form), and reconstruct S_ij = s_hi * 2^26 + s_lo
    exactly in unbounded arithmetic or replayably in double.

    The pair products come from a self-equi-join on the vector id (64
    rows per key, co-partitioned shuffle); the aggregation emits at most
    d(d+1)/2 partial rows per task no matter how many vectors it
    scanned. For much wider d the production variant is a mapInPandas
    partial-Gram per partition; at d = 64 the join form stays entirely
    in codegen."""
    first = coords.groupBy("i").agg(
        F.sum(F.col("q").cast("decimal(38,0)")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    a = coords.select("id", F.col("i").alias("ii"), F.col("q").alias("qa"))
    b = coords.select("id", F.col("i").alias("j"), F.col("q").alias("qb"))
    second = (
        a.join(b, "id")
        .where(F.col("ii") <= F.col("j"))
        .select("ii", "j", (F.col("qa") * F.col("qb")).alias("p"))
        .groupBy("ii", "j")
        .agg(
            F.sum(F.expr(f"p DIV {SPLIT_RADIX}")).alias("s_hi"),
            F.sum(F.expr(f"p % {SPLIT_RADIX}")).alias("s_lo"),
        )
        .withColumnRenamed("ii", "i")
    )
    return first, second


def moment_sums_gram(df: DataFrame, id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     ) -> tuple[DataFrame, DataFrame]:
    """Partial-Gram moment kernel - the production (100 TB) shape of
    ``moment_sums``: ONE Arrow pass over the corpus, each partition
    emitting its d + d(d+1)/2 integer partial sums, then a bounded final
    merge. No self-join: the join form amplifies every row d-fold before
    codegen multiplies; this computes the same per-row products in numpy
    and ships only O(partitions x d^2) rows to one tiny shuffle.

    Bit-exactness contract (what makes it a swap-in for moment_sums and
    keeps every SQL oracle green unchanged):

    - quantization happens in COLUMN form BEFORE the kernel - the same
      ``round(cast(x as double) * 1e9)`` expression quantized_coords
      uses, so q is identical to the oracle's by construction (numpy
      round is half-EVEN where Spark/DuckDB round half-up: never
      quantize inside the kernel);
    - the per-product hi/lo split replicates Spark ``DIV`` / ``%``
      TRUNCATING semantics (``sign(p) * (|p| // R)``, remainder keeping
      the dividend's sign) - numpy's ``//`` floors toward -inf and would
      shift every negative product's pair;
    - partial sums are exact int64 (|hi| < 2^36 so a partition overflows
      only past ~2^27 rows; |q| < 2^31 per the QSCALE header), and
      integer addition is associative, so partition-then-merge equals
      the row-level aggregation integer for integer (pinned by
      ``test_pca_gram_kernel_equals_join_moments``, which constructs
      negative products to catch a floored division).

    The kernel output is localCheckpointed (bounded: partitions x
    (d + d(d+1)/2) rows) so deriving both moment frames costs one pass.
    """
    import numpy as np
    import pandas as pd

    q_arr = F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * QSCALE, 0).cast("long"),
    )
    quantized = df.select(q_arr.alias("q"))

    def gram(batches):
        s_hi = s_lo = s1 = iu = None
        n = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            q = np.array(pdf["q"].tolist(), dtype=np.int64)
            if iu is None:
                d = q.shape[1]
                iu = np.triu_indices(d)
                s_hi = np.zeros(len(iu[0]), dtype=np.int64)
                s_lo = np.zeros(len(iu[0]), dtype=np.int64)
                s1 = np.zeros(d, dtype=np.int64)
            p = q[:, iu[0]] * q[:, iu[1]]  # rows x d(d+1)/2, exact int64
            hi = np.sign(p) * (np.abs(p) // SPLIT_RADIX)  # trunc toward 0
            s_hi += hi.sum(axis=0)
            s_lo += (p - hi * SPLIT_RADIX).sum(axis=0)
            s1 += q.sum(axis=0)
            n += len(pdf)
        if iu is None:
            return
        d = len(s1)
        yield pd.DataFrame(
            {
                "i": np.concatenate([iu[0], np.arange(d)]),
                "j": np.concatenate([iu[1], np.full(d, -1)]),
                "s_hi": np.concatenate([s_hi, s1]),
                "s_lo": np.concatenate([s_lo, np.full(d, n, dtype=np.int64)]),
            }
        )

    from .dedup import _memoized_checkpoint

    # the mapInPandas plan semanticHash-canonicalizes across calls
    # (probe-verified: same hash + sameSemantics for fresh closures), so
    # the session memo (registry kind "pca_gram") makes the kernel a
    # once-per-(session, corpus) cost shared by sim_pca and sim_pca_gram
    parts = _memoized_checkpoint(
        "pca_gram",
        quantized.mapInPandas(gram, "i int, j int, s_hi long, s_lo long"),
    )
    first = (
        parts.where(F.col("j") == -1)
        .groupBy("i")
        .agg(
            F.sum(F.col("s_hi").cast("decimal(38,0)")).alias("s"),
            F.sum("s_lo").alias("n"),
        )
    )
    second = (
        parts.where(F.col("j") >= 0)
        .groupBy("i", "j")
        .agg(F.sum("s_hi").alias("s_hi"), F.sum("s_lo").alias("s_lo"))
    )
    return first, second


def covariance_df(df: DataFrame, id_col: str = "vec_id",
                  vec_col: str = "embedding",
                  moments: tuple[DataFrame, DataFrame] | None = None,
                  ) -> DataFrame:
    """Upper-triangle covariance matrix (i, j, cov_r), round-6, from the
    integer moments - every cell exactly replayable by a SQL oracle.
    Defaults to the partial-Gram kernel (r13); the join-form moment_sums
    produces the identical integers and remains the pure-SQL twin."""
    if moments is None:
        moments = moment_sums_gram(df, id_col, vec_col)
    first, second = moments
    n = first.select(F.max("n").alias("nv"))
    fi = first.select(F.col("i").alias("fi_i"), F.col("s").alias("si"))
    fj = first.select(F.col("i").alias("fj_j"), F.col("s").alias("sj"))
    return (
        second.join(fi, second["i"] == fi["fi_i"])
        .join(fj, second["j"] == fj["fj_j"])
        .crossJoin(F.broadcast(n))
        .select(
            "i", "j",
            (
                F.round(
                    (
                        F.col("s_hi").cast("double") * F.lit(float(SPLIT_RADIX))
                        + F.col("s_lo").cast("double")
                        - F.col("si").cast("double")
                        * F.col("sj").cast("double")
                        / F.col("nv")
                    )
                    / (F.col("nv") * F.lit(float(QSCALE) * QSCALE)),
                    6,
                )
                # + 0.0 canonicalizes IEEE signed zero (-0.0 + 0.0 = +0.0):
                # a covariance in (-0.5e-6, 0] rounds to a zero whose SIGN
                # differs between engines (r10 driver hash-FAIL, cell (5,9))
                + F.lit(0.0)
            ).alias("cov_r"),
        )
    )


def eigensolve(cov_rows, dim: int):
    """Driver-bounded symmetric eigensolve on the collected upper
    triangle (d(d+1)/2 rows - the ONLY data that ever reaches the
    driver). Returns (eigvals desc, eigvecs as columns), numpy float64.
    Sign convention: each eigenvector's largest-|coord| entry positive,
    so downstream projections are deterministic."""
    import numpy as np

    c = np.zeros((dim, dim))
    for r in cov_rows:
        c[r["i"], r["j"]] = c[r["j"], r["i"]] = r["cov_r"]
    vals, vecs = np.linalg.eigh(c)
    order = np.argsort(vals)[::-1]
    vals, vecs = vals[order], vecs[:, order]
    for k in range(dim):
        lead = np.argmax(np.abs(vecs[:, k]))
        if vecs[lead, k] < 0:
            vecs[:, k] = -vecs[:, k]
    return vals, vecs


def projection_variances(df: DataFrame, vecs, mu, n_comp: int,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding") -> list:
    """In-engine biased variance of the projection onto each of the top
    ``n_comp`` eigenvectors - the independent distributed check that the
    driver eigensolve is right (Var(X w_k) must equal lambda_k). The
    per-vector dot product is a broadcast map-side expression; the
    variance aggregation sums decimal-cast squares so repeated runs are
    bit-identical regardless of partitioning.

    Expression shape (r13): ONE flat zip_with + aggregate lambda per
    component instead of a d-deep nested Add chain - at d = 64 x 3
    components the chained tree cost ~3.8 s of Catalyst analysis alone
    (the dominant sim_pca line item), the lambda form is milliseconds.
    The fold runs left-to-right over the same (x_i - mu_i) * w_i terms in
    the same index order, so the double result is bit-identical (the only
    divergence class, an all-(-0.0) term list folding to +0.0 instead of
    -0.0, is erased by the squaring)."""
    # F.lit(list) builds ONE array literal node per vector (a 64-element
    # F.array of struct literals costs ~0.5 s of analysis per component)
    xs = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    diffs = F.zip_with(xs, F.lit([float(m) for m in mu]), lambda x, m: x - m)
    dots = []
    for k in range(n_comp):
        ws = F.lit([float(vecs[i, k]) for i in range(len(mu))])
        terms = F.zip_with(diffs, ws, lambda d, w: d * w)
        dots.append(
            F.aggregate(terms, F.lit(0.0), lambda a, t: a + t).alias(f"p{k}")
        )
    pr = df.select(*dots)
    aggs = [
        (
            F.sum((F.col(f"p{k}") * F.col(f"p{k}")).cast("decimal(38,18)"))
            .cast("double")
            / F.count(F.lit(1))
        ).alias(f"v{k}")
        for k in range(n_comp)
    ]
    row = pr.agg(*aggs).collect()[0]
    return [row[f"v{k}"] for k in range(n_comp)]


def pca_summary(spark: SparkSession, df: DataFrame, dim: int = 64,
                n_comp: int = 3, id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """Declared-query assembly: (comp, n_vectors, trace_r, resid_ok,
    var_ok, ortho_ok, ordered_ok). trace_r is SQL-replayable - computed
    from the exact integer moments, trace = sum_i(S_ii*n - S_i^2) /
    (n^2 * 1e18), never a float sum of matrix cells - and the four
    booleans are engine-derived contracts: Rayleigh residual
    ||Cw - lw|| <= 1e-8 + 1e-6*l, distributed projection variance
    within 1e-6 relative of lambda, orthonormality to 1e-9, and
    descending eigenvalue order."""
    import numpy as np

    # partial-Gram kernel (r13): its bounded output is checkpointed, so
    # the three reads below (cov, first, diag) each cost a tiny agg, not
    # a corpus pass - the former per-frame localCheckpoints are gone
    first, second = moment_sums_gram(df, id_col, vec_col)
    cov_rows = covariance_df(df, id_col, vec_col,
                             moments=(first, second)).collect()
    fr = {r["i"]: (int(r["s"]), r["n"]) for r in first.collect()}
    nv = fr[0][1]
    vals, vecs = eigensolve(cov_rows, dim)
    c = np.zeros((dim, dim))
    for r in cov_rows:
        c[r["i"], r["j"]] = c[r["j"], r["i"]] = r["cov_r"]
    diag = {
        r["i"]: int(r["s_hi"]) * SPLIT_RADIX + int(r["s_lo"])
        for r in second.where(F.col("i") == F.col("j")).collect()
    }
    td = sum(diag[i] * nv - fr[i][0] * fr[i][0] for i in range(dim))
    trace_r = round(float(td) / (nv * nv * float(QSCALE) * QSCALE), 6)
    mu = [fr[i][0] / nv / QSCALE for i in range(dim)]
    pvars = projection_variances(df, vecs, mu, n_comp, id_col, vec_col)
    out = []
    for k in range(n_comp):
        lam = float(vals[k])
        resid = float(np.linalg.norm(c @ vecs[:, k] - lam * vecs[:, k]))
        ortho = all(
            abs(float(vecs[:, k] @ vecs[:, m]) - (1.0 if m == k else 0.0))
            <= 1e-9
            for m in range(n_comp)
        )
        # lambda_k comes from the ROUND-6 covariance C_r = C + E while the
        # projection variance is computed on the raw corpus, so they agree
        # only to |w'Ew| <= ||E||_F <= sqrt(2 * d^2) * 5e-7 ~ 4.5e-5 at
        # d = 64 (plus 1e-9-scale quantization). The tolerance is that
        # perturbation bound, not a guess.
        var_tol = (2.0 * dim * dim) ** 0.5 * 5e-7 + 1e-6 * abs(lam)
        out.append((
            k + 1,
            nv,
            trace_r,
            resid <= 1e-8 + 1e-6 * abs(lam),
            abs(pvars[k] - lam) <= var_tol,
            ortho,
            bool(vals[k] >= vals[k + 1] - 1e-12) if k + 1 < dim else True,
        ))
    return spark.createDataFrame(
        out,
        "comp long, n_vectors long, trace_r double, resid_ok boolean, "
        "var_ok boolean, ortho_ok boolean, ordered_ok boolean",
    ).orderBy("comp")
