"""Round 20 (optimization round 2/2) focused pins.

Every entry here guards an optimization that changed an operator's
internals: values must be provably unchanged, only the plan/shape moves.
"""

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_registry_evicts_oldest_beyond_cap(spark):
    """The session-artifact registry bounds every kind at ARTIFACT_CAP
    entries, frees an evicted checkpoint's blocks, and drops a dead
    session's entries and build records when a new applicationId
    appears."""
    from types import SimpleNamespace

    from web_maxiv_hdbppviewer_spark.cache import ARTIFACT_CAP, SessionArtifacts

    reg = SessionArtifacts()
    fake = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="app-dead"))
    n = ARTIFACT_CAP + 3
    for i in range(n):
        reg.get_or_build(fake, "k", i, lambda i=i: str(i))
    live = [i for i in range(n) if reg.peek(fake, "k", i) is not None]
    assert live == list(range(3, n))  # oldest evicted, newest kept
    # getting an existing key again must not grow the store or rebuild
    assert reg.get_or_build(fake, "k", 5, lambda: "5b") == "5"
    assert len([i for i in range(n) if reg.peek(fake, "k", i)]) == ARTIFACT_CAP
    assert len(reg.builds()) == n

    # a new applicationId drops the dead session's entries and log
    sc = spark.sparkContext
    first = reg.get_or_build(
        spark, "ckpt", 0,
        lambda: spark.range(64, numPartitions=2).localCheckpoint(),
    )
    assert [k for k, _, _ in reg.builds()] == ["ckpt"]

    # evicting a checkpointed frame frees its blocks
    def cached_rdds():
        return {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}

    rdd_id = first._jdf.queryExecution().analyzed().rdd().id()
    assert rdd_id in cached_rdds()
    for i in range(1, ARTIFACT_CAP + 1):
        reg.get_or_build(spark, "ckpt", i, lambda: spark.range(1).localCheckpoint())
    assert reg.peek(spark, "ckpt", 0) is None
    assert rdd_id not in cached_rdds()

    # the fake session's entries were dropped, not parked: it rebuilds
    assert reg.get_or_build(fake, "k", n - 1, lambda: "rebuilt") == "rebuilt"


def test_emb_scored_pairs_bound_is_lossless_for_consumers(spark):
    """VERDICT r19 #2: _emb_scored_pairs now checkpoints only the rows
    some consumer can read - pairs at cos_r >= EMBED_NEAR_DUP_COS plus
    pairs in the top-KNN_K of either endpoint. Pin the equivalence
    against the OPEN-threshold pass directly:
      - every thresholded pair survives (dedup_embedding /
        dedup_clusters_semantic read exactly these), and
      - per-node top-KNN_K over the bounded set == over the full set
        (sim_knn_graph's window), including tie order.
    """
    from pyspark.sql.window import Window

    from web_maxiv_hdbppviewer_spark.operators import similarity
    from web_maxiv_hdbppviewer_spark.plans import extensions as ext

    full = similarity.near_dup_pairs(
        ext._emb(spark, SF_SMOKE), -1.0, bands=8, band_bits=8
    )
    bounded = ext._emb_scored_pairs(spark, SF_SMOKE)

    full_rows = {(r["id_a"], r["id_b"], r["cos_r"]) for r in full.collect()}
    bounded_rows = {
        (r["id_a"], r["id_b"], r["cos_r"]) for r in bounded.collect()
    }
    assert bounded_rows <= full_rows  # a subset with identical cos_r values
    thresholded = {
        t for t in full_rows if t[2] >= ext.EMBED_NEAR_DUP_COS
    }
    assert thresholded <= bounded_rows
    assert thresholded, "smoke corpus should have near-dup pairs"

    def knn(pairs_df):
        edges = pairs_df.select(
            F.col("id_a").alias("id"), F.col("id_b").alias("nbr"), "cos_r"
        ).unionAll(
            pairs_df.select(
                F.col("id_b").alias("id"), F.col("id_a").alias("nbr"), "cos_r"
            )
        )
        w = Window.partitionBy("id").orderBy(F.desc("cos_r"), F.asc("nbr"))
        return {
            (r["id"], r["rk"], r["nbr"], r["cos_r"])
            for r in edges.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= ext.KNN_K)
            .collect()
        }

    assert knn(bounded) == knn(full)
    # the bound is real: the open pass keeps strictly more rows at the
    # smoke corpus (background cosine tops out ~0.5, so sub-threshold
    # non-top-k candidates exist)
    assert len(bounded_rows) < len(full_rows)


def test_containment_count_nmin_narrowing_exact(spark):
    """Optimization r20: the count strategy's pair exchange now carries
    least(na, nb) computed BEFORE the aggregate instead of (na, nb)
    carried through it. Pin the shipped form against a brute-force
    python reference on a dense-sharing corpus (small vocab, so posting
    lists overlap heavily - the sf0.1 regime in miniature)."""
    import random

    from web_maxiv_hdbppviewer_spark.operators.dedup import containment_pairs

    rng = random.Random(7)
    vocab = [f"t{i}" for i in range(12)]  # small vocab -> dense sharing
    docs = [(i, " ".join(rng.choices(vocab, k=rng.randint(5, 18))))
            for i in range(25)]
    t = 0.5

    def shingles(s):
        w = s.split()
        return set(zip(w, w[1:]))

    expect = {}
    for i, ta in docs:
        for j, tb in docs:
            if i < j:
                sa, sb = shingles(ta), shingles(tb)
                c = len(sa & sb)
                if not sa or not sb:
                    continue
                cont = round(c / min(len(sa), len(sb)), 6)
                if cont >= t:
                    expect[(i, j)] = cont
    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]): r["cont_r"]
           for r in containment_pairs(sdf, t).collect()}
    assert got == expect
