"""Declared extension queries: the training-data pipeline surface
(dedup, similarity search, text analysis, multimodal) over the
``documents`` and ``embeddings`` testdata tables.

Thresholds are tuned to the testdata's measured structure: word-bigram
Jaccard is bimodal (planted near-dup pairs at J>=0.9 vs background <=0.13),
embedding cosine background tops out near 0.5. Each query exercises one
operator from ``operators/{dedup,similarity,textquality,multimodal}``.

``multimodal_extract`` runs a Pandas mapInPandas stage (Arrow-batched);
its oracle reconstructs the same feature in SQL from the source text.
"""

from __future__ import annotations

import itertools
import os
import re
import shutil

from pyspark.sql import Observation
from pyspark.sql import functions as F

from ..cache import artifacts
from ..operators import bpe, dedup, multimodal, sampling, similarity, textquality
from ..sources.tables import load_tables

JACCARD_THRESHOLD = 0.8
SPLIT_FRACTIONS = {"train": 0.8, "val": 0.1, "test": 0.1}
MIX_FRACTIONS = {"src0": 0.5, "src1": 0.25}
MIX_DEFAULT = 0.1
CURATION_MIN_QUALITY = 0.32
PACK_SEQ_LEN = 2048
PACK_SHARDS = 16
INGEST_NEW_BUCKETS = 1000  # hash buckets < 1000 of 10000 = the "new batch"
REPETITION_K = 3
CONTAMINATION_K = 5
RESIZE_FACTOR = 2
FRAME_EVERY = 4
SIMHASH_MAX_HAMMING = 3
EMBED_NEAR_DUP_COS = 0.4
COMPACT_FRAG_FILES = 64
COLLOC_MIN_COUNT = 5
CURRICULUM_TIERS = 4
CONTAINMENT_THRESHOLD = 0.6
SPAN_K = 8
KEYWORDS_TOPK = 3
STREAM_SINK_FILES = 16
COLLOC_TOPK = 50
COMPACT_TARGET_ROWS = 4096
TOPK = 5
ANN_TOPK = 3
ANN_NBITS = 4
IVF_CELLS = 8
IVF_NPROBE = 2
KMEANS_ITERS = 2
QUERY_IDS_BELOW = 10
KNN_K = 3  # sim_knn_graph top-k; also bounds _emb_scored_pairs (VERDICT r19 #2)


def _docs(spark, sf_dir):
    return load_tables(spark, sf_dir)["documents"]


def _docs_sorted(spark, sf_dir):
    """documents PRE-SORTED by doc_id, for the per-document projection
    family: the presentation orderBy goes on the narrow scan BEFORE the
    heavy projection, because a trailing orderBy's range-exchange SAMPLES
    its child - re-executing the whole scoring expression a second time
    (measured 3-4x on text_langid: 1.21 s -> 0.31 s at sf0.1). Projections,
    Generates, and mapInPandas are order-preserving narrow ops, so the
    output is still globally doc_id-sorted."""
    return _docs(spark, sf_dir).orderBy("doc_id")


def _emb(spark, sf_dir):
    return load_tables(spark, sf_dir)["embeddings"]


# --- deduplication -------------------------------------------------------


def dedup_exact(spark, sf_dir):
    return dedup.exact_dedup(_docs(spark, sf_dir)).orderBy("keep_id")


def dedup_ngram_jaccard(spark, sf_dir):
    return dedup.ngram_jaccard_pairs(_docs(spark, sf_dir), JACCARD_THRESHOLD).orderBy(
        "id_a", "id_b"
    )


def _method_pairs(spark, sf_dir, method):
    """Verified near-dup pair frame for one approximate dedup method
    (full output columns, unordered), built once per session (registry
    kind "dedup_method_pairs", optimization r19): each method's full
    pipeline (shingle/fingerprint stage, banded candidate join, exact
    verification) runs ONCE and dedup_compare / pipe_dump_dedup read the
    same lazily-checkpointed frame. Values bit-identical: same operator
    call, same threshold constants."""

    def build():
        docs = _docs(spark, sf_dir)
        if method == "minhash_lsh":
            df = dedup.minhash_dedup_pairs(docs, JACCARD_THRESHOLD)
        elif method == "simhash":
            df = dedup.simhash_pairs(docs, SIMHASH_MAX_HAMMING)
        elif method == "winnow":
            df = textquality.winnow_matches(docs)
        else:
            raise ValueError(f"unknown dedup method {method!r}")
        return df.localCheckpoint(eager=False)

    return artifacts.get_or_build(
        spark, "dedup_method_pairs", (sf_dir, method), build
    )


def dedup_minhash_lsh(spark, sf_dir):
    return _method_pairs(spark, sf_dir, "minhash_lsh").orderBy(
        "id_a", "id_b"
    )


def dedup_simhash(spark, sf_dir):
    return _method_pairs(spark, sf_dir, "simhash").orderBy(
        "id_a", "id_b"
    )


#: Session-bound scored candidate-pair memo for the embedding sign-LSH
#: family (optimization r19): near_dup_pairs' min_cos is a pure final
#: filter over the banded-candidate + exact-cosine verification, so the
#: whole pipeline runs ONCE per session with the threshold OPEN
#: (min_cos = -1) and dedup_embedding / dedup_clusters_semantic /
#: sim_knn_graph derive their outputs by filter - previously each ran
#: the full candidate join + verification. Geometry pinned 8x8 (the
#: oracle-replayed bands all three consumers already shared).
#: Registry kind "emb_scored_pairs".


def _emb_scored_pairs(spark, sf_dir):
    """(id_a, id_b, cos_r) candidate pairs of the embedding corpus at
    the pinned 8x8 sign-LSH geometry, session-memoized and BOUNDED
    (VERDICT r19 #2): the open-threshold candidate frame can be orders
    of magnitude larger than any consumer's output at 100 TB, so the
    checkpoint keeps only the rows some consumer can read -
      - pairs at cos_r >= EMBED_NEAR_DUP_COS (dedup_embedding /
        dedup_clusters_semantic's exact filter), plus
      - pairs in the top-KNN_K of EITHER endpoint by sim_knn_graph's
        own (cos_r desc, nbr asc) order (min over the pair's two
        directed ranks <= KNN_K).
    Consumer outputs are provably unchanged: both dedup consumers
    filter at the threshold (every such pair is kept), and a node's
    top-k by a total order is invariant under removing rows ranked
    below k at both endpoints. Size bound: |threshold pairs| +
    2*KNN_K*|vectors| rows - corpus-linear, never candidate-quadratic."""

    def build():
        from pyspark.sql.window import Window

        scored = similarity.near_dup_pairs(
            _emb(spark, sf_dir), -1.0, bands=8, band_bits=8
        )
        sym = scored.select(
            F.col("id_a").alias("id"), F.col("id_b").alias("nbr"),
            "id_a", "id_b", "cos_r",
        ).unionAll(
            scored.select(
                F.col("id_b").alias("id"), F.col("id_a").alias("nbr"),
                "id_a", "id_b", "cos_r",
            )
        )
        w = Window.partitionBy("id").orderBy(F.desc("cos_r"), F.asc("nbr"))
        bounded = (
            sym.withColumn("rk", F.row_number().over(w))
            .groupBy("id_a", "id_b")
            .agg(F.min("rk").alias("_min_rk"), F.min("cos_r").alias("cos_r"))
            .where(
                (F.col("_min_rk") <= KNN_K)
                | (F.col("cos_r") >= EMBED_NEAR_DUP_COS)
            )
            .select("id_a", "id_b", "cos_r")
        )
        return bounded.localCheckpoint(eager=False)

    return artifacts.get_or_build(spark, "emb_scored_pairs", sf_dir, build)


def dedup_embedding(spark, sf_dir):
    # geometry pinned 8x8: the oracle replays these exact bands, and at
    # test-scale corpora 8x8 is the right point on the lsh_geometry_for
    # ladder anyway (4x16 collapses recall at 2k vectors)
    return (
        _emb_scored_pairs(spark, sf_dir)
        .where(F.col("cos_r") >= EMBED_NEAR_DUP_COS)
        .orderBy("id_a", "id_b")
    )


def dedup_incremental(spark, sf_dir):
    """Dedup a newly-ingested batch (a deterministic 10% hash slice) against
    the standing corpus: pairs involving at least one batch document. The
    probe side of the prefix join is batch-restricted, so the work is
    proportional to the batch - the daily-ingest shape at 100 TB."""
    is_new = lambda c: sampling.hash_bucket(c, "ingest") < INGEST_NEW_BUCKETS  # noqa: E731
    return dedup.incremental_ngram_pairs(
        _docs(spark, sf_dir), is_new, JACCARD_THRESHOLD
    ).orderBy("id_a", "id_b")


def dedup_clusters(spark, sf_dir):
    """Pairs -> duplicate clusters (iterative connected components): every
    document labeled with its cluster representative; the keep rule is
    doc_id == cluster_id. Oracle: recursive-CTE transitive closure."""
    from ..operators import graph

    docs = _docs(spark, sf_dir)
    pairs = dedup.ngram_jaccard_pairs(docs, JACCARD_THRESHOLD).select("id_a", "id_b")
    return graph.duplicate_clusters(docs, pairs).orderBy("doc_id")


def dedup_containment(spark, sf_dir):
    """Asymmetric (quote/subset) near-dup detection: max-containment
    |A^B| / min(|A|,|B|) >= 0.6 over word-bigram shingles - catches the
    short-doc-quoted-in-long-doc leak Jaccard misses. Smaller-side prefix
    index, full posting probe, exact recall (dedup.containment_pairs);
    oracle is the naive inverted-index formulation."""
    return dedup.containment_pairs(
        _docs(spark, sf_dir), CONTAINMENT_THRESHOLD
    ).orderBy("id_a", "id_b")


PAGERANK_ITERS = 8
PAGERANK_TOPK = 20


def graph_pagerank(spark, sf_dir):
    """Integer PageRank over the verified near-dup pair graph
    (operators/graph.pagerank): duplication-hub centrality - documents
    whose content radiates through many near-dup neighborhoods score
    highest, the signal a curation pipeline uses to pick which cluster
    representative to KEEP (most-central) or to audit (template hubs).
    Same Pregel superstep shape as connected_components; all truncating
    integer arithmetic, so the oracle unrolls the identical 8 iterations
    in SQL and every pr value hash-checks. Top-20 by (pr desc, id)."""
    from ..operators import graph

    pairs = dedup.ngram_jaccard_pairs(
        _docs(spark, sf_dir), JACCARD_THRESHOLD
    ).select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    pr = graph.pagerank(pairs, PAGERANK_ITERS)
    from pyspark.sql.window import Window

    # Top-k via orderBy().limit() = TakeOrderedAndProject (per-partition
    # heaps + a k-row driver merge), NOT a global partition-less
    # row_number window - that shape funnels every node row through ONE
    # task and was the last scale-killer VERDICT r11 found. The rank is
    # then a window over the already-bounded 20 rows (same pattern as
    # pipe_sample_weighted, PLANS.md:206).
    top = pr.orderBy(F.desc("pr"), F.asc("id")).limit(PAGERANK_TOPK)
    return (
        top.withColumn(
            "rk",
            F.row_number().over(Window.orderBy(F.desc("pr"), F.asc("id"))),
        )
        .select(F.col("rk").cast("long").alias("rk"), "id", "pr")
        .orderBy("rk")
    )


def dedup_spans(spark, sf_dir):
    """Cross-corpus duplicated-SPAN accounting (C4's repeated-span
    filter re-expressed over fixed k-token windows): non-overlapping
    8-token windows, global first-occurrence wins, per-document survival
    stats. Complements the document-level families above: those decide
    which DOCS to drop, this measures which SLICES of a kept doc are
    boilerplate already seen elsewhere. Oracle: window-function
    first-occurrence over the same spans."""
    return dedup.span_dedup(_docs(spark, sf_dir), SPAN_K).orderBy("doc_id")


#: minimum repeated-substring length (tokens) for dedup_substr - the
#: ExactSubstr threshold (Lee et al. use 50 BPE tokens on web-scale text;
#: 12 words keeps the modality non-trivial on this corpus's ~56-word docs)
SUBSTR_K = 12


def dedup_substr(spark, sf_dir):
    """Exact substring-level dedup accounting (operators/
    dedup.repeated_substrings): per-document maximal regions whose
    12-token substrings occur >= 2 times anywhere in the corpus - the
    Lee et al. ExactSubstr suffix-array dedup re-expressed as
    overlapping-window hashes + gaps-and-islands run merging. The
    missing modality between span_dedup (fixed non-overlapping grid)
    and the document-level near-dup families: it catches repeats that
    straddle window boundaries at their exact token extent. Oracle:
    the identical windows/count/island algebra unrolled in SQL."""
    return dedup.repeated_substrings(_docs(spark, sf_dir), SUBSTR_K).orderBy(
        "doc_id"
    )


def dedup_clusters_semantic(spark, sf_dir):
    """Embedding near-dup pairs -> duplicate clusters: the same iterative
    connected-components operator as dedup_clusters (min-label propagation
    + pointer jumping) over the SEMANTIC pair source (banded sign-LSH +
    exact cosine), labeling every vector with its component
    representative - the cluster-TRANSITIVE keep policy next to
    dedup_semantic's pair-local one. Oracle: recursive-CTE closure over
    the naive banded pair SQL."""
    from ..operators import graph

    emb = _emb(spark, sf_dir)
    # the session-shared scored-pair checkpoint (optimization r19),
    # filtered to the near-dup threshold - identical rows to the direct
    # near_dup_pairs call
    pairs = (
        _emb_scored_pairs(spark, sf_dir)
        .where(F.col("cos_r") >= EMBED_NEAR_DUP_COS)
        .select("id_a", "id_b")
    )
    ids = emb.select(F.col("vec_id").alias("id"))
    return graph.duplicate_clusters(ids, pairs, id_col="id").orderBy("id")


def dedup_semantic(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): the trained Lloyd k-means cells
    (shared with sim_ann_ivf_trained - identical deterministic training)
    bound the pairwise search; a vector with a lower-id cluster-mate at
    round-6 cosine >= the near-dup threshold is dropped in favor of that
    mate. The oracle unrolls the same training iterations, assignment and
    in-cell pair rule in SQL - parity is bit-exact."""
    emb = _emb(spark, sf_dir)
    cents = _coarse_centroids(spark, sf_dir)
    return similarity.semantic_dedup(emb, EMBED_NEAR_DUP_COS, cents).orderBy("id")


# --- similarity search ---------------------------------------------------


def sim_topk_cosine(spark, sf_dir):
    return similarity.topk_cosine(_emb(spark, sf_dir), TOPK, QUERY_IDS_BELOW).orderBy(
        "q_id", "rank"
    )


#: RRF constant (Cormack et al.'09's k=60, the de-facto default) and
#: per-leg candidate depth for the hybrid fusion
RRF_K = 60
HYBRID_TOPK = 20


def sim_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval with reciprocal-rank fusion (NEW r14) - the
    standard first-stage retriever of a RAG / hard-negative-mining
    pipeline: a LEXICAL leg (BM25 of every document against the literal
    BM25_TERMS query, the text_bm25 scorer) and a VECTOR leg (exact
    round-6 cosine top-k of the corpus against embedding 0, the
    sim_topk_cosine ranking) each produce a top-20 candidate list; the
    fused score is Cormack's RRF

        rrf(d) = round6( 1/(60 + lex_rank) + 1/(60 + vec_rank) )

    with an absent leg contributing 0 (full-outer fusion). Ranks are
    deterministic both sides (score desc, id asc). The doc/embedding id
    spaces are aligned by construction (TESTDATA: doc_id == vec_id), the
    same convention dedup_clusters_semantic relies on.

    Scale shape: each leg's top-20 is a TakeOrderedAndProject (no global
    sort); the ONLY global window is the 20-row rank over the already-
    reduced lexical candidates (bounded like graph_pagerank's final
    ranking, allowlisted in the plan lint); the fusion joins two
    <=20-row frames. At 100 TB the legs are the expensive part and both
    remain single-pass distributed reductions.

    Oracle: the text_bm25 statistics/scoring CTEs + the sim_topk_cosine
    ranking CTEs, fused with the identical 1.0/(60+rank) double
    arithmetic (CAST AS DOUBLE: DuckDB's bare 1.0 is DECIMAL and its
    decimal division would diverge in the 6th decimal)."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    emb = _emb(spark, sf_dir)

    lex_top = (
        textquality.bm25_scores(docs, textquality.BM25_TERMS)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(HYBRID_TOPK)
    )
    lex = lex_top.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("bm25"), F.asc("doc_id")))
        .cast("long")
        .alias("lex_rank"),
    )
    vec = (
        similarity.topk_cosine(emb, HYBRID_TOPK, 1)  # q_id = 0 only
        .select(F.col("cand_id").alias("doc_id"), F.col("rank").cast("long").alias("vec_rank"))
    )
    contrib = lambda c: F.coalesce(  # noqa: E731
        F.lit(1.0) / (F.lit(float(RRF_K)) + F.col(c).cast("double")), F.lit(0.0)
    )
    return (
        lex.join(vec, "doc_id", "full_outer")
        .select(
            "doc_id",
            "lex_rank",
            "vec_rank",
            F.round(contrib("lex_rank") + contrib("vec_rank"), 6).alias("rrf_r"),
        )
        .orderBy(F.desc("rrf_r"), F.asc("doc_id"))
    )


def sim_hard_negatives(spark, sf_dir):
    """Hard-negative mining (NEW r14) - the contrastive-training data
    primitive: for each query vector (id < QUERY_IDS_BELOW), the TOPK
    most-similar vectors whose LABEL DIFFERS from the query's (the
    embeddings table carries a class label) - maximally confusable
    cross-class examples, exactly what a contrastive or reranker
    training loop mines after ANN candidate generation. Ranking is the
    battery's round-6 cosine with id tie-break; the label constraint is
    one broadcast-joined predicate on the same single corpus pass as
    sim_topk_cosine (no extra shuffle - plan shape identical plus one
    filter). Oracle: the sim_topk_cosine ranking CTEs with the label
    inequality in the join condition."""
    from pyspark.sql import Window

    from ..operators.similarity import cosine, with_norms

    emb = _emb(spark, sf_dir)
    labels = emb.select(F.col("vec_id").alias("id"), "label")
    base = with_norms(emb).join(labels, "id")
    q = base.where(F.col("id") < QUERY_IDS_BELOW).select(
        F.col("id").alias("q_id"),
        F.col("vec").alias("q_vec"),
        F.col("nrm").alias("q_nrm"),
        F.col("label").alias("q_label"),
    )
    scored = (
        base.crossJoin(F.broadcast(q))
        .where((F.col("id") != F.col("q_id")) & (F.col("label") != F.col("q_label")))
        .select(
            "q_id",
            F.col("id").alias("cand_id"),
            F.col("label").alias("cand_label"),
            F.round(
                cosine(F.col("q_vec"), F.col("vec"), F.col("q_nrm"), F.col("nrm")), 6
            ).alias("cos_r"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_r").desc(), F.col("cand_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= TOPK)
        .orderBy("q_id", "rank")
    )


def sim_mips(spark, sf_dir):
    """Maximum-inner-product top-k (operators/similarity.topk_mips):
    exact round-6 inner-product ranking plus the norm-augmentation
    reduction (extra coordinate sqrt(M^2-|x|^2) makes every augmented
    norm equal M, so cosine ranking == MIPS ranking) verified per row
    from honestly-materialized augmented arrays - the identity that
    makes the battery's cosine ANN indexes (LSH bands / IVF cells / PQ
    codes) serve MIPS unchanged. Oracle: direct inner-product ranking
    with aug_ok pinned true."""
    return similarity.topk_mips(_emb(spark, sf_dir), TOPK, QUERY_IDS_BELOW).orderBy(
        "q_id", "rank"
    )


#: Session-bound scored-frame memos for the doc-grain ANN family
#: (VERDICT r18 #3): each index method's candidate-generation + scoring
#: pass runs ONCE per (session, sf_dir) - sim_ann_lsh / sim_ann_ivf /
#: sim_topk_pq / sim_ann_ivfpq, sim_ivf_probe_sweep and sim_ann_compare
#: all rank the SAME lazily-checkpointed frame with topk_per_query (the
#: one ranking-tail definition), so the compare table stops re-running
#: four candidate generators from scratch. Registry kind "ann_scored".


def _ann_scored(spark, sf_dir, method):
    """Session-memoized scored frame for one doc-grain ANN method (or
    the exact float baseline). Scored frames are k-free and carry
    cell_rank where the method has a probe dial, so every consumer
    derives its setting by pure filter + topk_per_query - the r18
    ADC-once sweep discipline applied battery-wide:

    - "exact": topk_cosine at ANN_TOPK -> (q_id, cand_id), the recall
      baseline (lazy checkpoint; recall consumers count it first, which
      materializes the blocks once before any multi-branch union reads
      them - the r14 duplicate-compute measurement).
    - "ivf":   ann_scored_ivf at max(IVF_SWEEP_PROBES) with cell_rank.
    - "ivfpq": ann_adc_ivfpq at IVF_NPROBE (no doc-grain nprobe sweep)
      with the trained _ivfpq_artifacts.
    - "lsh":   ann_scored_lsh at ANN_NBITS.
    - "pq":    adc_scored_pq with the memoized _pq_codebooks.
    """

    def build():
        emb = _emb(spark, sf_dir)
        if method == "exact":
            df = similarity.topk_cosine(
                emb, ANN_TOPK, QUERY_IDS_BELOW
            ).select("q_id", "cand_id")
        elif method == "ivf":
            df = similarity.ann_scored_ivf(
                emb, QUERY_IDS_BELOW, IVF_CELLS, max(IVF_SWEEP_PROBES)
            )
        elif method == "ivfpq":
            cents, rcb = _ivfpq_artifacts(spark, sf_dir)
            df = similarity.ann_adc_ivfpq(
                emb, QUERY_IDS_BELOW, IVF_CELLS, IVF_NPROBE, KMEANS_ITERS,
                centroids=cents, codebooks=rcb,
            )
        elif method == "lsh":
            df = similarity.ann_scored_lsh(emb, QUERY_IDS_BELOW, ANN_NBITS)
        elif method == "pq":
            df = similarity.adc_scored_pq(
                emb, QUERY_IDS_BELOW, codebooks=_pq_codebooks(spark, sf_dir)
            )
        else:
            raise ValueError(f"unknown ANN method {method!r}")
        return df.localCheckpoint(eager=False)

    return artifacts.get_or_build(spark, "ann_scored", (sf_dir, method), build)


def sim_ann_lsh(spark, sf_dir):
    return similarity.topk_per_query(
        _ann_scored(spark, sf_dir, "lsh"), ANN_TOPK, "cos_r"
    ).orderBy("q_id", "rank")


def sim_ann_ivf(spark, sf_dir):
    return similarity.topk_per_query(
        _ann_scored(spark, sf_dir, "ivf")
        .where(F.col("cell_rank") <= IVF_NPROBE)
        .drop("cell_rank"),
        ANN_TOPK,
        "cos_r",
    ).orderBy("q_id", "rank")


def sim_topk_pq(spark, sf_dir):
    """Product-quantized ADC top-k (the 64x-compression serving path):
    per-subspace codebooks trained by deterministic Lloyd, candidates
    reduced to 4 codes each, queries kept full-precision. Oracle unrolls
    the identical subspace k-means, encoding and table-lookup ranking in
    SQL. Same output shape as sim_topk_cosine so PQ rank drift is
    directly diffable against the float baseline. Ranks the memoized
    adc_scored_pq pass (r19) at k=TOPK; values bit-identical to the
    pre-memo topk_cosine_pq call."""
    return similarity.topk_per_query(
        _ann_scored(spark, sf_dir, "pq"), TOPK, "acos_r"
    ).orderBy("q_id", "rank")


def sim_ann_ivfpq(spark, sf_dir):
    """Residual IVF-PQ ANN (the production index shape - FAISS IVFPQ):
    trained coarse cells route vectors, residuals are product-quantized,
    queries probe nprobe cells and score candidates purely from code
    lookups plus centroid cross terms. The oracle unrolls BOTH trainings
    (coarse cosine k-means + per-subspace residual k-means), the residual
    arithmetic, and the full ADC algebra - parity is bit-exact. Ranks
    the memoized ann_adc_ivfpq pass (r19); values bit-identical to the
    pre-memo ann_topk_ivfpq call."""
    return similarity.topk_per_query(
        _ann_scored(spark, sf_dir, "ivfpq").drop("cell_rank"),
        ANN_TOPK,
        "acos_r",
    ).orderBy("q_id", "rank")


def sim_ivfpq_recall(spark, sf_dir):
    """Recall@k of the residual IVF-PQ ranking against the exact float
    top-k - the third recall dial (LSH: sim_ann_recall, plain PQ:
    sim_pq_recall). IVFPQ loses recall two ways - unprobed cells and code
    quantization - and this measures the combined effect."""
    cents, rcb = _ivfpq_artifacts(spark, sf_dir)
    ann = similarity.ann_topk_ivfpq(
        _emb(spark, sf_dir), ANN_TOPK, QUERY_IDS_BELOW, IVF_CELLS, IVF_NPROBE,
        KMEANS_ITERS, centroids=cents, codebooks=rcb,
    ).select("q_id", "cand_id")
    exact = similarity.topk_cosine(
        _emb(spark, sf_dir), ANN_TOPK, QUERY_IDS_BELOW
    ).select("q_id", "cand_id")
    return _recall_vs_exact(ann, exact, ANN_TOPK)


def sim_ann_ivf_trained(spark, sf_dir):
    """IVF with a TRAINED quantizer: deterministic Lloyd k-means centroids
    (round-6 discipline) feed the same assignment/probe plan. The oracle
    unrolls the identical training iterations in SQL. Centroids come
    from the session-memoized _coarse_centroids (optimization r19) -
    the SAME train_ivf_centroids(emb, IVF_CELLS, KMEANS_ITERS) call
    dedup_semantic already shares, so the battery trains the coarse
    quantizer once instead of re-running the Lloyd passes here."""
    emb = _emb(spark, sf_dir)
    cents = _coarse_centroids(spark, sf_dir)
    return similarity.ann_topk_ivf(
        emb, ANN_TOPK, QUERY_IDS_BELOW, IVF_CELLS, IVF_NPROBE, centroids=cents
    ).orderBy("q_id", "rank")


# --- text analysis -------------------------------------------------------


def text_tokens(spark, sf_dir):
    return textquality.token_stats(_docs_sorted(spark, sf_dir))


def text_bpe(spark, sf_dir):
    return textquality.bpe_token_stats(_docs_sorted(spark, sf_dir))


def text_quality(spark, sf_dir):
    return textquality.quality_scores(_docs_sorted(spark, sf_dir))


def text_langid(spark, sf_dir):
    return textquality.lang_id(_docs_sorted(spark, sf_dir))


def text_keywords(spark, sf_dir):
    """Per-document top-3 TF-IDF keywords (textquality.tfidf_keywords):
    integer counts, one round-6 ln, per-document window ranking. The
    oracle replicates counts, the idf algebra and the tie rule."""
    return textquality.tfidf_keywords(_docs(spark, sf_dir), KEYWORDS_TOPK).orderBy(
        "doc_id", "rk"
    )


def text_collocations(spark, sf_dir):
    """Corpus-level PMI collocation mining (the word2vec-phrases shape):
    top-50 adjacent word pairs by pointwise mutual information with
    support >= 5. Counts are exact integers; the only float is the final
    ln(), round-6 like every scored ranking. Oracle replicates the counts
    and the PMI algebra term-for-term."""
    return textquality.collocations(_docs(spark, sf_dir), COLLOC_MIN_COUNT, COLLOC_TOPK)


def text_lm_score(spark, sf_dir):
    """Corpus-trained add-one bigram LM surprisal per document (the
    CCNet-style perplexity quality filter). Train and score are one
    pipeline; oracle replicates counts, smoothing and the mean log-prob
    in SQL."""
    return textquality.lm_bigram_scores(_docs(spark, sf_dir)).orderBy("id")


#: learned merge tables per (sf_dir, n_merges) (registry kind
#: "bpe_merges"): training is deterministic, so text_bpe_train and
#: text_bpe_apply share one training run per session instead of each
#: paying it again (merge lists are tiny driver values, no Spark state is
#: cached). Whichever BPE query runs FIRST in a session pays training -
#: since round 5 that is ONE word-count Spark job plus driver-side
#: incremental merge learning (operators/bpe.py), ~1 s at sf0.1; bench.py
#: additionally pre-trains in its warmup so no timed entry carries even
#: that (the r4 bench charged a 32.6 s job-per-merge loop to
#: text_bpe_apply - that loop is gone).
def _trained_merges(spark, sf_dir) -> list[tuple[int, str, str, int]]:
    return artifacts.get_or_build(
        spark,
        "bpe_merges",
        (sf_dir, bpe.N_MERGES),
        lambda: [
            (r["step"], r["lhs"], r["rhs"], r["n_pairs"])
            for r in bpe.train_bpe_merges(_docs(spark, sf_dir), bpe.N_MERGES)
            .orderBy("step")
            .collect()
        ],
    )


def _codebook_rows(cb) -> list:
    return [(int(r["m"]), int(r["cid"]), list(r["cv"])) for r in cb.collect()]


def _centroid_rows(cents) -> list:
    return [(int(r["cid"]), list(r["cvec"])) for r in cents.collect()]


def _codebook_df(spark, rows):
    return spark.createDataFrame(rows, "m int, cid long, cv array<double>")


def _centroid_df(spark, rows):
    return spark.createDataFrame(rows, "cid long, cvec array<double>")


#: trained PQ codebooks per sf_dir (registry kind "pq_codebooks") -
#: training is deterministic, so sim_topk_pq and sim_pq_recall share one
#: training run per session (the bpe_merges discipline: plain rows,
#: recreated as a DataFrame per call, no Spark state cached)
def _pq_codebooks(spark, sf_dir):
    rows = artifacts.get_or_build(
        spark,
        "pq_codebooks",
        sf_dir,
        lambda: _codebook_rows(similarity.train_pq_codebooks(_emb(spark, sf_dir))),
    )
    return _codebook_df(spark, rows)


#: base-corpus-trained codebooks for the append lifecycle (vec_id % 10
#: != 3 training subset; registry kind "pq_base_codebooks") - same
#: bounded-row discipline; the per-call append/persist/reload/serve work
#: stays UNmemoized, that IS the witnessed lifecycle
def _pq_base_codebooks(spark, sf_dir):
    def build():
        base_emb = _emb(spark, sf_dir).where(
            ~(F.col("vec_id") % APPEND_MOD == APPEND_RESIDUE)
        )
        return _codebook_rows(similarity.train_pq_codebooks(base_emb))

    return _codebook_df(
        spark, artifacts.get_or_build(spark, "pq_base_codebooks", sf_dir, build)
    )


#: coarse centroids for queries that need ONLY the trained quantizer
#: cells (dedup_semantic; registry kind "coarse_centroids"): identical
#: deterministic training to the IVFPQ coarse stage, so reuse the
#: "ivfpq_artifacts" entry when the session already has it; otherwise
#: train just the coarse stage (bounded: K rows collected)
def _coarse_centroids(spark, sf_dir):
    ivfpq = artifacts.peek(spark, "ivfpq_artifacts", sf_dir)
    if ivfpq is not None:
        rows = ivfpq[0]
    else:
        rows = artifacts.get_or_build(
            spark,
            "coarse_centroids",
            sf_dir,
            lambda: _centroid_rows(
                similarity.train_ivf_centroids(
                    _emb(spark, sf_dir), IVF_CELLS, KMEANS_ITERS
                )
            ),
        )
    return _centroid_df(spark, rows)


def _ivfpq_rows(vectors, **cols):
    cents, rcb = similarity.train_ivfpq(vectors, IVF_CELLS, KMEANS_ITERS, **cols)
    return _centroid_rows(cents), _codebook_rows(rcb)


#: trained IVFPQ artifacts (coarse centroids + residual codebooks) per
#: sf_dir (registry kind "ivfpq_artifacts") - same bounded-row
#: discipline; sim_ann_ivf_trained shares the coarse centroids
#: (identical deterministic training)
def _ivfpq_artifacts(spark, sf_dir):
    cr, rr = artifacts.get_or_build(
        spark, "ivfpq_artifacts", sf_dir, lambda: _ivfpq_rows(_emb(spark, sf_dir))
    )
    return _centroid_df(spark, cr), _codebook_df(spark, rr)


def sim_quantize(spark, sf_dir):
    """Int8 embedding quantization audit: per-vector scale, code-vector
    L1 mass / extremes, and max dequantization error - the scalars that
    certify the int8 codes bit-for-bit without shipping arrays through the
    comparator. One pure projection end to end (keep_vec carries the float
    vector alongside the codes, so no re-join against the source)."""
    qz = similarity.quantize_embeddings(
        _emb(spark, sf_dir).orderBy("vec_id"), keep_vec=True
    )
    v = F.col("vec")
    return (
        qz.select(
            "id",
            "scale_r",
            F.aggregate(
                F.col("qvec"),
                F.lit(0).cast("long"),
                lambda acc, x: acc + F.abs(x.cast("long")),
            ).alias("q_l1"),
            F.array_min("qvec").cast("long").alias("q_min"),
            F.array_max("qvec").cast("long").alias("q_max"),
            F.round(
                F.array_max(
                    F.zip_with(
                        F.col("qvec"),
                        v,
                        lambda q, x: F.abs(q.cast("double") * F.col("scale_r") - x),
                    )
                ),
                6,
            ).alias("max_err_r"),
        )
    )


def sim_topk_quantized(spark, sf_dir):
    """Brute-force cosine top-k over the DEQUANTIZED int8 embeddings - the
    recall-fidelity probe for quantization, shape-identical to
    sim_topk_cosine so rank drift is directly diffable."""
    return similarity.topk_cosine_quantized(
        _emb(spark, sf_dir), TOPK, QUERY_IDS_BELOW
    ).orderBy("q_id", "rank")


def text_bm25(spark, sf_dir):
    """BM25 relevance of every document against the literal BM25_TERMS
    query (one corpus-stats aggregation collected to the driver, then a
    pure scoring projection). Oracle: the identical statistics and scoring
    arithmetic in SQL, operation order matched term for term."""
    return textquality.bm25_scores(
        _docs_sorted(spark, sf_dir), textquality.BM25_TERMS
    )


def text_ppl_buckets(spark, sf_dir):
    """CCNet's signature corpus split (Wenzek et al. 2020): per-language
    HEAD / MIDDLE / TAIL terciles of LM surprisal - head feeds the
    highest-quality mix, tail is dropped or down-weighted. Surprisal is
    the corpus-trained add-one bigram LM (textquality.lm_bigram_scores,
    round-6); the tercile cuts are EXACT NEAREST-RANK order statistics
    (the nll_r at 1-based ranks ceil(n/3) and ceil(2n/3) within each
    language, ties broken by doc_id) rather than interpolated
    percentiles - interpolation arithmetic is the one place two engines'
    float op order can diverge, a rank lookup cannot. Docs with
    undefined surprisal (< 2 tokens) and NULL-lang docs are excluded
    (the labeled contract). Output: (doc_id, lang, nll_r, c1, c2,
    bucket), bucket = head iff nll_r <= c1, middle iff <= c2, else
    tail - compared on the shared round-6 values.

    Scale shape: the LM trains and scores corpus-linearly (no driver
    collect); the rank windows partition BY LANGUAGE (never global);
    the cut table is |langs| rows, broadcast back. One hash exchange on
    lang feeds both window functions."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    # the LM trains on the FULL corpus (text_lm_score's contract - its
    # oracle is reused verbatim); only the bucketing excludes unlabeled
    lm = textquality.lm_bigram_scores(docs).select(
        F.col("id").alias("doc_id"), "nll_r"
    )
    d = (
        docs.where(F.col("lang").isNotNull())
        .select("doc_id", "lang")
        .join(lm, "doc_id")
        .localCheckpoint(eager=False)
    )
    w = Window.partitionBy("lang").orderBy("nll_r", "doc_id")
    ranked = d.select(
        "lang",
        "nll_r",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("lang")).alias("n"),
    )
    cuts = (
        ranked.where(
            (F.col("rn") == F.ceil(F.col("n") / 3))
            | (F.col("rn") == F.ceil(2 * F.col("n") / 3))
        )
        .groupBy("lang")
        .agg(F.min("nll_r").alias("c1"), F.max("nll_r").alias("c2"))
    )
    return (
        d.join(F.broadcast(cuts), "lang")
        .select(
            "doc_id",
            "lang",
            "nll_r",
            "c1",
            "c2",
            F.when(F.col("nll_r") <= F.col("c1"), F.lit("head"))
            .when(F.col("nll_r") <= F.col("c2"), F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("bucket"),
        )
        .orderBy("doc_id")
    )


def text_gopher_rules(spark, sf_dir):
    """The Gopher rule-based quality filter (Rae et al. 2021, App. A1.1;
    operators/textquality.gopher_rules) - the published heuristic rule
    set pretraining pipelines run ahead of trained filters: word-count
    bounds, mean word length, symbol ratio, bullet/ellipsis line
    fractions, alphabetic-word fraction, the 8-word stopword-presence
    rule, and the combined keep verdict. Ratios are ROUND-6 before
    comparison so the keep predicate is bit-portable; the whole filter
    is one narrow codegen projection (zero shuffles, zero UDFs)."""
    return textquality.gopher_rules(_docs_sorted(spark, sf_dir))


def text_c4_rules(spark, sf_dir):
    """The C4 line-level cleaning filter (Raffel et al. 2020 §2.2;
    operators/textquality.c4_rules) - the within-document complement of
    text_gopher_rules' doc-level verdicts: terminal-punctuation /
    5-word / no-'javascript' line rules, >= 3-sentence + no-brace +
    no-'lorem ipsum' document rules, line accounting, and
    md5(kept lines) ready for C4's downstream cleaned-grain exact
    dedup.

    The synthetic corpus is single-line and punctuation-free (every C4
    feature would be a constant), so the declared query first DERIVES a
    lined corpus deterministically (the pipe_delta discipline - the
    oracle replays the derivation): each document reflows into 10-token
    lines, line i terminated with '.' iff (doc_id + i) % 3 != 2, a
    brace line appended to doc_id % 97 == 0 docs and a 'lorem ipsum'
    line to doc_id % 89 == 0 docs - so kept/dropped lines, sentence
    counts, and all three doc verdicts vary across the corpus. Both the
    derivation and the filter are narrow codegen projections, zero
    shuffles."""
    return textquality.c4_rules(_lined_docs(spark, sf_dir))


def text_repetition(spark, sf_dir):
    """Within-document repetition features (Gopher-style boilerplate
    detection): duplicate word-trigram fraction and top-trigram mass per
    document."""
    return textquality.repetition_scores(_docs_sorted(spark, sf_dir), REPETITION_K)


def pipe_contamination(spark, sf_dir):
    """Train/eval decontamination audit: for every test-split document
    (hash_split, same seed as pipe_split), the fraction of its distinct
    word 5-grams that also appear in the train split - the n-gram-overlap
    check run before trusting a benchmark score."""
    split = sampling.hash_split(_docs(spark, sf_dir), SPLIT_FRACTIONS)
    ev = split.where(F.col("split") == "test")
    tr = split.where(F.col("split") == "train")
    return dedup.contamination_overlap(ev, tr, CONTAMINATION_K).orderBy("id")


PCA_DIM = 64
PCA_COMP = 3


def sim_pca_gram(spark, sf_dir):
    """Distributed covariance matrix of the embedding corpus
    (operators/pca.py): coordinates quantized to int64 (round(v*1e9) -
    the sim_quantize discipline at higher precision), second moments as
    exact DECIMAL(38,0) integer sums (map-side combinable; a
    double->decimal cast is NOT cross-engine-stable, integer sums are),
    covariance out of the moments in double arithmetic on identical
    inputs. 2080 upper-triangle cells, every one hash-checked."""
    from ..operators import pca

    return pca.covariance_df(_emb(spark, sf_dir)).orderBy("i", "j")


def sim_pca(spark, sf_dir):
    """PCA eigen facts over the same covariance: the d x d eigensolve is
    bounded DRIVER work (the only data collected is the 2080-cell upper
    triangle + 64 first moments); everything corpus-sized stays in the
    engine. Contracts verified in-engine per component: Rayleigh
    residual ~ 0, ORTHONORMALITY, descending order, and - the
    independent distributed check - the biased variance of the corpus
    projected onto eigenvector k (computed by a broadcast map-side dot
    product + decimal-stable aggregation) equals lambda_k to 1e-6
    relative. trace_r is replayed exactly by the oracle from the integer
    moments; the booleans are hard-coded true there, so an eigensolve or
    projection defect flips the hash."""
    from ..operators import pca

    return pca.pca_summary(spark, _emb(spark, sf_dir), PCA_DIM, PCA_COMP)


CHUNK_WINDOW = 64
CHUNK_STRIDE = 48
#: chunk id packing for chunk-grain dedup: cid = doc_id * 2^20 + chunk_idx.
#: 2^20 chunks/doc = docs up to ~50M tokens at stride 48 - far past any
#: single training document; the pack keeps the pair-join key ONE int64
#: (the doc-grain machinery's key shape) instead of a struct.
CHUNK_IDX_BITS = 20
CHUNK_JACCARD = 0.8


def _chunk_windows(docs):
    """(doc_id, chunk_idx int, chunk array<string>): the overlapping
    64/48 token windows shared by text_chunk and the chunk-grain dedup
    family - a pure narrow explode (chunk starts from an arithmetic
    sequence, chunk text from array slices), zero shuffles."""
    from ..functions.texthash import words

    n = F.size("l")
    n_chunks = F.when(n <= CHUNK_WINDOW, F.lit(1)).otherwise(
        F.floor((n - CHUNK_WINDOW + CHUNK_STRIDE - 1) / CHUNK_STRIDE).cast("int")
        + 1
    )
    toks = docs.select("doc_id", words(F.col("text")).alias("l")).where(n > 0)
    return toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda c: F.slice(F.col("l"), c * CHUNK_STRIDE + 1, CHUNK_WINDOW),
            )
        ).alias("chunk_idx", "chunk"),
    )


def text_chunk(spark, sf_dir):
    """Overlapping token-window chunking - the context-preparation
    operator every RAG / pretraining pipeline runs before embedding or
    packing: windows of 64 tokens advancing by 48 (16-token overlap so
    no boundary context is lost), the final window clamped to the
    document tail, every token covered. One row per chunk:
    (doc_id, chunk_idx, n_tok, chunk_hash) with the 60-bit portable
    hash ready for downstream chunk-level dedup (dedup_chunk /
    dedup_chunk_near operate at exactly this grain).

    Scale shape: a pure narrow explode - chunk starts from an arithmetic
    sequence, chunk text from array slices, zero shuffles before the
    presentation sort; corpus-linear output (~n/stride rows per doc)."""
    from ..functions.texthash import md5_int60

    return _chunk_windows(_docs_sorted(spark, sf_dir)).select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.size("chunk").cast("long").alias("n_tok"),
        md5_int60(F.array_join("chunk", " ")).alias("chunk_hash"),
    )


def dedup_chunk(spark, sf_dir):
    """Chunk-grain EXACT dedup for the RAG store (VERDICT r14 #5): the
    primitive document-grain dedup misses - two distinct documents that
    share a boilerplate block carry identical chunks, and a retrieval
    index that stores both wastes space and returns duplicate contexts.
    One row per chunk: (doc_id, chunk_idx, chunk_hash, n_copies, keep)
    with keep = this chunk is its content group's first occurrence by
    (doc_id, chunk_idx) - the deterministic keep-first rule, so the kept
    set IS the deduped chunk store.

    Scale shape: the narrow chunk explode, then ONE shuffle on
    chunk_hash serving both window functions (count + row_number share
    the partition key, Catalyst plans a single exchange); group sizes
    are duplicate-multiplicities, never corpus-sized, so no skew salt is
    needed at 100 TB (a pathological everyone-shares-one-chunk corpus
    would show up in n_copies itself)."""
    from ..functions.texthash import md5_int60
    from pyspark.sql.window import Window

    ch = _chunk_windows(_docs(spark, sf_dir)).select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        md5_int60(F.array_join("chunk", " ")).alias("chunk_hash"),
    )
    w = Window.partitionBy("chunk_hash")
    wo = w.orderBy("doc_id", "chunk_idx")
    return ch.select(
        "doc_id",
        "chunk_idx",
        "chunk_hash",
        F.count(F.lit(1)).over(w).alias("n_copies"),
        (F.row_number().over(wo) == 1).alias("keep"),
    ).orderBy("doc_id", "chunk_idx")


def dedup_chunk_near(spark, sf_dir):
    """Chunk-grain NEAR-dup pairs (VERDICT r14 #5's MinHash variant):
    MinHash+LSH over word-bigram shingles of each 64-token chunk, exact
    Jaccard verification of band candidates only - dedup_minhash_lsh's
    machinery applied at chunk grain via the packed cid (doc_id * 2^20 +
    chunk_idx), so the one int64 id keeps the band join and the verify
    arrays in the doc-grain code path (operators/dedup.py) unchanged.
    Catches the lightly-edited boilerplate block exact chunk hashing
    misses. Output: (doc_a, idx_a, doc_b, idx_b, jaccard >= 0.8).

    The 16-token overlap of ADJACENT same-doc chunks shares only ~15 of
    63 bigrams (J ~= 0.14), far under threshold, so self-overlap never
    reports as a near-dup; identical documents report every aligned
    chunk pair at J = 1. Oracle replays the band candidacy in SQL (the
    dedup_minhash_lsh discipline - parity checks the LSH filter, not
    just the verify)."""
    ch = _chunk_windows(_docs(spark, sf_dir)).select(
        (
            F.col("doc_id") * F.lit(1 << CHUNK_IDX_BITS) + F.col("chunk_idx")
        ).alias("cid"),
        F.array_join("chunk", " ").alias("chunk_text"),
    )
    pairs = dedup.minhash_dedup_pairs(
        ch, CHUNK_JACCARD, id_col="cid", text_col="chunk_text"
    )
    bits = F.lit(1 << CHUNK_IDX_BITS)
    return pairs.select(
        F.shiftright("id_a", CHUNK_IDX_BITS).alias("doc_a"),
        (F.col("id_a") % bits).alias("idx_a"),
        F.shiftright("id_b", CHUNK_IDX_BITS).alias("doc_b"),
        (F.col("id_b") % bits).alias("idx_b"),
        "jaccard",
    ).orderBy("doc_a", "idx_a", "doc_b", "idx_b")


CHUNK_TOPK = 10


def sim_chunk_bm25(spark, sf_dir):
    """Chunk-grain BM25 retrieval with document max-pooling - the RAG
    'parent document retrieval' primitive (retrieve by best CHUNK, return
    the parent document): the text_chunk 64/48 windows are scored against
    the literal BM25_TERMS query with chunk-corpus statistics (N = chunk
    count, avgdl over chunks - textquality.bm25_scores with the packed
    cid riding as the id, the dedup_chunk_near pack), the best-scoring
    chunk per document is selected (row_number per doc, score DESC /
    chunk_idx ASC - the deterministic max-pool), and the global top-10
    documents are returned with their best chunk's coordinates. Long
    documents stop drowning in their own length: a 10k-token document
    with one on-topic chunk ranks by that chunk, not by its diluted
    whole-document term frequency.

    Scale shape: chunking is the narrow explode; BM25 statistics are one
    bounded aggregation (|terms|+2 scalars to the driver); scoring is a
    pure projection; the per-doc max-pool shuffles once on doc_id; the
    final global rank is a TakeOrdered over one row per doc, never a
    global sort of chunks."""
    from pyspark.sql import Window

    ch = _chunk_windows(_docs(spark, sf_dir)).select(
        (
            F.col("doc_id") * F.lit(1 << CHUNK_IDX_BITS) + F.col("chunk_idx")
        ).alias("cid"),
        F.array_join("chunk", " ").alias("chunk_text"),
    )
    scored = textquality.bm25_scores(
        ch, textquality.BM25_TERMS, id_col="cid", text_col="chunk_text"
    )
    bits = F.lit(1 << CHUNK_IDX_BITS)
    per_chunk = scored.select(
        F.shiftright("cid", CHUNK_IDX_BITS).alias("doc_id"),
        (F.col("cid") % bits).alias("chunk_idx"),
        "bm25",
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("bm25").desc(), F.col("chunk_idx").asc()
    )
    best = (
        per_chunk.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    return best.orderBy(F.col("bm25").desc(), F.col("doc_id").asc()).limit(
        CHUNK_TOPK
    )


CHUNK_ANN_CAND_K = 20
CHUNK_ANN_DOC_TOPK = 5


def _chunk_vec_store(spark, sf_dir):
    """(rid, doc_id, chunk_idx, cvec): the chunk-grain embedding store -
    text_chunk's 64/48 windows with DENSE sequential chunk ids and
    deterministically DERIVED chunk embeddings (the fixture discipline:
    the corpus ships doc-grain embeddings only, so the chunk vector is
    the parent doc's vector binary-grid-quantized plus an integer
    per-(doc, chunk, dim) jitter, all over 512 - both engines rebuild
    the identical store, and chunks of one document stay near their
    parent, which is the geometry a real chunk embedder produces).

    Dense ids matter: the ANN machinery seeds k-means from `id <
    n_cells` and takes `id < query_ids_below` as the query set, so the
    packed dedup_chunk_near cid (doc_id * 2^20 + chunk_idx) would break
    both. The rank is the DISTRIBUTED global rank (operators/rank.py) -
    never a partition-less window. Session-memoized (the shingle-index
    discipline): the rank materializes eagerly at build time, so every
    caller after the first reads the one checkpointed store (registry
    kind "chunk_vec_store")."""
    return artifacts.get_or_build(
        spark, "chunk_vec_store", sf_dir, lambda: _build_chunk_vec_store(spark, sf_dir)
    )


def _build_chunk_vec_store(spark, sf_dir):
    from ..operators.rank import global_rank

    chunks = _chunk_windows(_docs(spark, sf_dir)).select("doc_id", "chunk_idx")
    ranked = global_rank(chunks, ["doc_id", "chunk_idx"], out_col="rank")
    emb = _emb(spark, sf_dir).select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    did, cidx = F.col("doc_id"), F.col("chunk_idx")
    # EXACT BINARY GRID: element = (floor(parent * 512) + jitter) / 512
    # with integer jitter in [-8, 8]. Every element is m/512 - exactly
    # representable, so sums (k-means member means, inner products) are
    # order-EXACT and the two engines' different aggregation orders
    # cannot produce ulp noise at a round-6 boundary (a decimal-grid
    # jitter was measured to flip exactly that: centroid means landed ON
    # 5e-7 boundaries and AVG order decided the rounding).
    cvec = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x, i: (
            F.floor(x * 512) + ((did * 31 + cidx * 7 + i) % 17 - 8)
        )
        / F.lit(512.0),
    )
    return (
        ranked.select("doc_id", "chunk_idx", (F.col("rank") - 1).alias("rid"))
        .join(emb, "doc_id")
        .select("rid", "doc_id", "chunk_idx", cvec.alias("cvec"))
        .localCheckpoint(eager=False)
    )


def _chunk_ivfpq_artifacts(spark, sf_dir):
    """Chunk-store IVFPQ artifacts (coarse centroids + residual
    codebooks; registry kind "chunk_ivfpq_artifacts"), built like
    _ivfpq_artifacts - the chunk store is a different vector population,
    so it trains its own index."""
    cr, rr = artifacts.get_or_build(
        spark,
        "chunk_ivfpq_artifacts",
        sf_dir,
        lambda: _ivfpq_rows(
            _chunk_vec_store(spark, sf_dir), id_col="rid", vec_col="cvec"
        ),
    )
    return _centroid_df(spark, cr), _codebook_df(spark, rr)


#: Session-bound scored/pooled frame memos for the CHUNK-grain ANN
#: family (optimization r19 - the VERDICT r18 #3 discipline applied at
#: the chunk grain): the residual-IVFPQ ADC scoring pass runs ONCE per
#: (session, sf_dir) at max(IVF_SWEEP_PROBES) carrying cell_rank, and
#: every consumer - sim_chunk_ann, sim_chunk_ann_recall,
#: sim_chunk_probe_sweep - derives its nprobe setting by pure
#: cell_rank filter + topk_per_query (a candidate lives in exactly one
#: cell and ADC values are nprobe-independent, the proven r18
#: equivalence the sweep oracles already use). The nprobe=IVF_NPROBE
#: parent-document pooling is likewise computed once (the two pooling
#: windows are identical in sim_chunk_ann and the recall's ANN leg).
#: Registry kinds "chunk_adc_scored" and "chunk_ann_pooled".


def _chunk_adc_scored(spark, sf_dir):
    """Session-memoized chunk-grain IVFPQ ADC pass (q_id, cand_id,
    acos_r, cell_rank) at max(IVF_SWEEP_PROBES) - the _ann_scored
    discipline at the chunk grain; every smaller nprobe is a pure
    cell_rank filter over this one lazily-checkpointed frame."""

    def build():
        store = _chunk_vec_store(spark, sf_dir)
        cents, rcb = _chunk_ivfpq_artifacts(spark, sf_dir)
        return similarity.ann_adc_ivfpq(
            store,
            QUERY_IDS_BELOW,
            IVF_CELLS,
            max(IVF_SWEEP_PROBES),
            KMEANS_ITERS,
            id_col="rid",
            vec_col="cvec",
            centroids=cents,
            codebooks=rcb,
        ).localCheckpoint(eager=False)

    return artifacts.get_or_build(spark, "chunk_adc_scored", sf_dir, build)


def _chunk_ann_pooled(spark, sf_dir):
    """The nprobe=IVF_NPROBE chunk retrieval pooled to parent documents
    (full coordinates + rank), session-memoized: sim_chunk_ann returns
    it ordered, sim_chunk_ann_recall's ANN leg projects its doc ids -
    previously each ran the whole candidate-generation + pooling chain
    from scratch. Values bit-identical to the pre-memo
    ann_topk_ivfpq(..., nprobe=IVF_NPROBE) wrapper: same scored pass
    (cell_rank <= nprobe filter), same ranking tail, same windows."""

    def build():
        store = _chunk_vec_store(spark, sf_dir)
        ann = similarity.topk_per_query(
            _chunk_adc_scored(spark, sf_dir)
            .where(F.col("cell_rank") <= IVF_NPROBE)
            .drop("cell_rank"),
            CHUNK_ANN_CAND_K,
            "acos_r",
        )
        return _pool_parent_docs(
            ann.select("q_id", "cand_id", "acos_r"),
            store.select("rid", "doc_id", "chunk_idx"),
            "acos_r",
        ).localCheckpoint(eager=False)

    return artifacts.get_or_build(spark, "chunk_ann_pooled", sf_dir, build)


def sim_chunk_ann(spark, sf_dir):
    """Chunk-grain ANN retrieval with parent-document max-pooling - the
    DENSE twin of sim_chunk_bm25, closing the RAG retrieval family at
    the grain retrieval actually serves (VERDICT r15 #8): the chunk
    embedding store (_chunk_vec_store) is indexed with the production
    residual IVF-PQ ladder rung (trained coarse cells, product-quantized
    residuals, ADC scoring), each query chunk retrieves its top-20
    candidate CHUNKS, candidates from the query's own parent are
    excluded, the best chunk per candidate document is selected (acos
    desc, chunk_idx asc - the deterministic max-pool) and the top-5
    parent documents are returned with their best chunk's coordinates.

    Scale shape: the store build is one narrow explode + the
    distributed global rank + a doc-keyed equi-join; index training is
    the memoized driver-bounded artifact pair (|cells| + |codebook|
    rows); the probe join and ADC are ann_adc_ivfpq's established
    broadcast plan, run ONCE per session (_chunk_adc_scored) and
    filtered to nprobe=IVF_NPROBE; the pooling windows partition by
    (q_id) and (q_id, cand_doc) - never global; output is
    |queries| x 5 rows. Oracle: the full k-means + residual-PQ + ADC
    chain replayed over the identical derived store, then the same two
    pooling windows."""
    return _chunk_ann_pooled(spark, sf_dir).orderBy("q_id", "rank")


def _pool_parent_docs(scored, cmap, score_col):
    """Parent-document max-pooling shared by sim_chunk_ann (ADC scores)
    and sim_chunk_ann_recall's exact leg (float cosine): join the
    scored (q_id, cand_id, score) chunk pairs back to the chunk map,
    exclude the query's own parent, keep the best-scoring chunk per
    candidate document (score desc, chunk_idx asc) and rank the top
    CHUNK_ANN_DOC_TOPK documents per query (score desc, doc asc). The
    query map is |queries| rows by construction - broadcast; both
    windows partition by q_id - never global."""
    from pyspark.sql import Window

    qmap = cmap.where(F.col("rid") < QUERY_IDS_BELOW).select(
        F.col("rid").alias("q_id"),
        F.col("doc_id").alias("q_doc"),
        F.col("chunk_idx").cast("long").alias("q_chunk_idx"),
    )
    cand = cmap.select(
        F.col("rid").alias("cand_id"),
        F.col("doc_id").alias("cand_doc"),
        F.col("chunk_idx").cast("long").alias("cand_chunk_idx"),
    )
    pooled = (
        scored.join(F.broadcast(qmap), "q_id")
        .join(cand, "cand_id")
        .where(F.col("cand_doc") != F.col("q_doc"))
    )
    wb = Window.partitionBy("q_id", "cand_doc").orderBy(
        F.col(score_col).desc(), F.col("cand_chunk_idx").asc()
    )
    wr = Window.partitionBy("q_id").orderBy(
        F.col(score_col).desc(), F.col("cand_doc").asc()
    )
    return (
        pooled.withColumn("brn", F.row_number().over(wb))
        .where(F.col("brn") == 1)
        .withColumn("rank", F.row_number().over(wr).cast("long"))
        .where(F.col("rank") <= CHUNK_ANN_DOC_TOPK)
        .select(
            "q_id",
            "q_doc",
            "q_chunk_idx",
            "cand_doc",
            "cand_chunk_idx",
            score_col,
            "rank",
        )
    )


def _chunk_exact_docs(spark, sf_dir):
    """The exact float-cosine parent-document top-5 leg (q_id, cand_id),
    session-memoized per (session, sf_dir): the |queries| x |chunks|
    broadcast cosine pooled with the shared max-pool windows - computed
    once and read by both sim_chunk_ann_recall and
    sim_chunk_probe_sweep (r17). Bounded: |queries| x 5 rows. Registry
    kind "chunk_exact_docs"."""

    def build():
        store = _chunk_vec_store(spark, sf_dir)
        cmap = store.select("rid", "doc_id", "chunk_idx")
        exact = similarity.topk_cosine(
            store, 1 << 40, QUERY_IDS_BELOW, id_col="rid", vec_col="cvec"
        )
        return (
            _pool_parent_docs(
                exact.select("q_id", "cand_id", "cos_r"), cmap, "cos_r"
            )
            .select("q_id", F.col("cand_doc").alias("cand_id"))
            .localCheckpoint(eager=False)
        )

    return artifacts.get_or_build(spark, "chunk_exact_docs", sf_dir, build)


def sim_chunk_ann_recall(spark, sf_dir):
    """Recall@5 of the chunk-grain IVFPQ parent-document ranking against
    the EXACT parent-document ranking - the recall dial for the RAG
    retrieval rung (the sim_ivfpq_recall discipline at the chunk
    grain): the exact leg scores every (query chunk, candidate chunk)
    float cosine, pools to the true top-5 parent documents with the
    IDENTICAL max-pool, and per-query recall counts the approximate
    ranking's document hits. ANN loses parent docs two ways - unprobed
    cells and the 20-candidate chunk cap before pooling - and this
    measures the combined effect in-engine.

    Scale shape: the exact leg is the |queries| x |chunks| broadcast
    cosine (queries bounded by construction); both legs reuse the
    memoized chunk store and index artifacts; pooling windows partition
    by q_id; output is |queries| bounded rows."""
    # ANN leg: the session-shared nprobe=IVF_NPROBE pooled frame
    # (_chunk_ann_pooled - the same retrieval sim_chunk_ann serves);
    # previously this re-ran the whole candidate-generation + pooling
    # chain from scratch per query
    ann_docs = _chunk_ann_pooled(spark, sf_dir).select(
        "q_id", F.col("cand_doc").alias("cand_id")
    )
    # exact leg: pool over ALL candidate chunks (k = corpus bound), so
    # the exact top-5 documents are the true ones, not a capped proxy -
    # session-shared with sim_chunk_probe_sweep (r17)
    return _recall_vs_exact(
        ann_docs, _chunk_exact_docs(spark, sf_dir), CHUNK_ANN_DOC_TOPK
    )


def sim_chunk_probe_sweep(spark, sf_dir):
    """Recall-vs-nprobe tuning curve at the CHUNK grain - the dial
    completing the RAG family's symmetry (sim_ivf_probe_sweep tunes the
    doc-grain IVF-flat index; this tunes the chunk-grain residual IVFPQ
    rung that sim_chunk_ann serves): for nprobe = 1, 2, 4 the IVFPQ
    retrieval runs against the memoized chunk store and index, pools to
    parent-document top-5 with the IDENTICAL max-pool windows, and is
    scored against the ONE exact float-cosine parent-doc leg
    (sim_chunk_ann_recall's exact leg, localCheckpoint'd once). Per
    probe count: emitted doc pairs, hits, exact total, round-6 recall.

    Scale shape: the exact leg is |queries| x |chunks| broadcast cosine
    (queries bounded); the probe join + ADC aggregation runs ONCE at
    max(nprobe) with each candidate's probe cell_rank carried
    (similarity.ann_adc_ivfpq, localCheckpoint'd - r18, VERDICT r17 #2:
    the candidate set at nprobe=k is exactly the ADC rows whose
    cell_rank <= k, because a candidate's cell is unique and ADC values
    don't depend on which probe surfaced them), so each setting is a
    pure filter + per-query top-k window + pooling over the one
    materialized score frame; training never repeats; all counts are
    bounded driver values. Oracle: the same shape - ONE shared
    force-MATERIALIZED chunk-ANN chain (assignment, residual codes,
    lookup tables are nprobe-INDEPENDENT) with one probe-filtered
    ADC/pool tail per setting."""
    store = _chunk_vec_store(spark, sf_dir)
    cmap = store.select("rid", "doc_id", "chunk_idx")
    exact_docs = _chunk_exact_docs(spark, sf_dir)
    n_exact = exact_docs.count()
    # the one ADC pass at max(nprobe) is the session-shared
    # _chunk_adc_scored checkpoint (optimization r19) - previously the
    # sweep built its own per-query copy of the identical frame
    adc = _chunk_adc_scored(spark, sf_dir)
    rows = []
    for np_ in IVF_SWEEP_PROBES:
        ann = similarity.topk_per_query(
            adc.where(F.col("cell_rank") <= np_), CHUNK_ANN_CAND_K, "acos_r"
        )
        docs = (
            _pool_parent_docs(
                ann.select("q_id", "cand_id", "acos_r"), cmap, "acos_r"
            )
            .select("q_id", F.col("cand_doc").alias("cand_id"))
            .localCheckpoint(eager=False)
        )
        n_out = docs.count()
        n_hit = docs.join(exact_docs, ["q_id", "cand_id"], "left_semi").count()
        rows.append((np_, n_out, n_hit, n_exact))
    return (
        spark.createDataFrame(
            rows, "nprobe long, n_out long, n_hit long, n_exact long"
        )
        .select(
            "nprobe",
            "n_out",
            "n_hit",
            "n_exact",
            F.round(F.col("n_hit") / F.col("n_exact"), 6).alias("recall_r"),
        )
        .orderBy("nprobe")
    )


LSH_CENSUS_GEOMETRIES = ((8, 8), (4, 16))


def sim_lsh_census(spark, sf_dir):
    """Sign-LSH geometry-sizing census - the r17 100x finding as a
    first-class query: banded-LSH candidate volume is
    ~bands/2^band_bits * N^2, QUADRATIC once N >> 2^band_bits (measured
    x100 per corpus decade in LSH_BUCKETS_r17.json; at 200k vectors the
    8x8 default's 776M-pair verification join exhausts a 65 GB disk).
    This census is the pre-flight a deployment runs BEFORE paying for
    the pair join: for each geometry over the same 64 hyperplane dots -
    the shipped 8x8 and the bit-width-doubled 4x16 - the EXACT
    candidate-pair count (per bucket C(nb, 2), integer arithmetic, no
    pair materialized) and the worst bucket. Reading the two rows gives
    the bits ~ 2*log2(N) sizing rule directly.

    Scale shape: one narrow Arrow plane-dot pass (the session _DOTS
    machinery's kernel), one explode by bands, ONE hash aggregate per
    grain - |bands x 2^bits| keys then |geometries| rows; nothing
    corpus-sized shuffles twice. All outputs exact integers (the
    round-6 plane-dot signs are the dedup_embedding parity class)."""
    from ..operators.similarity import all_plane_dots, with_norms

    base = with_norms(_emb(spark, sf_dir), "vec_id", "embedding")
    dotted = base.select(all_plane_dots(F.col("vec")).alias("_dots"))

    def bucket(b, bits):
        s = None
        for j in range(bits):
            bit = F.when(
                F.round(F.element_at(F.col("_dots"), b * bits + j + 1), 6)
                >= 0,
                F.lit(1 << j),
            ).otherwise(F.lit(0))
            s = bit if s is None else s + bit
        return s

    frames = None
    for bands, bits in LSH_CENSUS_GEOMETRIES:
        e = dotted.select(
            F.lit(bands).cast("long").alias("bands"),
            F.lit(bits).cast("long").alias("band_bits"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            bucket(b, bits).cast("long").alias("bv"),
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("e"),
        ).select(
            "bands",
            "band_bits",
            F.col("e.band").alias("band"),
            F.col("e.bv").alias("bv"),
        )
        frames = e if frames is None else frames.unionByName(e)
    per_bucket = frames.groupBy("bands", "band_bits", "band", "bv").agg(
        F.count(F.lit(1)).alias("nb")
    )
    return (
        per_bucket.groupBy("bands", "band_bits")
        .agg(
            F.expr("sum(nb) DIV bands").cast("long").alias("n_vectors"),
            F.sum(F.expr("(nb * (nb - 1)) DIV 2"))
            .cast("long")
            .alias("candidate_pairs"),
            F.max("nb").cast("long").alias("max_bucket"),
        )
        .orderBy("band_bits")
    )


def pipe_contamination_bloom(spark, sf_dir):
    """pipe_contamination with the production Bloom pre-filter
    (dedup.bloom_contamination): the train shingle set becomes a 512 KiB
    broadcast bitmap probed map-side, so the exact semi-join only sees
    candidates. Hash-green soundness proof: the oracle computes the
    TRUE overlap counts with a plain semi-join, so any bloom false
    negative flips the hash; even n_candidates is replayed in SQL
    because the bloom positions are portable md5 hex slices (chars
    16-21 / 22-27 mod 2^22 of the one per-shingle md5)."""
    split = sampling.hash_split(_docs(spark, sf_dir), SPLIT_FRACTIONS)
    ev = split.where(F.col("split") == "test")
    tr = split.where(F.col("split") == "train")
    return dedup.bloom_contamination(ev, tr, CONTAMINATION_K).orderBy("id")


def text_bpe_train(spark, sf_dir):
    """REAL BPE merge training (word-frequency BPE, Sennrich'16): the merge
    table (step, lhs, rhs, n_pairs) learned distributively - one corpus
    pass, then vocabulary-sized pair-count iterations with only the winning
    pair crossing the driver per step. Oracle: the identical iterations
    unrolled in SQL (list_reduce greedy merge)."""
    return spark.createDataFrame(
        _trained_merges(spark, sf_dir),
        "step long, lhs string, rhs string, n_pairs long",
    ).orderBy("step")


def text_bpe_apply(spark, sf_dir):
    """Per-document token counts under the merges text_bpe_train just
    learned: train (driver-bounded merge list, shared with text_bpe_train
    via the memo), then one narrow Arrow pass over the corpus applying the
    broadcast merge list per word (no vocab collect, no shuffle). Oracle:
    unrolled training + a vocab join - same result, different shape."""
    learned = [(lhs, rhs) for _, lhs, rhs, _ in _trained_merges(spark, sf_dir)]
    return bpe.apply_bpe_merges(_docs(spark, sf_dir), learned).orderBy("doc_id")


def text_fingerprint(spark, sf_dir):
    return textquality.fingerprints(_docs_sorted(spark, sf_dir))


def text_fertility(spark, sf_dir):
    """Per-language tokenizer fertility under the trained BPE merges:
    document/word/BPE-token/byte totals plus fertility (BPE tokens per
    whitespace word) and bytes per BPE token - the multilingual-mix
    diagnostic that sets per-language TOKEN budgets (a high-fertility
    language pays more tokens for the same text, so doc- or byte-count
    quotas skew the realized mix). The per-doc lang/word/byte metadata
    rides THROUGH the Arrow counting pass (apply_bpe_merges carry
    columns), so there is NO corpus-sized doc_id join - one narrow
    Arrow pass + one |langs|-row map-side-combinable aggregate. All
    sums are int64; the two round-6 ratios divide identical integers in
    both engines. Oracle: the unrolled BPE-apply CTE joined to per-doc
    word/byte counts."""
    from ..functions.texthash import words

    learned = [(lhs, rhs) for _, lhs, rhs, _ in _trained_merges(spark, sf_dir)]
    base = _docs(spark, sf_dir).select(
        "doc_id", "text", "lang",
        F.size(words(F.col("text"))).cast("long").alias("n_words"),
        F.octet_length("text").cast("long").alias("n_bytes"),
    )
    per_doc = bpe.apply_bpe_merges(
        base, learned, carry=("lang", "n_words", "n_bytes")
    )
    agg = per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").alias("words"),
        F.sum("n_bpe_tokens").alias("bpe_tokens"),
        F.sum("n_bytes").alias("bytes"),
    )
    return agg.select(
        "lang", "n_docs", "words", "bpe_tokens", "bytes",
        F.round(F.col("bpe_tokens") / F.col("words"), 6).alias("fertility_r"),
        F.round(F.col("bytes") / F.col("bpe_tokens"), 6).alias("bytes_per_token_r"),
    ).orderBy("lang")


# --- multimodal ----------------------------------------------------------


#: session gap for window_sessions (µs and the Spark literal)
SESSION_GAP_US = 21_600_000_000
SESSION_GAP = "6 hours"


def events_rollup(spark, sf_dir):
    """Hierarchical ROLLUP aggregation (the OLAP grouping-sets family):
    event counts and round-6 value sums at (event_type, user bucket),
    (event_type), and grand-total levels in ONE pass - Spark expands the
    grouping sets before the shuffle, so it costs one exchange, not three
    jobs. grouping_id disambiguates levels (NULL-valued group columns vs
    genuine NULLs)."""
    ev = load_tables(spark, sf_dir)["events"]
    return (
        ev.select(
            "event_type",
            (F.col("user_id") % 10).cast("long").alias("user_bucket"),
            "value",
        )
        .rollup("event_type", "user_bucket")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.sum("value"), 6).alias("sum_v"),
        )
        .orderBy("gid", "event_type", "user_bucket")
    )


#: the events table's closed event vocabulary (pivot columns)
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def events_pivot(spark, sf_dir):
    """Pivoted per-user event-type counts (long -> wide): one row per user,
    one column per event type, via DataFrame ``pivot`` with EXPLICIT value
    list - literal pivot values keep it one aggregation pass (no extra
    distinct-scan job to discover columns). Absent combinations coalesce
    to 0; the oracle is plain conditional aggregation."""
    ev = load_tables(spark, sf_dir)["events"]
    wide = ev.groupBy("user_id").pivot("event_type", EVENT_TYPES).count()
    return wide.select(
        "user_id",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}")
            for t in EVENT_TYPES
        ],
    ).orderBy("user_id")


def events_quantiles(spark, sf_dir):
    """Exact per-user latency-style percentiles (P50/P95/P99): Spark's
    exact ``percentile`` (linear interpolation) is bit-matched by DuckDB's
    ``quantile_cont`` under the round-6 discipline. NaNs are filtered
    explicitly - the two engines order NaN differently, and percentile
    semantics over NaN are not portable."""
    ev = load_tables(spark, sf_dir)["events"].where(
        F.col("value").isNotNull() & ~F.isnan("value")
    )
    return (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
            F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
        )
        .orderBy("user_id")
    )


#: declared accuracy for the approx-percentile scale path: rank error
#: <= n/QUANTILE_ACCURACY per group (Spark's QuantileSummaries guarantee)
QUANTILE_ACCURACY = 1000


def events_quantiles_approx(spark, sf_dir):
    """The hot-key-safe percentile path, MEASURED (sim_ann_recall pattern):
    ``events_quantiles``' exact ``percentile`` buffers every value of a
    group in executor memory, so one pathological hot key at 100x scale is
    an OOM (VERDICT r7 'What's wrong' #3). ``approx_percentile`` is the
    scale twin - a bounded-size QuantileSummaries sketch per group, merged
    map-side, with a declared rank-error guarantee of n/accuracy - and this
    query VERIFIES that guarantee in-engine: for each user it locates every
    approx value's occupied rank INTERVAL within the user's exact empirical
    distribution - [count(< v) + 1, count(<= v)], which collapses to a
    point for distinct values and widens under ties - via one aggregation
    over a broadcast of the per-user sketch results, and emits ok_pXX =
    "the interval intersects [p*n - n/accuracy - 1, p*n + n/accuracy + 1]"
    (+-1 absorbs the discrete-rank boundary). The sketch values themselves
    are engine-specific, so the DuckDB oracle independently pins WHICH
    users must appear with WHICH counts and that every bound check
    concluded true - a red row means either a missing user or a violated
    guarantee."""
    ev = (
        load_tables(spark, sf_dir)["events"]
        .where(F.col("value").isNotNull() & ~F.isnan("value"))
        .select("user_id", "value")
    )
    ap = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr(
            f"approx_percentile(value, array(0.5D, 0.95D, 0.99D), {QUANTILE_ACCURACY})"
        ).alias("ap"),
    )
    aggs = [F.first("n").alias("n")]
    for i, tag in enumerate(("50", "95", "99")):
        aggs.append(
            F.sum((F.col("value") < F.col("ap")[i]).cast("long")).alias(f"lt{tag}")
        )
        aggs.append(
            F.sum((F.col("value") <= F.col("ap")[i]).cast("long")).alias(f"le{tag}")
        )
    ranked = ev.join(F.broadcast(ap), "user_id").groupBy("user_id").agg(*aggs)
    bound = F.col("n") / F.lit(float(QUANTILE_ACCURACY)) + F.lit(1.0)

    def ok(tag, p):
        target = F.lit(p) * F.col("n")
        return (
            (F.col(f"lt{tag}") + 1 <= target + bound)
            & (F.col(f"le{tag}") >= target - bound)
        ).alias(f"ok_p{tag}")

    return ranked.select(
        "user_id", "n", ok("50", 0.5), ok("95", 0.95), ok("99", 0.99)
    ).orderBy("user_id")


def pipe_stats(spark, sf_dir):
    """Dataset card: the per-(lang, source) corpus summary a curation run
    publishes - doc/char/token volumes, token-length extremes, mean quality
    (the same C4/Gopher-style score text_quality emits per document,
    mean'd ROUND(SUM/COUNT, 6) like scale_bucketed's mean_r). One scan
    feeds the heavy tokenize; the (lang, source) dims ride alongside so
    the rollup is a single map-side-combinable groupBy - no re-join
    against the source at 100 TB."""
    q = textquality.quality_scores(
        _docs(spark, sf_dir), keep_cols=("lang", "source")
    )
    return (
        q.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars_m").cast("long").alias("sum_chars"),
            F.sum("n_tokens").cast("long").alias("sum_tokens"),
            F.min("n_tokens").cast("long").alias("min_tokens"),
            F.max("n_tokens").cast("long").alias("max_tokens"),
            F.round(F.sum("quality") / F.count(F.lit(1)), 6).alias("mean_quality"),
        )
        .orderBy("lang", "source")
    )


def pipe_temperature_mix(spark, sf_dir):
    """Alpha = 0.5 temperature rebalancing of the (lang, source) domain mix
    (sampling.temperature_rebalance): rarest domain keeps 100%, head
    domains downsampled toward sqrt-flattened shares, decisions by the
    session's md5 bucket rule. The whole keep_bp chain is IEEE correctly
    rounded, so the oracle reproduces thresholds AND kept counts exactly."""
    docs = _docs(spark, sf_dir).withColumn(
        "domain", F.concat_ws("/", "lang", "source")
    )
    return sampling.temperature_rebalance(
        docs, 0.5, strata_col="domain", seed="temper"
    ).orderBy("domain")


#: training-slot budget apportioned by pipe_mixture_schedule
SCHEDULE_SLOTS = 100_000


def pipe_mixture_schedule(spark, sf_dir):
    """Largest-remainder (Hamilton) apportionment of a 100k-slot
    training budget across (lang, source) domains
    (operators/sampling.mixture_schedule): floor quotas by exact integer
    division, extras to the largest integer remainders (ties: domain
    ascending), slots summing to EXACTLY the budget - the deterministic
    batch-composition table a data-mixing loader consumes, with zero
    accumulated rounding drift over a run. All integer; the oracle
    replays quota/remainder/rank verbatim."""
    docs = _docs(spark, sf_dir).withColumn(
        "domain", F.concat_ws("/", "lang", "source")
    )
    return sampling.mixture_schedule(
        docs, SCHEDULE_SLOTS, strata_col="domain"
    ).orderBy("domain")


def pipe_curriculum(spark, sf_dir):
    """Quality-quantile curriculum tiers via DISTRIBUTED global ranking
    (operators/rank.py): range-partition on (quality, doc_id), rank within
    partitions, shift by the bounded per-partition count vector - never a
    single-task global window. Tier = floor((rank-1)*4/n) + 1, pure
    integer-exact arithmetic the oracle replicates from ROW_NUMBER."""
    from ..operators.rank import quantile_tiers

    q = textquality.quality_scores(_docs(spark, sf_dir)).select("doc_id", "quality")
    return (
        quantile_tiers(q, ["quality", "doc_id"], CURRICULUM_TIERS)
        .select("doc_id", "quality", "rank", "tier")
        .orderBy("doc_id")
    )


def events_props_parse(spark, sf_dir):
    """Schema'd JSON metadata extraction - the semi-structured column every
    event/training-data pipeline carries. Two parser paths are run per row
    and must null-safe agree: ``from_json`` with an explicit schema (the
    scale path - one parse into a typed struct, codegen field access, no
    per-path string re-scan) and ``get_json_object`` (the ad-hoc path).
    Corrupt JSON degrades to NULL in both (PERMISSIVE parse, try_cast -
    under ANSI mode a plain cast would FAIL the job on one bad row), so
    ``paths_agree``
    also certifies identical malformed-row semantics. The oracle extracts
    the same field with DuckDB's JSON functions and pins paths_agree=true."""
    ev = load_tables(spark, sf_dir)["events"]
    j = F.from_json("props", "k INT")
    k2 = F.get_json_object("props", "$.k").try_cast("int")
    return (
        ev.select(
            "event_id",
            "event_type",
            j.alias("j"),
            k2.alias("k2"),
        )
        .select(
            "event_id",
            "event_type",
            F.col("j.k").alias("k"),
            F.col("j.k").eqNullSafe(F.col("k2")).alias("paths_agree"),
        )
        .orderBy("event_id")
    )


def events_funnel_seq(spark, sf_dir):
    """Ordered conversion funnel (signup -> view -> purchase, strictly
    increasing event times per user): stage k counts users whose earliest
    qualifying chain reaches step k. Pure conditional MIN aggregation -
    one grouped pass computes min(ts_signup), then min(ts_view AFTER that),
    then min(ts_purchase AFTER that) via two tiny self-joins on the K-row
    per-user stage table (broadcast); the corpus is scanned once.
    Deterministic: integer microsecond comparisons only."""
    from ..functions.time import epoch_us

    ev = load_tables(spark, sf_dir)["events"].select(
        "user_id", "event_type", epoch_us(F.col("ts")).alias("us")
    )
    s1 = ev.where(F.col("event_type") == "signup").groupBy("user_id").agg(
        F.min("us").alias("t1")
    )
    s2 = (
        ev.where(F.col("event_type") == "view")
        .join(F.broadcast(s1), "user_id")
        .where(F.col("us") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t2"))
    )
    s3 = (
        ev.where(F.col("event_type") == "purchase")
        .join(F.broadcast(s2), "user_id")
        .where(F.col("us") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t3"))
    )
    rows = [
        s1.agg(F.count(F.lit(1)).alias("n")).select(
            F.lit(1).alias("stage"), F.lit("signup").alias("step"), "n"
        ),
        s2.agg(F.count(F.lit(1)).alias("n")).select(
            F.lit(2).alias("stage"), F.lit("view_after_signup").alias("step"), "n"
        ),
        s3.agg(F.count(F.lit(1)).alias("n")).select(
            F.lit(3).alias("stage"), F.lit("purchase_after_view").alias("step"), "n"
        ),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out.select("stage", "step", F.col("n").cast("long").alias("n_users")).orderBy(
        "stage"
    )


def events_retention(spark, sf_dir):
    """Cohort retention matrix: users grouped by first-seen day (cohort),
    counted by distinct activity-day offset - the canonical product-
    analytics rollup. Two grouped passes over day-truncated integer
    epochs (first-seen via min, then distinct (user, day) pairs joined
    back to the K-row cohort table); all integer arithmetic."""
    from ..functions.time import epoch_us

    day = (epoch_us(F.col("ts")) / 86_400_000_000).cast("long")
    ev = load_tables(spark, sf_dir)["events"].select("user_id", day.alias("day"))
    cohort = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    active = ev.distinct()
    return (
        active.join(F.broadcast(cohort), "user_id")
        .select(
            "cohort_day", (F.col("day") - F.col("cohort_day")).alias("day_offset"),
            "user_id",
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("user_id").cast("long").alias("n_users"))
        .orderBy("cohort_day", "day_offset")
    )


def events_anomaly(spark, sf_dir):
    """Per-user 3-sigma outlier audit - the monitoring twin of the
    quantile queries: two passes (moments, then flags), with the sum and
    sum-of-squares ROUNDED to 6 decimals before any derived arithmetic so
    mean/sd/flag thresholds are identical constants in both engines
    (the only order-dependent floats are collapsed at the aggregation
    boundary; everything after is deterministic double arithmetic) -
    operators/extrema.zscore_outliers."""
    from ..operators.extrema import zscore_outliers

    ev = (
        load_tables(spark, sf_dir)["events"]
        .where(F.col("value").isNotNull() & ~F.isnan("value"))
        .select("user_id", "value")
    )
    return zscore_outliers(ev).orderBy("user_id")


def events_distinct_approx(spark, sf_dir):
    """Sketch-based distinct counting, MEASURED (the events_quantiles_approx
    pattern): exact COUNT(DISTINCT) shuffles every distinct key per group -
    at 100 TB a high-cardinality group is an executor hashset blowup - while
    the Datasketches HLL aggregate is a bounded-size, MERGEABLE sketch with
    a published relative-error guarantee. Two claims verified in-engine:

      - ``hll_ok``: |estimate - exact| <= 3 sigma (sigma ~ 1.04/sqrt(2^12)
        at the default lgConfigK=12) + 1 for every group - the accuracy
        contract.
      - ``merge_ok``: the union of per-DAY partial sketches estimates the
        group cardinality identically to the one-shot sketch - the
        mergeability contract that makes HLL partial-aggregation-safe
        (the map-side-combine property everything at scale relies on).

    The oracle pins the exact per-group cardinalities and that both
    contracts concluded true."""
    from ..functions.time import epoch_us

    ev = load_tables(spark, sf_dir)["events"].select(
        "event_type", "user_id", epoch_us(F.col("ts")).alias("us")
    )
    one_shot = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("n_exact"),
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est"),
    )
    merged = (
        ev.select("event_type", "user_id", (F.col("us") / 86_400_000_000).cast("long").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
        .groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_m"))
    )
    bound = F.lit(3 * 1.04) / F.lit(float(2**12) ** 0.5) * F.col("n_exact") + F.lit(1.0)
    return (
        one_shot.join(merged, "event_type")
        .select(
            "event_type",
            "n_exact",
            (F.abs(F.col("est") - F.col("n_exact")) <= bound).alias("hll_ok"),
            (F.col("est_m") == F.col("est")).alias("merge_ok"),
        )
        .orderBy("event_type")
    )


CMS_EPS = 0.005
CMS_CONF = 0.99
CMS_SEED = 42
HH_TOPK = 10


def events_heavy_hitters(spark, sf_dir):
    """Heavy hitters with a Count-Min frequency sketch, MEASURED - the
    point-frequency sibling of events_distinct_approx's HLL: an exact
    per-key count at 100 TB shuffles every distinct key, while the CMS
    aggregate (``F.count_min_sketch`` - partition-local d x w counter
    arrays, merged as a binary map-side combine) is bounded at
    depth*width*8 bytes regardless of key cardinality and answers point
    queries with the published one-sided guarantee. Three claims
    verified in-engine for the exact top-10 (user:event) keys:

      - ``cms_ge_exact``: estimate >= exact count for every probed key -
        CMS never undercounts (counters only increase).
      - ``cms_within_eps``: estimate <= exact + eps * N (eps = 0.005,
        N = totalCount) - the accuracy contract at confidence 0.99,
        deterministic here under the fixed seed.
      - ``merge_exact``: sketches built per day-parity slice and merged
        (counter addition - exact, order-free) estimate identically to
        the one-shot sketch: the partial-aggregation-safety contract.

    Driver work is bounded and documented: three ~22 KB sketch blobs are
    parsed (org.apache.spark.util.sketch.CountMinSketch.readFrom) and 10
    keys probed; the counting itself never leaves the engine. The exact
    side doubles as the two-pass heavy-hitter pattern: sketch candidates
    first, exact counts for the bounded candidate set second. The oracle
    pins the exact top-10 and that every contract concluded true."""
    from ..functions.time import epoch_us

    ev = load_tables(spark, sf_dir)["events"]
    keyed = ev.select(
        F.concat_ws(":", "user_id", "event_type").alias("key"),
        (epoch_us(F.col("ts")) / 86_400_000_000).cast("long").alias("day"),
    )
    top = (
        keyed.groupBy("key")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "key")
        .limit(HH_TOPK)
        .collect()
    )
    args = (F.lit(CMS_EPS), F.lit(CMS_CONF), F.lit(CMS_SEED))
    whole_b = keyed.agg(
        F.count_min_sketch("key", *args).alias("sk")
    ).collect()[0]["sk"]
    parts = {
        r["p"]: r["sk"]
        for r in keyed.withColumn("p", F.col("day") % 2)
        .groupBy("p")
        .agg(F.count_min_sketch("key", *args).alias("sk"))
        .collect()
    }
    cms = spark._jvm.org.apache.spark.util.sketch.CountMinSketch
    whole = cms.readFrom(bytes(whole_b))
    merged = cms.readFrom(bytes(parts[0]))
    for p, blob in sorted(parts.items())[1:]:
        merged.mergeInPlace(cms.readFrom(bytes(blob)))
    n_total = whole.totalCount()
    out = []
    for rk, row in enumerate(top, start=1):
        est = whole.estimateCount(row["key"])
        out.append((
            rk,
            row["key"],
            row["n"],
            est >= row["n"],
            est <= row["n"] + CMS_EPS * n_total,
            merged.estimateCount(row["key"]) == est,
        ))
    return spark.createDataFrame(
        out,
        "rk long, key string, n_exact long, cms_ge_exact boolean, "
        "cms_within_eps boolean, merge_exact boolean",
    ).orderBy("rk")


def window_sliding(spark, sf_dir):
    """Sliding-window aggregation (1-day windows advancing every 6h):
    every event lands in 4 overlapping windows - F.window with a slide
    shorter than the width, the hopping-window form the tumbling coverage
    (q18/stream_window) lacks. The oracle replicates by unioning the 4
    per-offset bucket assignments."""
    from ..functions.time import epoch_us

    ev = load_tables(spark, sf_dir)["events"]
    w = F.window(F.col("ts"), "1 day", "6 hours")
    return (
        ev.groupBy(w.alias("w"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.avg("value"), 6).alias("mean_v"),
        )
        .select(
            epoch_us(F.col("w.start")).alias("start_us"),
            epoch_us(F.col("w.end")).alias("end_us"),
            "n",
            "mean_v",
        )
        .orderBy("start_us")
    )


def _recall_vs_exact(ann, exact, k):
    """Per-query recall@k of an approximate ranking against the exact one:
    (q_id, n_hits, recall_r). Shared by every ANN-measurement query.

    Both inputs are bounded at |queries| x k rows BY CONSTRUCTION
    (queries are the fixed id prefix, k a constant), so the joins
    broadcast explicitly (optimization r20, VERDICT r19 #3): the
    checkpointed inputs carry no size statistics, and Spark otherwise
    plans two SortMergeJoins - five exchanges + four sorts of
    constant-bounded frames."""
    hits = (
        exact.join(F.broadcast(ann), ["q_id", "cand_id"], "left_semi")
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    qids = exact.select("q_id").distinct()
    return (
        qids.join(F.broadcast(hits), "q_id", "left")
        .select(
            "q_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            F.round(
                F.coalesce(F.col("n_hits"), F.lit(0)) / F.lit(float(k)), 6
            ).alias("recall_r"),
        )
        .orderBy("q_id")
    )


def sim_ann_recall(spark, sf_dir):
    """Recall@k of the hyperplane-LSH ANN against the exact brute-force
    top-k, per query - the measurement loop that justifies (or indicts)
    any ANN configuration. Exact side uses the ANN's k so the sets are
    comparable; output (q_id, n_hits, recall_r)."""
    ann = similarity.ann_topk_lsh(
        _emb(spark, sf_dir), ANN_TOPK, QUERY_IDS_BELOW, ANN_NBITS
    ).select("q_id", "cand_id")
    exact = similarity.topk_cosine(
        _emb(spark, sf_dir), ANN_TOPK, QUERY_IDS_BELOW
    ).select("q_id", "cand_id")
    return _recall_vs_exact(ann, exact, ANN_TOPK)


def sim_pq_recall(spark, sf_dir):
    """Recall@k of the product-quantized ADC ranking against the exact
    float top-k - the fidelity dial for the 64x compression (more
    subspaces / larger codebooks raise it; the measurement is the same
    loop as sim_ann_recall with PQ in the approximate seat)."""
    pq = similarity.topk_cosine_pq(
        _emb(spark, sf_dir), ANN_TOPK, QUERY_IDS_BELOW,
        codebooks=_pq_codebooks(spark, sf_dir),
    ).select("q_id", "cand_id")
    exact = similarity.topk_cosine(
        _emb(spark, sf_dir), ANN_TOPK, QUERY_IDS_BELOW
    ).select("q_id", "cand_id")
    return _recall_vs_exact(pq, exact, ANN_TOPK)


def _symmetric_diff_count(a, b, cols) -> int:
    """``|a ANTI b| + |b ANTI a|`` (equi-match on all ``cols``) computed
    as ONE side-tagged aggregation job with each input evaluated once -
    the two directional anti-joins evaluate BOTH inputs twice apiece
    (optimization r19, guide §1.2).

    Equivalence, for any inputs: a ``cols``-group holding both side
    tags is a match and contributes 0; every single-sided group row is
    exactly one anti-join row ([_nb==0]*_na + [_na==0]*_nb). NULL-key
    exactness: an equi-anti-join never matches a NULL join column while
    groupBy groups NULLs together, so any group carrying a NULL in
    ``cols`` counts as all-mismatch explicitly. Pinned against the
    anti-join form on adversarial frames in tests/test_round19.py."""
    tagged = a.select(*cols).withColumn("_side", F.lit(1)).unionAll(
        b.select(*cols).withColumn("_side", F.lit(2))
    )
    any_null = F.lit(False)
    for c in cols:
        any_null = any_null | F.col(c).isNull()
    row = (
        tagged.groupBy(cols)
        .agg(
            F.count(F.when(F.col("_side") == 1, 1)).alias("_na"),
            F.count(F.when(F.col("_side") == 2, 1)).alias("_nb"),
        )
        .where((F.col("_na") == 0) | (F.col("_nb") == 0) | any_null)
        .agg(F.sum(F.col("_na") + F.col("_nb")).alias("m"))
        .collect()[0]
    )
    return int(row["m"] or 0)


def scale_bucketed(spark, sf_dir):
    """Driver witness for the scale utilities (VERDICT r8 #5): write the
    fixture datapoint stream in the 100 TB bucketed layout
    (sources/hdbpp.write_datapoints_bucketed: partitionBy(data_type,
    period) + bucketBy(att_conf_id) sorted), then run the canonical
    bucketed pipeline over it - per-attribute aggregate, fact-to-agg
    self-join on the bucket key, re-aggregate - and return the values
    PLUS two self-certifying columns:

      - ``n_exchanges``: count of hash-partition exchanges in the
        pipeline's own executed plan (the write pre-shuffled once, so
        the read-side plan must contain ZERO). The oracle hard-codes 0,
        making the exchange-free claim part of the correctness hash on
        the driver's own run, not just a local plan test.
      - ``salted_mismatch``: rows where operators/skew.salted_agg
        disagrees with the plain groupBy over the same bucketed scan
        (count/max are order-exact, so equality is bit-for-bit). The
        oracle hard-codes 0.

    The one bounded driver value is the mismatch count (a 1-row count),
    same discipline as the watermark scalar."""
    import re as _re2

    from ..operators.skew import salted_agg
    from ..sources.fixtures import hdbpp_datapoints
    from ..sources.hdbpp import write_datapoints_bucketed

    # datapoints-only helper (r20): this witness never routes by name,
    # and constructing the catalog would enter the session catalog memo
    # from a query that never pays its build (ft-ledger attribution)
    datapoints = hdbpp_datapoints(spark, sf_dir)
    table = "dp_bucketed_" + _re2.sub(r"[^0-9a-zA-Z]+", "_", sf_dir.strip("/"))
    # self-heal across sessions: the warehouse DIRECTORY outlives the
    # in-memory catalog, and saveAsTable refuses a managed-table location
    # that exists without a catalog entry (LOCATION_ALREADY_EXISTS)
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    wh = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    shutil.rmtree(os.path.join(wh, table), ignore_errors=True)
    write_datapoints_bucketed(datapoints, table, num_buckets=8)
    b = spark.table(table)

    per_attr = b.groupBy("att_conf_id").agg(
        F.count("value_r").cast("long").alias("n_points"),
        F.round(F.sum("value_r") / F.count("value_r"), 6).alias("mean_r"),
    )
    above = (
        b.join(per_attr, "att_conf_id")
        .where(F.col("value_r") > F.col("mean_r"))
        .groupBy("att_conf_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_above_mean"))
    )
    pipeline = per_attr.join(above, "att_conf_id", "left").select(
        "att_conf_id",
        "n_points",
        "mean_r",
        F.coalesce("n_above_mean", F.lit(0)).cast("long").alias("n_above_mean"),
    )
    plan = pipeline._jdf.queryExecution().executedPlan().toString()
    n_exchanges = plan.count("Exchange hashpartitioning")

    cols = ["att_conf_id", "n", "mx"]
    plain = b.groupBy("att_conf_id").agg(
        F.count("value_r").alias("n"),
        F.coalesce(F.max("value_r"), F.lit(-1.0)).alias("mx"),
    )
    salted = salted_agg(
        b.select("att_conf_id", "value_r"),
        ["att_conf_id"],
        {"n": ("value_r", "count"), "mx": ("value_r", "max")},
    ).select("att_conf_id", "n", F.coalesce("mx", F.lit(-1.0)).alias("mx"))
    # the two directional anti-joins each consumed BOTH aggregates
    # across two count jobs, running the plain/salted aggregation
    # passes over the bucketed table twice apiece (4 passes, 2 jobs);
    # the side-tagged symmetric-difference count computes each pass
    # ONCE - 2 passes, 1 job, provably the same sum
    # (optimization r19, guide §1.2; equivalence pinned in
    # tests/test_round19.py)
    mismatch = _symmetric_diff_count(plain, salted, cols)

    return pipeline.select(
        "att_conf_id",
        "n_points",
        "mean_r",
        "n_above_mean",
        F.lit(int(n_exchanges)).alias("n_exchanges"),
        F.lit(int(mismatch)).alias("salted_mismatch"),
    ).orderBy("att_conf_id")


def scale_compact(spark, sf_dir):
    """Driver witness for small-file compaction (operators/compact.py):
    manufacture the ingest anti-layout (events round-robined into 64 tiny
    files), compact to ceil(n / 4096) event_id-range-clustered files, and
    return per-stage (stage, n_files, n_rows) with three self-certifying
    booleans the oracle hard-codes true:

      - ``files_ok``: n_files on DISK equals the arithmetic the oracle
        computes from row counts alone (LEAST(64, n) fragmented,
        CEIL(n/4096) compacted) - the write produced the planned layout.
      - ``checksum_ok``: SUM(event_id) round-trips both rewrites.
      - ``clustered_ok``: zero overlapping file pairs on event_id after
        compaction (parquet min/max stats prune a point predicate to ONE
        file) - trivially true pre-compaction is not claimed; the
        fragmented row carries the compacted verdict too so the column
        stays constant-per-query.

    Bounded driver values: two file counts, one overlap count (n_files^2
    over n_files rows), two 1-row checksums."""
    from ..operators import compact as cp

    ev = load_tables(spark, sf_dir)["events"]
    base = os.path.join(
        spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse").removeprefix(
            "file:"
        ),
        "compact_" + re.sub(r"[^0-9a-zA-Z]+", "_", sf_dir.strip("/")),
    )
    frag, comp = os.path.join(base, "frag"), os.path.join(base, "comp")
    shutil.rmtree(base, ignore_errors=True)
    cp.write_fragmented(ev, frag, COMPACT_FRAG_FILES)

    # the compaction rewrite, the source checksum and the fragmented-
    # stage stats are mutually independent (disjoint inputs/outputs):
    # run them overlapped so the small certification aggregates
    # back-fill the compaction write's tail instead of serializing
    # behind it, then overlap the two compacted-side reads the same way
    # (optimization r19, guide §2.6)
    res = {}

    def _stage_stats(stage, path):
        def run():
            row = (
                spark.read.parquet(path)
                .agg(
                    F.count(F.lit(1)).alias("n"), F.sum("event_id").alias("s")
                )
                .collect()[0]
            )
            res[stage] = (cp.count_part_files(path), row["n"], row["s"])

        return run

    def _src_sum():
        res["src_sum"] = ev.agg(F.sum("event_id").alias("s")).collect()[0]["s"]

    _overlapped(
        spark,
        lambda: cp.compact(spark, frag, comp, "event_id", COMPACT_TARGET_ROWS),
        _src_sum,
        _stage_stats("fragmented", frag),
    )

    def _comp_overlaps():
        res["n_overlaps"] = cp.n_range_overlaps(spark, comp, "event_id")

    _overlapped(spark, _stage_stats("compacted", comp), _comp_overlaps)
    src_sum = res["src_sum"]
    stats = {k: res[k] for k in ("fragmented", "compacted")}
    n = stats["fragmented"][1]
    files_ok = stats["fragmented"][0] == min(COMPACT_FRAG_FILES, n) and stats[
        "compacted"
    ][0] == -(-n // COMPACT_TARGET_ROWS)
    checksum_ok = all(s == src_sum for _, _, s in stats.values())
    clustered_ok = res["n_overlaps"] == 0
    return spark.createDataFrame(
        [
            (stage, stats[stage][0], stats[stage][1])
            for stage in ("compacted", "fragmented")
        ],
        "stage string, n_files long, n_rows long",
    ).select(
        "stage",
        "n_files",
        "n_rows",
        F.lit(bool(files_ok)).alias("files_ok"),
        F.lit(bool(checksum_ok)).alias("checksum_ok"),
        F.lit(bool(clustered_ok)).alias("clustered_ok"),
    ).orderBy("stage")


def sim_ann_compare(spark, sf_dir):
    """The recall-per-method table a 100 TB ANN deployment actually wants
    (VERDICT r8 #7): ONE exact brute-force top-k baseline, computed once
    and localCheckpoint-ed, joined against all four approximate rankings
    (hyperplane LSH, seed-centroid IVF-flat, plain-PQ ADC, residual
    IVF-PQ) -> (method, q_id, n_hits, recall_r). Replaces the three
    per-method recall queries in the battery, which each re-ran the same
    exact baseline (~2 s apiece at sf0.1); the underlying operators are
    unchanged and still individually exercised (sim_ann_lsh /
    sim_topk_pq / sim_ann_ivfpq; plain sim_ann_ivf's recall is witnessed
    HERE since its solo query rotated out in r9)."""
    exact = _ann_scored(spark, sf_dir, "exact")
    # materialize the shared lazy checkpoint ONCE before the 4-branch
    # union consumes it 8 ways (r14 measured: parallel branches over an
    # unmaterialized checkpoint duplicate-compute its partitions -
    # 12.7 s vs 7.4 s; the bounded count is that one clean
    # materialization job, and a no-op when another recall query
    # already touched the memo this session)
    exact.count()
    # every ranking is topk_per_query over the session-memoized scored
    # frame of its method (r19, VERDICT r18 #3 - the r18 sweep
    # transformation applied to the compare table): ONE candidate-
    # generation pass per index family per session, shared with
    # sim_ann_lsh / sim_ann_ivf / sim_topk_pq / sim_ann_ivfpq and the
    # probe sweep; per-method plans and values are bit-identical to the
    # pre-memo wrappers (same scored pass, same ranking tail)
    anns = {
        "ivfpq": similarity.topk_per_query(
            _ann_scored(spark, sf_dir, "ivfpq").drop("cell_rank"),
            ANN_TOPK, "acos_r",
        ),
        "ivf": similarity.topk_per_query(
            _ann_scored(spark, sf_dir, "ivf")
            .where(F.col("cell_rank") <= IVF_NPROBE)
            .drop("cell_rank"),
            ANN_TOPK, "cos_r",
        ),
        "lsh": similarity.topk_per_query(
            _ann_scored(spark, sf_dir, "lsh"), ANN_TOPK, "cos_r"
        ),
        "pq": similarity.topk_per_query(
            _ann_scored(spark, sf_dir, "pq"), ANN_TOPK, "acos_r"
        ),
    }
    out = None
    for name in sorted(anns):
        rec = _recall_vs_exact(
            anns[name].select("q_id", "cand_id"), exact, ANN_TOPK
        ).select(F.lit(name).alias("method"), "q_id", "n_hits", "recall_r")
        out = rec if out is None else out.unionAll(rec)
    return out.orderBy("method", "q_id")


def window_sessions(spark, sf_dir):
    """Gap-based sessionization (the session-window sibling of T3's
    tumbling windows): per-user sessions that close after 6h of
    inactivity - F.session_window start/end (end = last event + gap),
    event count, round-6 value sum. The identical expression runs under
    Structured Streaming with withWatermark (sessions merge across
    micro-batches); batch mode here makes it oracle-checkable against the
    classic gaps-and-islands SQL."""
    from ..functions.time import epoch_us

    # load_tables already synthesizes ts as a µs TIMESTAMP from the raw
    # int64 nanos column
    ev = load_tables(spark, sf_dir)["events"].select(
        "user_id", F.col("ts").alias("tss"), "value"
    )
    return (
        ev.groupBy("user_id", F.session_window(F.col("tss"), SESSION_GAP).alias("w"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_v"),
        )
        .select(
            "user_id",
            epoch_us(F.col("w.start")).alias("start_us"),
            epoch_us(F.col("w.end")).alias("end_us"),
            "n_events",
            "sum_v",
        )
        .orderBy("user_id", "start_us")
    )


# --- streaming -----------------------------------------------------------

_STREAM_SEQ = itertools.count()


def _drain(query, timeout_s=120):
    """Block until an availableNow query drains, failing loudly on timeout.

    ``awaitTermination`` returns False on timeout with the query STILL
    RUNNING — reading the memory sink at that point races the drain and
    silently returns a partial result. ``stop()`` in the finally block
    also releases the stream when the query raised mid-drain."""
    try:
        if not query.awaitTermination(timeout_s):
            raise TimeoutError(
                f"streaming query did not drain within {timeout_s}s"
            )
    finally:
        query.stop()


def _stream_events(spark, sf_dir):
    """Schema-normalized streaming scan of the events table.

    readStream requires an explicit schema; hard-coding one is exactly how
    the round-6 unit bug happened (the testdata's ``ts`` moved from
    TIMESTAMP(NANOS)-as-int64 to native timestamp[us] and three streaming
    queries silently read values 1000x too small). Instead we infer the
    physical schema from the parquet footer via a zero-row batch read and
    route the stream through the SAME ``_normalize`` dtype dispatch the
    batch path uses (sources/tables.py): whatever layout the files have,
    stream and batch agree by construction. The footer read is metadata-only
    (no data scan) and happens once per query at plan time.

    The footer read's PHYSICAL schema depends on session confs (nanosAsLong
    flips TIMESTAMP(NANOS) between int64 and an unreadable error), so the
    helper applies the engine confs itself rather than trusting callers to
    have gone through configure()/load_tables() first - a standalone caller
    must infer the same layout ``_normalize`` dispatches on."""
    from ..session import configure
    from ..sources.tables import _normalize

    configure(spark)
    physical = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    raw = (
        spark.readStream.schema(physical)
        # file-stream sources take a directory; glob-filter to the one table
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return _normalize(raw)


def stream_last_value(spark, sf_dir):
    """Custom stateful streaming operator (applyInPandasWithState): drain
    the events stream with availableNow and return the final per-key
    current state. The oracle is the batch latest-by-event-time - the
    streaming machinery must converge to exactly the batch answer."""
    from ..functions.time import epoch_us
    from ..streaming.stateful import streaming_last_value

    load_tables(spark, sf_dir)  # applies session confs (nanosAsLong)
    sink = f"stream_last_value_{next(_STREAM_SEQ)}"
    feed = _stream_events(spark, sf_dir).select(
        F.col("user_id").cast("long").alias("att_conf_id"),
        F.col("ts"),
        F.col("value").alias("value_r"),
    ).where(F.col("value").isNotNull())
    # State-store instance count = shuffle partitions AT QUERY START, and
    # each instance pays per-micro-batch overhead (store init/commit + an
    # Arrow Python worker round-trip) regardless of row volume. Size it to
    # the key cardinality (~1.5k attributes here; measured 3x faster than
    # 32 partitions), not to the batch-query default - a real 100 TB/day
    # deployment with millions of attributes would size it up again.
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            streaming_last_value(feed)
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        _drain(q)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    final = spark.sql(
        f"SELECT * FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY att_conf_id "
        f"ORDER BY n DESC, last_ts DESC) AS rn FROM {sink}) WHERE rn = 1"
    )
    return final.select(
        "att_conf_id",
        epoch_us("last_ts").alias("last_us"),
        "last_value",
        F.col("n").cast("long").alias("n"),
    ).orderBy("att_conf_id")


def multimodal_meta(spark, sf_dir):
    with_blob = multimodal.attach_payload(_docs_sorted(spark, sf_dir))
    return with_blob.select(
        "doc_id",
        F.col("meta.n_bytes").cast("long").alias("n_bytes"),
        F.col("meta.mime").alias("mime"),
    )


def multimodal_extract(spark, sf_dir):
    with_blob = multimodal.attach_payload(_docs_sorted(spark, sf_dir))
    feats = multimodal.extract_features(with_blob)
    return feats.select(
        "doc_id", "n_bytes", F.round(F.col("mean_byte"), 6).alias("mean_byte")
    )


def multimodal_resize(spark, sf_dir):
    with_blob = multimodal.attach_payload(_docs_sorted(spark, sf_dir))
    out = multimodal.resize_payloads(with_blob, RESIZE_FACTOR)
    return out.select(
        "doc_id",
        "n_bytes_in",
        "n_bytes_out",
        F.round(F.col("mean_byte_out"), 6).alias("mean_byte_out"),
    )


def multimodal_frames(spark, sf_dir):
    # frame rows are emitted doc-major, frame-ascending within each doc, so
    # the presorted input already yields (doc_id, frame_idx) order
    with_blob = multimodal.attach_payload(_docs_sorted(spark, sf_dir))
    out = multimodal.sample_frames(with_blob, FRAME_EVERY)
    return out.select(
        "doc_id",
        "frame_idx",
        "n_bytes",
        F.round(F.col("mean_byte"), 6).alias("mean_byte"),
    )


def stream_window(spark, sf_dir):
    """Watermarked tumbling-window aggregation as a STREAM (T3 declared):
    drain the events stream with availableNow through streaming_resample
    (event-time watermark + 1-day windows). Complete output mode makes the
    final memory-sink state equal the batch windowed aggregation exactly,
    so the DuckDB oracle is plain windowed SQL - the strongest check a
    streaming query can get. (A 100 TB deployment would run append mode to
    a real sink; complete mode here bounds state at |windows|, which is
    fine for the bench and keeps the check exact.)"""
    from ..functions.time import epoch_us
    from ..streaming.incremental import streaming_resample

    load_tables(spark, sf_dir)  # applies session confs (nanosAsLong)
    sink = f"stream_window_{next(_STREAM_SEQ)}"
    feed = _stream_events(spark, sf_dir).select(
        F.col("ts"),
        F.col("value").alias("value_r"),
    )
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            streaming_resample(feed, width_seconds=86400)
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        _drain(q)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return (
        spark.table(sink)
        .select(
            epoch_us("bucket_start").alias("bucket_us"),
            F.round("mean_v", 6).alias("mean_v"),
            F.col("n").cast("long").alias("n"),
        )
        .orderBy("bucket_us")
    )


def stream_raster(spark, sf_dir):
    """The /image rasterization kernel (A6, the flagship q20) as a STREAM
    (VERDICT r11 #8): the SAME bin_2d expression - 100x80 (time x value)
    pixel binning with count/mean/min/max - run under Structured
    Streaming over the watermark-free events stream, drained availableNow
    into a complete-mode memory sink. This is the live-dashboard twin of
    the /image hot path: a deployment would keep the panel's raster
    up to date incrementally (state bounded at w*h groups per series -
    screen-resolution-bounded, the reference's own response-size
    property) instead of re-scanning history per refresh. The oracle IS
    q20's oracle (aliased, never drifts), so the value hash proves
    streaming and batch rasterize identically."""
    from ..operators.raster import bin_2d
    from .queries import X0_US, X_SPAN_US

    load_tables(spark, sf_dir)  # applies session confs (nanosAsLong)
    sink = f"stream_raster_{next(_STREAM_SEQ)}"
    feed = _stream_events(spark, sf_dir).select("ts", "value")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            bin_2d(feed, X0_US, X_SPAN_US, 100, 0.0, 500.0, 80)
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        _drain(q)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return spark.table(sink).orderBy("xb", "yb")


def lifecycle_image_stream(spark, sf_dir):
    """The COMPLETE /image loop under Structured Streaming (VERDICT r12
    #7 stretch): per-series APPEND-MODE rasters
    (streaming_raster_windowed - each pixel column emitted exactly once
    when the event-time watermark passes it, state evicted) -> pad_range
    axis band (plot.py:160-188 algebra) -> the SAME compose/encode stack
    the batch /image path uses (api/png.compose_image, eq-hist alpha,
    palette, premultiplied stacking) -> decoded-pixel digest row. The
    live-dashboard twin of lifecycle_image: a deployment keeps the
    panel's PNG current from the append stream instead of re-rendering
    history per refresh.

    Determinism: the emitted pixel set is every column whose window end
    <= final watermark (max synthetic event time - 1h) - a pure
    function of the data; the digest is pinned per corpus in the oracle
    (like lifecycle_image), and the suite independently re-derives it
    from batch bin_2d truncated at the same watermark
    (tests/test_round13.py). Scale: streaming state is bounded by
    (series x open columns x ny); the driver collects <= series*w*h
    pixel rows - the reference's own response-size contract."""
    import hashlib

    from ..api.png import compose_image, snap_streamed_edge_rows
    from ..operators.extrema import pad_range
    from ..streaming.incremental import streaming_raster_windowed
    from .queries import X0_US, X_SPAN_US

    w, h = 200, 120
    events = load_tables(spark, sf_dir)["events"]
    keep = (F.col("user_id") < 2) & (F.col("event_type") != "error")
    # axis band: exact MIN/MAX extrema + the reference's padding algebra
    # (bounded driver scalars, same both engines)
    ext = events.where(keep).agg(
        F.min("value").alias("vmin"), F.max("value").alias("vmax")
    ).collect()[0]
    y0, y1 = pad_range(ext["vmin"], ext["vmax"])

    sink = f"lifecycle_image_stream_{next(_STREAM_SEQ)}"
    feed = (
        _stream_events(spark, sf_dir)
        .where(keep)
        .select(F.col("user_id").alias("att_conf_id"), "ts", "value")
    )
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            streaming_raster_windowed(
                feed, X0_US, X_SPAN_US, w, y0, y1, h,
                keys=["att_conf_id"],
            )
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _drain(q)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)

    pixel_rows = [
        {"series": r["att_conf_id"], "xb": r["xb"], "yb": r["yb"], "cnt": r["cnt"]}
        for r in spark.table(sink).collect()
    ]
    # this consumer's canvas right edge IS the raster's x0+span, so fold
    # any right-edge-exact column w into w-1 like batch bin_2d (the
    # streaming raster leaves x unclipped; ADVICE r13). The driver corpus
    # is interior to every edge, so the digest is unchanged - the
    # constructed edge test in tests/test_round14.py exercises the fold.
    pixel_rows = snap_streamed_edge_rows(pixel_rows, w)
    img = compose_image(pixel_rows, w, h, order=[0, 1])
    return spark.createDataFrame(
        [
            (
                0,
                w,
                h,
                int((img[:, :, 3] > 0).sum()),
                hashlib.sha256(img.tobytes()).hexdigest(),
                float(y0),
                float(y1),
            )
        ],
        "axis int, width int, height int, n_lit long, pixel_sha256 string,"
        " y0 double, y1 double",
    )


def stream_sessions(spark, sf_dir):
    """Gap-based sessionization as a STREAM - the exact claim
    ``window_sessions`` makes ("the identical expression runs under
    Structured Streaming"), now witnessed: the same per-user
    session_window aggregation over the watermarked events stream,
    drained availableNow. Sessions that straddle micro-batch boundaries
    must MERGE in the state store (the part batch mode can't exercise);
    complete output mode makes the final sink equal the batch answer
    exactly, so the oracle is the same gaps-and-islands SQL. A 100 TB
    deployment runs append mode to a real sink with watermark-bounded
    state; complete mode here bounds state at |sessions| and keeps the
    check exact."""
    from ..functions.time import epoch_us

    load_tables(spark, sf_dir)  # applies session confs (nanosAsLong)
    sink = f"stream_sessions_{next(_STREAM_SEQ)}"
    feed = _stream_events(spark, sf_dir).select(
        "user_id", F.col("ts").alias("tss"), "value"
    )
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            feed.withWatermark("tss", "1 hour")
            .groupBy(
                "user_id", F.session_window(F.col("tss"), SESSION_GAP).alias("w")
            )
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_events"),
                F.round(F.sum("value"), 6).alias("sum_v"),
            )
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        _drain(q)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return (
        spark.table(sink)
        .select(
            "user_id",
            epoch_us(F.col("w.start")).alias("start_us"),
            epoch_us(F.col("w.end")).alias("end_us"),
            "n_events",
            "sum_v",
        )
        .orderBy("user_id", "start_us")
    )


def stream_restart(spark, sf_dir):
    """Exactly-once ACROSS A RESTART - the streaming durability claim
    the other stream queries don't witness: phase 1 lands half the
    corpus (even event_ids) through a checkpointed parquet file sink and
    STOPS; the other half arrives in the source directory; phase 2 is a
    brand-new query instance on the SAME checkpoint and sink, which must
    resume from the offset log - re-reading nothing it already
    committed, picking up exactly the late files. Self-certifying row:

      - ``checksum_ok`` / ``no_dupes``: the landed union equals the
        batch table exactly (sum + distinct-count) - a re-processed or
        dropped file flips either.
      - ``resumed_only_delta``: phase 2's numInputRows equals the late
        half's row count - the restart read the offset log, not the
        directory.

    The oracle pins (n_rows, checksum) from the batch table and
    hard-codes the contracts true. Deterministic by construction: the
    phases split on event_id parity, never on timing."""
    ev = load_tables(spark, sf_dir)["events"].select(
        "event_id", "user_id", "value"
    )
    base = os.path.join(
        spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse").removeprefix(
            "file:"
        ),
        "stream_restart_" + re.sub(r"[^0-9a-zA-Z]+", "_", sf_dir.strip("/")),
    )
    src, land, ckpt = (os.path.join(base, d) for d in ("src", "land", "ckpt"))
    shutil.rmtree(base, ignore_errors=True)
    ev.where(F.col("event_id") % 2 == 0).repartition(4).write.parquet(src)

    schema = spark.read.parquet(src).schema

    def run_phase():
        # availableNow drains everything unprocessed in ONE micro-batch
        # (optimization r19, the stream_index_append precedent: the
        # r8-build maxFilesPerTrigger=2 split each phase's 4 files into
        # two batches - an extra sink plan+write+commit round-trip per
        # phase certifying nothing the one-batch drain does not: the
        # restart/offset-log contract is per PHASE, and phase 2's
        # numInputRows counts exactly the late files' rows under any
        # batch split)
        q = (
            spark.readStream.schema(schema)
            .parquet(src)
            .writeStream.format("parquet")
            .option("path", land)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _drain(q)
        return q

    run_phase()
    ev.where(F.col("event_id") % 2 == 1).repartition(4).write.mode(
        "append"
    ).parquet(src)
    q2 = run_phase()
    phase2_rows = sum(
        p["numInputRows"] for p in q2.recentProgress
    )
    # ONE combined pass over the batch table (count + checksum + odd-half
    # count were two scans), overlapped with the independent landed-side
    # aggregate (optimization r19, guide §2.6)
    res = {}

    def _landed_stats():
        res["landed"] = spark.read.parquet(land).agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("event_id").alias("nd"),
            F.sum("event_id").alias("s"),
        ).collect()[0]

    def _src_stats():
        res["src"] = ev.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("event_id").alias("s"),
            F.count(F.when(F.col("event_id") % 2 == 1, 1)).alias("n_odd"),
        ).collect()[0]

    _overlapped(spark, _landed_stats, _src_stats)
    landed, src_row = res["landed"], res["src"]
    odd_rows = src_row["n_odd"]
    return spark.createDataFrame(
        [(
            landed["n"],
            landed["s"],
            landed["s"] == src_row["s"] and landed["n"] == src_row["n"],
            landed["nd"] == landed["n"],
            phase2_rows == odd_rows,
        )],
        "n_rows long, checksum long, checksum_ok boolean, "
        "no_dupes boolean, resumed_only_delta boolean",
    )


#: NB driver artifacts (model dict + label stats) shared by the two
#: streaming servers (stream_classify / stream_curation), which each
#: re-ran the identical deterministic training aggregation + two
#: bounded collects (optimization r19, guide §1.2). Plain driver data
#: (the bpe_merges class), bounded by the vocabulary cut x |labels|.
#: Registry kind "nb_artifacts".
def _nb_artifacts(spark, sf_dir):
    from ..operators import nbayes

    return artifacts.get_or_build(
        spark,
        "nb_artifacts",
        (sf_dir, NB_MIN_COUNT),
        lambda: nbayes.nb_artifacts(_docs(spark, sf_dir), NB_MIN_COUNT),
    )


def stream_classify(spark, sf_dir):
    """Serve the batch-trained NB classifier over a document STREAM -
    train once in batch (operators/nbayes.nb_artifacts: the model dict
    + label stats, bounded by the vocabulary cut, shipped in the task
    closure exactly like apply_bpe_merges' merge table), then score the
    file-stream STATELESSLY with an Arrow kernel: no state store, no
    watermark, append mode - the production model-serving shape, and
    the reason it scales to an unbounded stream. Pure-integer micro-nat
    sums and the same ascending-label strictly-greater argmax make the
    streamed output bit-identical to batch text_nb_classify, so the
    oracle is that query's SQL verbatim (the stream_raster aliasing
    discipline: stream and batch can never drift)."""
    from ..operators import nbayes
    from ..session import configure

    model, stats = _nb_artifacts(spark, sf_dir)
    kernel, _labels = nbayes.nb_score_kernel(model, stats)
    configure(spark)
    physical = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    feed = (
        spark.readStream.schema(physical)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
        .select("doc_id", "lang", "text")
    )
    scored = feed.mapInPandas(
        kernel, "doc_id long, lang string, pred string, score_fp long"
    )
    sink = f"stream_classify_{next(_STREAM_SEQ)}"
    q = (
        scored.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    # stateless serving is the CLAIM - a state store appearing in the
    # progress would mean the plan silently grew a streaming aggregation
    progress = q.lastProgress
    assert progress is None or not progress.get("stateOperators"), (
        "stream_classify must run stateless", progress and progress.get("stateOperators"))
    return spark.sql(f"SELECT * FROM {sink}").orderBy("doc_id")


def stream_curation(spark, sf_dir):
    """The documents-side streamed curation lifecycle END-TO-END (VERDICT
    r14 #8): file-stream ingest -> STATELESS trained-NB scoring
    (stream_classify's model-serving shape: bounded artifacts in the
    task closure, Arrow kernel, no state store) -> trained
    lang-agreement filter (pipe_curation_trained stage 1) -> watermarked
    exactly-once dedup guard (stream_dedup's bounded-state shape - the
    feed is the corpus unioned with itself, so every doc ARRIVES twice
    and must LAND once) -> checkpointed exactly-once parquet FILE sink
    (stream_sink_compact's landing shape).

    The digest check is the whole witness: the returned per-language
    (n_docs, id_sum, score_sum) rows come from the LANDED parquet, and
    the oracle is the batch NB-classify CTE filtered to pred = lang -
    so a hash match proves the duplicated stream landed each surviving
    document exactly once with bit-identical integer micro-nat scores.
    ``landed_once`` additionally certifies zero duplicate doc_ids in the
    physical store (hard-coded TRUE in the oracle, the scale_zorder
    discipline for physical facts SQL cannot see).

    Scale shape: scoring is stateless (unbounded-stream safe); the only
    state is the dedup guard's, bounded by the watermark horizon, never
    by history; the sink is the checkpointed exactly-once file sink a
    production landing zone uses. Event time is synthesized from doc_id
    (documents carry no timestamp), offset above the initial zero
    watermark; the corpus' span sits inside the 1 h horizon, so the
    guard provably sees every duplicate pair and drops nothing as late."""
    from ..operators import nbayes
    from ..session import configure

    model, stats = _nb_artifacts(spark, sf_dir)
    kernel, _labels = nbayes.nb_score_kernel(model, stats)
    configure(spark)
    physical = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    base = os.path.join(
        spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse").removeprefix(
            "file:"
        ),
        "stream_curation_" + re.sub(r"[^0-9a-zA-Z]+", "_", sf_dir.strip("/")),
    )
    land, ckpt = os.path.join(base, "land"), os.path.join(base, "ckpt")
    shutil.rmtree(base, ignore_errors=True)

    def one_stream():
        return (
            spark.readStream.schema(physical)
            .option("pathGlobFilter", "documents.parquet")
            .parquet(sf_dir)
            .select("doc_id", "lang", "text")
        )

    feed = one_stream().union(one_stream())  # every doc arrives TWICE
    scored = feed.mapInPandas(
        kernel, "doc_id long, lang string, pred string, score_fp long"
    )
    # synthesized event time is OFFSET a day above epoch 0: Spark's
    # stateful operators treat event time <= the initial zero watermark
    # as LATE, so a doc_id-0 row timestamped exactly at the epoch would
    # silently never land (caught by the sf0.01 digest - doc 0 survives
    # the NB filter there)
    kept = scored.where(F.col("pred") == F.col("lang")).withColumn(
        "ts", F.timestamp_seconds(F.col("doc_id") + F.lit(86_400))
    )
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            kept.withWatermark("ts", "1 hour")
            .dropDuplicatesWithinWatermark(["doc_id"])
            .drop("ts")
            .writeStream.format("parquet")
            .option("path", land)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _drain(q)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    landed = spark.read.parquet(land)
    once = landed.agg(
        (F.count(F.lit(1)) == F.count_distinct("doc_id")).alias("ok")
    ).collect()[0]["ok"]
    return (
        landed.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("doc_id").alias("id_sum"),
            F.sum("score_fp").alias("score_sum"),
        )
        .select(
            "lang",
            "n_docs",
            "id_sum",
            "score_sum",
            F.lit(bool(once)).alias("landed_once"),
        )
        .orderBy("lang")
    )


def stream_sink_compact(spark, sf_dir):
    """The end-to-end ingest shape that CREATES and then FIXES the
    small-file problem: the events stream lands through an exactly-once
    checkpointed parquet FILE SINK (repartitioned to 16 writers - the
    many-small-files cadence of real streaming ingest), then the
    compaction maintenance job (operators/compact.py) rewrites the landed
    layout into ceil(n/4096) event_id-range-clustered files. Self-
    certifying columns like scale_compact - and here ``checksum_ok``
    doubles as the sink's exactly-once witness: a duplicated or dropped
    row in the landed data flips the event_id checksum against the batch
    table. Bounded driver values: two file counts, one overlap count,
    three 1-row sums."""
    from ..operators import compact as cp

    ev = load_tables(spark, sf_dir)["events"]
    base = os.path.join(
        spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse").removeprefix(
            "file:"
        ),
        "stream_compact_" + re.sub(r"[^0-9a-zA-Z]+", "_", sf_dir.strip("/")),
    )
    land, comp, ckpt = (os.path.join(base, d) for d in ("land", "comp", "ckpt"))
    shutil.rmtree(base, ignore_errors=True)
    q = (
        _stream_events(spark, sf_dir)
        .select("event_id", "user_id", "value")
        .repartition(STREAM_SINK_FILES)
        .writeStream.format("parquet")
        .option("path", land)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)

    # compaction, the batch-side checksum and the landed-stage stats are
    # mutually independent once the sink has drained: overlap them, then
    # overlap the two compacted-side certification reads (optimization
    # r19, guide §2.6 - the scale_compact shape)
    res = {}

    def _stage_stats(stage, path):
        def run():
            row = (
                spark.read.parquet(path)
                .agg(
                    F.count(F.lit(1)).alias("n"), F.sum("event_id").alias("s")
                )
                .collect()[0]
            )
            res[stage] = (cp.count_part_files(path), row["n"], row["s"])

        return run

    def _src_sum():
        res["src_sum"] = ev.agg(F.sum("event_id").alias("s")).collect()[0]["s"]

    _overlapped(
        spark,
        lambda: cp.compact(spark, land, comp, "event_id", COMPACT_TARGET_ROWS),
        _src_sum,
        _stage_stats("landed", land),
    )

    def _comp_overlaps():
        res["n_overlaps"] = cp.n_range_overlaps(spark, comp, "event_id")

    _overlapped(spark, _stage_stats("compacted", comp), _comp_overlaps)
    src_sum = res["src_sum"]
    stats = {k: res[k] for k in ("landed", "compacted")}
    n = stats["landed"][1]
    files_ok = stats["landed"][0] == min(STREAM_SINK_FILES, n) and stats[
        "compacted"
    ][0] == -(-n // COMPACT_TARGET_ROWS)
    checksum_ok = all(s == src_sum for _, _, s in stats.values())
    clustered_ok = res["n_overlaps"] == 0
    return (
        spark.createDataFrame(
            [(st, stats[st][0], stats[st][1]) for st in ("compacted", "landed")],
            "stage string, n_files long, n_rows long",
        )
        .select(
            "stage",
            "n_files",
            "n_rows",
            F.lit(bool(files_ok)).alias("files_ok"),
            F.lit(bool(checksum_ok)).alias("checksum_ok"),
            F.lit(bool(clustered_ok)).alias("clustered_ok"),
        )
        .orderBy("stage")
    )


def stream_sessions_evict(spark, sf_dir):
    """Sessionization in APPEND mode - the 100 TB streaming posture
    (VERDICT r8 #6): complete mode re-emits every session forever and
    never evicts, so ``stream_sessions``' state grows with |sessions|;
    append mode emits a session exactly once, when the watermark passes
    its end, and DROPS it from the state store. Only sessions still
    mergeable with future on-time events (end > watermark) remain in
    state - bounded by key cardinality x the watermark horizon, not by
    history. Emission predicate pinned empirically and in the oracle:
    merged session end <= final watermark, where the watermark is
    millisecond-truncated max event time minus the 1 h delay (Spark
    tracks watermarks in ms). State-row eviction itself is asserted in
    tests/test_engine.py via the query's progress metrics.

    The batch-side twin of this filter CANNOT be written as
    ``.where(w.end <= wm)`` over the same session aggregation: Catalyst
    pushes the predicate below the session merge and truncates sessions
    (observed: a 6-event session losing its last event). The oracle
    therefore filters the gaps-and-islands result, which has no such
    rewrite."""
    from ..functions.time import epoch_us

    load_tables(spark, sf_dir)  # applies session confs (nanosAsLong)
    sink = f"stream_sessions_evict_{next(_STREAM_SEQ)}"
    feed = _stream_events(spark, sf_dir).select(
        "user_id", F.col("ts").alias("tss"), "value"
    )
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            feed.withWatermark("tss", "1 hour")
            .groupBy(
                "user_id", F.session_window(F.col("tss"), SESSION_GAP).alias("w")
            )
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_events"),
                F.round(F.sum("value"), 6).alias("sum_v"),
            )
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _drain(q)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return (
        spark.table(sink)
        .select(
            "user_id",
            epoch_us(F.col("w.start")).alias("start_us"),
            epoch_us(F.col("w.end")).alias("end_us"),
            "n_events",
            "sum_v",
        )
        .orderBy("user_id", "start_us")
    )


def stream_dedup(spark, sf_dir):
    """Streaming exactly-once dedup with BOUNDED state: the events stream
    unioned with itself (every row duplicated) must come out exactly once.
    dropDuplicatesWithinWatermark keeps per-key state only inside the
    watermark horizon - the scale-correct ingest guard (plain streaming
    dropDuplicates grows state forever). Oracle: the plain batch table."""
    from ..functions.time import epoch_us

    load_tables(spark, sf_dir)  # applies session confs (nanosAsLong)
    sink = f"stream_dedup_{next(_STREAM_SEQ)}"

    def one_stream():
        return _stream_events(spark, sf_dir).select(
            "event_id", F.col("ts"), F.col("user_id")
        )

    feed = one_stream().union(one_stream())
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            feed.withWatermark("ts", "1 hour")
            .dropDuplicatesWithinWatermark(["event_id"])
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _drain(q)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return (
        spark.table(sink)
        .select("event_id", epoch_us("ts").alias("t_us"), "user_id")
        .orderBy("event_id")
    )


ZORDER_BUCKETS_LOG2 = 6
ZORDER_BUCKETS = 1 << ZORDER_BUCKETS_LOG2


def scale_zorder(spark, sf_dir):
    """Z-order layout witness (operators/zorder.py): cluster events on
    the Morton interleave of (user_id, day), write the layout for real
    (one parquet directory per z-bucket), and measure DATA SKIPPING on
    the read-back files: how many bucket envelopes a point predicate
    must touch on EITHER dimension, next to the single-key range layout
    where the non-sort dimension touches everything. The numbers are the
    whole argument for Z-ORDER BY at 100 TB: a bucket's envelope is an
    axis-aligned rectangle, so both dims prune to ~sqrt fractions, while
    the range-sorted baseline prunes user_id to one bucket but day to
    all of them.

    Bit algebra is deterministic integer arithmetic (no RangePartitioner
    sampling), so the DuckDB oracle replays the identical interleave and
    pins every count; two hard-coded-true booleans certify the physical
    side the oracle cannot see (on-disk bucket-dir count == logical
    buckets; SUM(event_id) round-trips the write). Bounded driver
    values: one stats row, four 1-row prune counts, two checksums, one
    directory listing."""
    from ..functions.time import epoch_us
    from ..operators import zorder as zo

    ev = load_tables(spark, sf_dir)["events"].select(
        "event_id",
        "user_id",
        (epoch_us(F.col("ts")) / 86_400_000_000).cast("long").alias("day"),
    )
    stats = ev.agg(
        F.min("user_id").alias("umin"), F.max("user_id").alias("umax"),
        F.min("day").alias("dmin"), F.max("day").alias("dmax"),
        # the source-side checksum rides the same single pass the
        # envelope scaling needs anyway - the separate ev.agg(sum) scan
        # is gone (optimization r19, guide §1.2); the extra broadcast
        # column is bytes
        F.sum("event_id").alias("esum"),
    )
    sc = ev.crossJoin(F.broadcast(stats)).select(
        "event_id", "user_id", "day",
        zo.scale_to_bits(F.col("user_id"), F.col("umin"), F.col("umax")).alias("au"),
        zo.scale_to_bits(F.col("day"), F.col("dmin"), F.col("dmax")).alias("ad"),
    )
    laid = sc.select(
        "event_id", "user_id", "day",
        zo.z_bucket(
            zo.interleave_bits(F.col("au"), F.col("ad")), ZORDER_BUCKETS_LOG2
        ).alias("zb"),
        F.shiftrightunsigned("au", zo.ZBITS - ZORDER_BUCKETS_LOG2).alias("sb"),
    )
    base = os.path.join(
        spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse").removeprefix(
            "file:"
        ),
        "zorder_" + re.sub(r"[^0-9a-zA-Z]+", "_", sf_dir.strip("/")),
    )
    shutil.rmtree(base, ignore_errors=True)
    # the bucketed write and the driver stats row are independent
    # (optimization r19, guide §2.6) - the stats job back-fills the
    # write's tail; afterwards the three certification reads (both
    # envelope collects and the read-back checksum) are mutually
    # independent too and run overlapped
    res = {}

    def _write():
        (
            laid.select("event_id", "user_id", "day", "zb")
            .repartition("zb")
            .write.partitionBy("zb")
            .parquet(base)
        )

    def _st():
        res["st"] = stats.collect()[0]

    _overlapped(spark, _write, _st)
    st = res["st"]
    rb = spark.read.parquet(base)
    probes = {
        "user_id": st["umin"] + (st["umax"] - st["umin"]) // 2,
        "day": st["dmin"] + (st["dmax"] - st["dmin"]) // 2,
    }

    # each envelope is <= ZORDER_BUCKETS rows - collect ONCE and count
    # driver-side rather than re-running the groupBy per probe (bounded
    # by construction; 6 redundant jobs otherwise)
    def _env(layout, frame, bucket_col):
        def run():
            res[layout] = zo.bucket_envelopes(
                frame, bucket_col, ["user_id", "day"]
            ).collect()

        return run

    def _rb_sum():
        res["rb_sum"] = rb.agg(F.sum("event_id")).collect()[0][0]

    _overlapped(
        spark, _env("zorder", rb, "zb"), _env("rangesort", laid, "sb"), _rb_sum
    )
    env = {"zorder": res["zorder"], "rangesort": res["rangesort"]}
    n_dirs = sum(1 for e in os.scandir(base) if e.name.startswith("zb="))
    files_ok = n_dirs == len(env["zorder"])
    # the source side of the checksum rode the stats pass (esum)
    checksum_ok = res["rb_sum"] == st["esum"]
    out = []
    for layout, rows in env.items():
        for dim, probe in probes.items():
            nt = sum(
                1 for r in rows if r[f"min_{dim}"] <= probe <= r[f"max_{dim}"]
            )
            out.append((layout, dim, len(rows), nt, files_ok, checksum_ok))
    return spark.createDataFrame(
        out,
        "layout string, probe_dim string, n_buckets long, n_touched long, "
        "files_ok boolean, checksum_ok boolean",
    ).orderBy("layout", "probe_dim")


def events_markov(spark, sf_dir):
    """First-order user-journey transition matrix - the Markov summary
    product analytics derives funnels and next-step prediction from: for
    each user's event sequence (ordered by (ts, event_id) - the
    deterministic total order), count consecutive (src -> dst) event-type
    transitions and normalize per source state. Output one row per
    observed transition: (src_type, dst_type, n, p_r) with
    p_r = ROUND(n / outgoing(src), 6).

    Scale shape: one lag window per user partition (users are the
    natural partition key; no global window anywhere), then a
    25-cell-bounded aggregation that combines map-side; the per-source
    normalization joins the 5-row outgoing totals broadcast-style."""
    from ..functions.time import epoch_us
    from pyspark.sql.window import Window

    ev = load_tables(spark, sf_dir)["events"].select(
        "user_id", "event_type", epoch_us(F.col("ts")).alias("us"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    steps = ev.select(
        F.lag("event_type").over(w).alias("src_type"),
        F.col("event_type").alias("dst_type"),
    ).where(F.col("src_type").isNotNull())
    counts = steps.groupBy("src_type", "dst_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    totals = counts.groupBy("src_type").agg(F.sum("n").alias("tot"))
    return (
        counts.join(F.broadcast(totals), "src_type")
        .select(
            "src_type", "dst_type", "n",
            F.round(F.col("n") / F.col("tot"), 6).alias("p_r"),
        )
        .orderBy("src_type", "dst_type")
    )


def events_scaffold(spark, sf_dir):
    """Date-spine densification with forward fill - the warehouse
    scaffold every per-entity daily rollup needs: the sparse event
    stream becomes a DENSE (user x day) grid over the corpus date range,
    missing days carry n_events = 0 and the user's
    last-observation-carried-forward value (NULL before the first
    observation). Per-day 'last' is deterministic: max_by over the
    (epoch, event_id) struct breaks timestamp ties by event id.

    Scale shape: the spine is |users| x |days| - generated by one
    explode of an arithmetic sequence against the (broadcast) 1-row
    date range, never a cartesian of two scans; the daily aggregate
    combines map-side; the forward fill is one window per user ordered
    by day (a rows-frame last(ignorenulls), O(1) state per row). At
    100 TB the spine is the SMALL side - entities x days, not events."""
    from ..functions.time import epoch_us
    from pyspark.sql.window import Window

    ev = load_tables(spark, sf_dir)["events"]
    day = (epoch_us(F.col("ts")) / 86_400_000_000).cast("long")
    evd = ev.select(
        "user_id", day.alias("day"), "value",
        epoch_us(F.col("ts")).alias("us"), "event_id",
    )
    rng = evd.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine = (
        evd.select("user_id").distinct()
        .crossJoin(F.broadcast(rng))
        .select(
            "user_id",
            F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("day"),
        )
    )
    daily = evd.groupBy("user_id", "day").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max_by("value", F.struct("us", "event_id")).alias("day_last"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id", "day",
            F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
            F.round(
                F.last("day_last", ignorenulls=True).over(w), 6
            ).alias("ffill_r"),
        )
        .orderBy("user_id", "day")
    )


def events_attribution(spark, sf_dir):
    """Last-touch attribution as a BUCKETIZED interval join - the batch
    twin of stream_join with the plan a 100 TB range join needs: every
    click joins candidate views through the composite equi key
    (user_id, hour_bucket) - clicks exploded to their two candidate
    buckets (b-1, b), views keyed by their own bucket - then the exact
    [0, 1h] predicate filters and a per-click window keeps the latest
    view. With only the user_id equi key, a sort-merge join runs an
    n_views x n_clicks inner loop PER USER - quadratic on hot keys (the
    one-power-user problem); the hour bucket in the key caps the blowup
    at one hour of history per probe regardless of how hot the user is.
    The plan is asserted free of BroadcastNestedLoop/Cartesian and the
    join key is pinned to include the bucket. Tie-breaks (equal view
    timestamps) resolve by view event_id, so output is deterministic:
    (click_id, user_id, click_us, view_us, lag_us), one row per
    attributed click."""
    from ..functions.time import epoch_us
    from pyspark.sql.window import Window

    ev = load_tables(spark, sf_dir)["events"]
    hour = 3_600_000_000
    views = ev.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        epoch_us(F.col("ts")).alias("vus"),
    ).withColumn("vb", (F.col("vus") / hour).cast("long"))
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id"),
        F.col("event_id").alias("click_id"),
        epoch_us(F.col("ts")).alias("cus"),
    ).withColumn(
        "vb",
        F.explode(
            F.array(
                (F.col("cus") / hour).cast("long") - 1,
                (F.col("cus") / hour).cast("long"),
            )
        ),
    )
    pairs = clicks.join(
        views,
        (clicks["user_id"] == views["v_user"]) & (clicks["vb"] == views["vb"]),
    ).where(
        (F.col("cus") >= F.col("vus")) & (F.col("cus") - F.col("vus") <= hour)
    )
    best = pairs.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("click_id").orderBy(
                F.desc("vus"), F.asc("view_id")
            )
        ),
    ).where(F.col("rk") == 1)
    return best.select(
        "click_id", "user_id", "cus", F.col("vus").alias("view_us"),
        (F.col("cus") - F.col("vus")).alias("lag_us"),
    ).withColumnRenamed("cus", "click_us").orderBy("user_id", "click_us", "click_id")


def stream_join(spark, sf_dir):
    """Watermarked STREAM-STREAM interval join - the one Structured
    Streaming join shape with two-sided state: every 'click' is
    attributed to the same user's 'view' events in the preceding hour.
    Both sides carry an event-time watermark and the join condition
    carries the time-range bound, which together let the engine EVICT
    view-side state older than (watermark - 1 hour) and click-side state
    older than the watermark - the bounded-state contract that makes
    stream-stream joins runnable forever at 100 TB (an unbounded join
    would buffer both streams whole). Inner join + append mode emits
    exactly the matched pairs, so the final sink equals the batch
    interval join and the DuckDB range-join oracle checks it exactly -
    the strongest check a streaming query can get.

    Scale notes: the equality key (user_id) routes both streams through
    one exchange each; the range predicate prunes within the keyed state
    store, not via a cartesian. At sf the pair table is hundreds of rows;
    the memory sink is a test harness stand-in for a real append sink."""
    from ..functions.time import epoch_us

    load_tables(spark, sf_dir)  # applies session confs (nanosAsLong)
    sink = f"stream_join_{next(_STREAM_SEQ)}"

    def typed(kind, alias_ts):
        return _stream_events(spark, sf_dir).where(
            F.col("event_type") == kind
        ).select(F.col("user_id"), F.col("ts").alias(alias_ts))

    views = typed("view", "view_ts").withWatermark("view_ts", "2 hours")
    clicks = (
        typed("click", "click_ts")
        .withColumnRenamed("user_id", "c_user_id")
        .withWatermark("click_ts", "2 hours")
    )
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            views.join(
                clicks,
                F.expr(
                    "user_id = c_user_id AND "
                    "click_ts >= view_ts AND "
                    "click_ts <= view_ts + INTERVAL 1 HOUR"
                ),
            )
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _drain(q)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return (
        spark.table(sink)
        .select(
            "user_id",
            epoch_us("view_ts").alias("view_us"),
            epoch_us("click_ts").alias("click_us"),
            (epoch_us("click_ts") - epoch_us("view_ts")).alias("lag_us"),
        )
        .orderBy("user_id", "view_us", "click_us")
    )


# --- pipeline: sampling / splitting / curation ---------------------------


def pipe_split(spark, sf_dir):
    """Deterministic train/val/test assignment - pure projection, and the
    oracle recomputes the identical md5-bucket assignment in SQL."""
    return (
        sampling.hash_split(_docs(spark, sf_dir), SPLIT_FRACTIONS)
        .select("doc_id", "split")
        .orderBy("doc_id")
    )


def pipe_domain_mix(spark, sf_dir):
    """Per-source keep fractions (domain mixing) - a deterministic filter."""
    return (
        sampling.stratified_sample(
            _docs(spark, sf_dir), MIX_FRACTIONS, default_fraction=MIX_DEFAULT
        )
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


def pipe_curation(spark, sf_dir):
    """End-to-end corpus curation: quality filter -> exact-dedup keep-one ->
    split assignment -> per (split, source) counts. Composes three operator
    families into the table a training run actually consumes."""
    docs = _docs(spark, sf_dir)
    good = (
        textquality.quality_scores(docs)
        .where(F.col("quality") >= CURATION_MIN_QUALITY)
        .select("doc_id")
    )
    reps = dedup.exact_dedup(docs).select(F.col("keep_id").alias("doc_id"))
    kept = docs.join(good, "doc_id", "left_semi").join(reps, "doc_id", "left_semi")
    return (
        sampling.hash_split(kept, SPLIT_FRACTIONS)
        .groupBy("split", "source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("split", "source")
    )


def pipe_funnel(spark, sf_dir):
    """Curation-funnel observability: per-stage survivor counts for the
    standard corpus-cleaning chain - quality filter, then exact dedup
    (min-id representative per md5 among survivors), then near-dup drop
    (docs dominated by a smaller-id jaccard partner among survivors).
    Pipelines at 100 TB live and die by this report (where did my tokens
    go?); each stage row is (stage, name, n_in, n_kept) with n_in equal
    to the previous stage's n_kept, so the funnel is self-auditing. Each
    stage applies to the PREVIOUS stage's survivors - unlike
    pipe_curation, which intersects independent filters - so the counts
    attribute every dropped doc to exactly one stage.

    Execution shape: the COUNTS all read tiny id-frames (survivor doc_id
    sets, localCheckpoint-ed - a few bytes/doc), the one text-carrying
    frame (s2) is referenced exactly once (by exact_dedup), and the
    near-dup stage reads the session-shared full-corpus shingle index
    (see the inline note), so nothing corpus-sized is recomputed per
    consumer or checkpointed; the corpus is re-scanned per stage through
    the pruned parquet scan, the same stage-boundary trade a 100 TB run
    makes with scratch manifests."""
    docs = _docs(spark, sf_dir)
    total = docs.select("doc_id")
    good_ids = (
        textquality.quality_scores(docs)
        .where(F.col("quality") >= CURATION_MIN_QUALITY)
        .select("doc_id")
        .localCheckpoint(eager=False)
    )
    s2 = docs.join(good_ids, "doc_id", "left_semi")
    s3_ids = (
        dedup.exact_dedup(s2)
        .select(F.col("keep_id").alias("doc_id"))
        .localCheckpoint(eager=False)
    )
    # near-dup pairs come from the FULL-corpus index filtered to surviving
    # endpoints - identical to shingling the survivors (jaccard is
    # pairwise and the prefix filter is recall-exact under ANY global df
    # order), but it reuses the session's one memoized shingle
    # materialization instead of building a second index over the
    # filtered corpus (measured: the survivor-only index cost ~5 s at
    # sf0.1 with zero reuse). A 100 TB pipeline makes the same call: the
    # corpus-wide pair set already exists from its dedup stage.
    pairs = dedup.ngram_jaccard_pairs(docs, JACCARD_THRESHOLD)
    dominated = (
        pairs.join(s3_ids.select(F.col("doc_id").alias("id_a")), "id_a", "left_semi")
        .join(s3_ids.select(F.col("doc_id").alias("id_b")), "id_b", "left_semi")
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    s4_ids = s3_ids.join(dominated, "doc_id", "left_anti")

    def row(stage, name, df_in, df_kept):
        n_in = df_in.agg(F.count(F.lit(1)).cast("long").alias("n_in"))
        n_kept = df_kept.agg(F.count(F.lit(1)).cast("long").alias("n_kept"))
        return n_in.crossJoin(n_kept).select(
            F.lit(stage).cast("long").alias("stage"),
            F.lit(name).alias("name"),
            "n_in",
            "n_kept",
        )

    return (
        row(1, "quality", total, good_ids)
        .unionByName(row(2, "exact_dedup", good_ids, s3_ids))
        .unionByName(row(3, "near_dup", s3_ids, s4_ids))
        .orderBy("stage")
    )


def pipe_curation_trained(spark, sf_dir):
    """The CCNet composition (Wenzek et al. 2020) with TRAINED filters -
    VERDICT r14 #4: production pipelines filter with trained models, not
    only heuristics, and this funnel chains the repo's two trained text
    models into the curation chain pipe_funnel runs with heuristics.
    Stages (each applying to the previous stage's survivors, every
    dropped doc attributed to exactly one stage):

      1 nb_lang:     trained multinomial-NB language/quality agreement
                     (operators/nbayes.py, the fastText-style filter) -
                     keep docs whose prediction matches the recorded
                     lang; NULL-lang docs cannot be certified and drop.
      2 lm_ppl:      corpus-trained add-one bigram-LM surprisal
                     (textquality.lm_bigram_scores, the CCNet perplexity
                     bucket): keep docs at or below their language's
                     median round-6 nll among stage-1 survivors (the
                     head+middle buckets); docs with < 2 tokens have no
                     defined score and drop.
      3 exact_dedup: min-id representative per md5(lower(text)).
      4 near_dup:    drop docs dominated by a smaller-id Jaccard >= 0.8
                     partner.

    Execution shape (pipe_funnel's discipline): survivor id-frames are
    lazily localCheckpoint-ed (bytes per doc); the near-dup stage reads
    the session-shared full-corpus pair index filtered to surviving
    endpoints (recall-exact - jaccard is pairwise); the per-lang LM
    median is an exact percentile over a |langs|-bounded group set,
    broadcast back; the eight stage counts land in ONE labeled-union
    aggregation (_funnel_report). Both trained models are the
    bounded-trainer artifacts the 100 TB brief requires: NB's driver
    round-trip is |labels|+1 rows, the LM trains and scores in one
    corpus-linear pipeline with no driver collect. The two scoring
    frames are the session-shared _curation_scores memo (r16), so the
    calibration sweep and this funnel train each model once; the stage
    frames themselves are the session-shared _trained_stages memo
    (r17), shared with the filter-order ablation pipe_stage_order."""
    return _funnel_report(spark, _trained_stages(spark, sf_dir))


def _trained_stages(spark, sf_dir):
    """pipe_curation_trained's stage list [(name, in_frame, kept_frame)]
    - the FILTER-FIRST order of the trained funnel (nb_lang -> lm_ppl ->
    exact_dedup -> near_dup), session-memoized per (session, sf_dir)
    like _refinedweb_stages so the trained report and the filter-order
    ablation (pipe_stage_order) read one materialization. Frames are
    lazy localCheckpoint id-frames (bytes per doc). Registry kind
    "trained_stages"."""
    return artifacts.get_or_build(
        spark, "trained_stages", sf_dir, lambda: _build_trained_stages(spark, sf_dir)
    )


def _build_trained_stages(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    total = docs.select("doc_id")
    lm, s1_ids = _curation_scores(spark, sf_dir)
    s1_lm = (
        docs.select("doc_id", "lang")
        .join(s1_ids, "doc_id", "left_semi")
        .join(lm, "doc_id")
    )
    med = s1_lm.groupBy("lang").agg(
        F.round(F.expr("percentile(nll_r, 0.5)"), 6).alias("med_r")
    )
    s2_ids = (
        s1_lm.join(F.broadcast(med), "lang")
        .where(F.col("nll_r") <= F.col("med_r"))
        .select("doc_id")
        .localCheckpoint(eager=False)
    )
    s2_docs = docs.join(s2_ids, "doc_id", "left_semi")
    s3_ids = (
        dedup.exact_dedup(s2_docs)
        .select(F.col("keep_id").alias("doc_id"))
        .localCheckpoint(eager=False)
    )
    pairs = dedup.ngram_jaccard_pairs(docs, JACCARD_THRESHOLD)
    dominated = (
        pairs.join(s3_ids.select(F.col("doc_id").alias("id_a")), "id_a", "left_semi")
        .join(s3_ids.select(F.col("doc_id").alias("id_b")), "id_b", "left_semi")
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    s4_ids = s3_ids.join(dominated, "doc_id", "left_anti").localCheckpoint(
        eager=False
    )
    return [
        ("nb_lang", total, s1_ids),
        ("lm_ppl", s1_ids, s2_ids),
        ("exact_dedup", s2_ids, s3_ids),
        ("near_dup", s3_ids, s4_ids),
    ]


def _dedup_first_stages(spark, sf_dir):
    """The trained funnel with the two dedup stages moved FIRST
    (exact_dedup -> near_dup -> nb_lang -> lm_ppl): the other arm of the
    filter-order ablation. The trained MODELS are identical in both
    orders (the session-shared _curation_scores frames, trained once on
    the raw corpus - the ablation moves the GATES, not the training);
    what genuinely shifts is (a) which duplicates' representatives reach
    the filters and (b) the per-language surprisal MEDIAN, recomputed
    among the docs that actually reach the lm_ppl stage - exactly the
    calibration drift the published pipelines disagree about. NOT
    memoized: its only consumer is pipe_stage_order, which is itself one
    report job."""
    docs = _docs(spark, sf_dir)
    total = docs.select("doc_id")
    lm, agree = _curation_scores(spark, sf_dir)
    b1_ids = (
        dedup.exact_dedup(docs)
        .select(F.col("keep_id").alias("doc_id"))
        .localCheckpoint(eager=False)
    )
    pairs = dedup.ngram_jaccard_pairs(docs, JACCARD_THRESHOLD)
    dominated = (
        pairs.join(b1_ids.select(F.col("doc_id").alias("id_a")), "id_a", "left_semi")
        .join(b1_ids.select(F.col("doc_id").alias("id_b")), "id_b", "left_semi")
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    b2_ids = b1_ids.join(dominated, "doc_id", "left_anti").localCheckpoint(
        eager=False
    )
    b3_ids = b2_ids.join(agree, "doc_id", "left_semi").localCheckpoint(
        eager=False
    )
    b3_lm = (
        docs.select("doc_id", "lang")
        .join(b3_ids, "doc_id", "left_semi")
        .join(lm, "doc_id")
    )
    med = b3_lm.groupBy("lang").agg(
        F.round(F.expr("percentile(nll_r, 0.5)"), 6).alias("med_r")
    )
    b4_ids = (
        b3_lm.join(F.broadcast(med), "lang")
        .where(F.col("nll_r") <= F.col("med_r"))
        .select("doc_id")
    )
    return [
        ("exact_dedup", total, b1_ids),
        ("near_dup", b1_ids, b2_ids),
        ("nb_lang", b2_ids, b3_ids),
        ("lm_ppl", b3_ids, b4_ids),
    ]


def pipe_stage_order(spark, sf_dir):
    """Filter-order ablation (VERDICT r16 #6): dedup-before-filter vs
    filter-before-dedup over the trained curation funnel - the ordering
    question the published pipelines answer differently (C4 dedups after
    its heuristics; CCNet dedups before its LM filter; FineWeb measured
    the interaction and shipped filter-first). One labeled-union report
    (the _funnel_report discipline) over BOTH orders' eight stage
    frames: (ord, stage, name, n_in, n_kept), filter_first = the
    pipe_curation_trained chain read from its session memo, dedup_first
    = the same four gates re-chained with dedup leading. The trained
    models are shared (trained once, _curation_scores); the orders
    differ because (a) dedup-first picks min-id representatives BEFORE
    quality gating, so a duplicate group whose representative fails a
    filter loses the whole group, and (b) the per-language surprisal
    median is calibrated on each order's own lm_ppl-stage population.
    Both end-budgets land in one report, so the doc/token cost of the
    ordering choice is a single-query read.

    Scale shape: every frame is an id-frame semi-join or the memoized
    pair index (no new index builds - the dedup machinery is the
    session-shared one); the report is ONE labeled-union aggregation
    over 10 distinct bounded frames."""
    a = [
        (f"filter_first:{n}", fin, fkept)
        for n, fin, fkept in _trained_stages(spark, sf_dir)
    ]
    b = [
        (f"dedup_first:{n}", fin, fkept)
        for n, fin, fkept in _dedup_first_stages(spark, sf_dir)
    ]
    rep = _funnel_report(spark, a + b)
    return rep.select(
        F.split(F.col("name"), ":")[0].alias("ord"),
        ((F.col("stage") - 1) % 4 + 1).cast("long").alias("stage"),
        F.split(F.col("name"), ":")[1].alias("name"),
        "n_in",
        "n_kept",
    ).orderBy("ord", "stage")


DUMP_COUNT = 5


def pipe_dump_dedup(spark, sf_dir):
    """Per-dump (per-crawl-snapshot) MinHash dedup ablation - FineWeb's
    headline curation finding (Penedo et al. 2024 §4.4: MinHash applied
    WITHIN each crawl snapshot beats global cross-snapshot dedup on
    downstream quality, because global dedup preferentially deletes the
    re-crawled - often higher-quality - content). The synthetic corpus
    carries no snapshot column, so the dump is deterministically DERIVED
    (the pipe_url_filter fixture discipline): dump = doc_id % 5, the
    round-robin assignment an interleaved multi-crawl ingest produces,
    replayed verbatim by the oracle.

    One pass over the established minhash_lsh rung (the session-shared
    shingle/signature/pair machinery - no new index): global mode drops
    every doc dominated by a smaller-id Jaccard >= 0.8 partner ANYWHERE;
    per-dump mode drops only docs dominated by a SAME-dump partner - and
    because the dump is doc_id-derived, the same-dump predicate is a
    pure projection on the pair frame (id_a % 5 == id_b % 5), no join.
    Output: one row per dump with doc and raw-token budgets under both
    modes plus round-6 token retention per mode - per-dump keeps a
    superset (cross-dump duplicates survive), so kept_dump >= kept_global
    row-wise (suite-pinned, with a constructed cross-dump-duplicate
    corpus where the verdicts provably differ).

    Scale shape: candidate generation is the banded-LSH rung (never
    all-pairs, corpus-linear per the LINEARITY study); the ablation adds
    one narrow projection + two distinct-id frames + one 5-group
    aggregate on top - at 100 TB the pair frame is the dominant term and
    it is shared with every other dedup query in the battery."""
    from ..functions.texthash import words

    d = F.col("doc_id")
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        (d % DUMP_COUNT).cast("int").alias("dump"),
        F.size(words(F.col("text"))).cast("long").alias("n_tok"),
    )
    # the session-memoized minhash pair frame (optimization r19) -
    # identical call shape to dedup_minhash_lsh's, now computed once
    pairs = _method_pairs(spark, sf_dir, "minhash_lsh").select(
        "id_a", "id_b"
    )
    dom_global = (
        pairs.select(F.col("id_b").alias("doc_id"))
        .distinct()
        .select("doc_id", F.lit(True).alias("_dg"))
    )
    dom_dump = (
        pairs.where(F.col("id_a") % DUMP_COUNT == F.col("id_b") % DUMP_COUNT)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
        .select("doc_id", F.lit(True).alias("_dd"))
    )
    keep_g = F.col("_dg").isNull()
    keep_d = F.col("_dd").isNull()
    zero = F.lit(0).cast("long")
    return (
        docs.join(dom_global, "doc_id", "left")
        .join(dom_dump, "doc_id", "left")
        .groupBy("dump")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(keep_g, 1).otherwise(0)).cast("long").alias(
                "n_kept_global"
            ),
            F.sum(F.when(keep_d, 1).otherwise(0)).cast("long").alias(
                "n_kept_dump"
            ),
            F.sum("n_tok").cast("long").alias("tok_total"),
            F.sum(F.when(keep_g, F.col("n_tok")).otherwise(zero))
            .cast("long")
            .alias("tok_kept_global"),
            F.sum(F.when(keep_d, F.col("n_tok")).otherwise(zero))
            .cast("long")
            .alias("tok_kept_dump"),
        )
        .select(
            "*",
            F.round(F.col("tok_kept_global") / F.col("tok_total"), 6).alias(
                "tok_frac_global"
            ),
            F.round(F.col("tok_kept_dump") / F.col("tok_total"), 6).alias(
                "tok_frac_dump"
            ),
        )
        .orderBy("dump")
    )


def _nb_preds(spark, sf_dir):
    """The trained NB classifier's prediction frame (doc_id, lang, pred,
    score_fp), session-memoized per (session, sf_dir) - the r16
    curation-scores sharing win applied to the OTHER trained model:
    text_nb_classify / text_nb_eval / pipe_classifier_agreement /
    pipe_lr_agreement / _curation_scores all consumed their own
    nb_classify plan (each re-collecting the bounded stats and
    re-scoring the corpus, ~2 s per query at sf0.1); one lazy
    localCheckpoint pays it once per session. Memory is bytes per doc
    (two strings + one int64). Registry kind "nb_preds"."""
    from ..operators import nbayes

    return artifacts.get_or_build(
        spark,
        "nb_preds",
        sf_dir,
        lambda: nbayes.nb_classify(
            _docs(spark, sf_dir), NB_MIN_COUNT
        ).localCheckpoint(eager=False),
    )


def _lr_preds(spark, sf_dir):
    """The trained hashed-feature linear classifier's prediction frame
    (doc_id, lang, pred, score), session-memoized per (session, sf_dir)
    - trained once (operators/linear.perceptron_classify: LR_STEPS
    full-batch integer subgradient steps, driver holds only the D x L
    weight table) and shared by the LR funnel and the agreement row.
    Registry kind "lr_preds"."""
    from ..operators import linear

    return artifacts.get_or_build(
        spark,
        "lr_preds",
        sf_dir,
        lambda: (
            linear.perceptron_classify(_docs(spark, sf_dir))
            .select(
                F.col("id").alias("doc_id"),
                F.col("label").alias("lang"),
                "pred",
                "score",
            )
            .localCheckpoint(eager=False)
        ),
    )


def pipe_curation_lr(spark, sf_dir):
    """The trained curation funnel with the hashed-n-gram LINEAR
    classifier as its agreement gate (VERDICT r16 #8 stretch - the
    fastText-class upgrade of pipe_curation_trained's NB stage 1): keep
    docs whose linear prediction matches the recorded lang, then the
    same lm_ppl / exact_dedup / near_dup chain, medians calibrated on
    THIS gate's survivors. The trainer is operators/linear.py's bounded
    full-batch perceptron (integer-exact training, see the module
    docstring for why not softmax); the LM scores come from the
    session-shared _curation_scores memo, the near-dup stage from the
    session-shared pair index - the only new work is the LR gate itself.
    Oracle: the training steps unrolled as integer-arithmetic CTEs (the
    graph_pagerank discipline)."""
    docs = _docs(spark, sf_dir)
    total = docs.select("doc_id")
    lm, _ = _curation_scores(spark, sf_dir)
    s1_ids = (
        _lr_preds(spark, sf_dir)
        .where(F.col("pred") == F.col("lang"))
        .select("doc_id")
        .localCheckpoint(eager=False)
    )
    s1_lm = (
        docs.select("doc_id", "lang")
        .join(s1_ids, "doc_id", "left_semi")
        .join(lm, "doc_id")
    )
    med = s1_lm.groupBy("lang").agg(
        F.round(F.expr("percentile(nll_r, 0.5)"), 6).alias("med_r")
    )
    s2_ids = (
        s1_lm.join(F.broadcast(med), "lang")
        .where(F.col("nll_r") <= F.col("med_r"))
        .select("doc_id")
        .localCheckpoint(eager=False)
    )
    s2_docs = docs.join(s2_ids, "doc_id", "left_semi")
    s3_ids = (
        dedup.exact_dedup(s2_docs)
        .select(F.col("keep_id").alias("doc_id"))
        .localCheckpoint(eager=False)
    )
    pairs = dedup.ngram_jaccard_pairs(docs, JACCARD_THRESHOLD)
    dominated = (
        pairs.join(s3_ids.select(F.col("doc_id").alias("id_a")), "id_a", "left_semi")
        .join(s3_ids.select(F.col("doc_id").alias("id_b")), "id_b", "left_semi")
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    s4_ids = s3_ids.join(dominated, "doc_id", "left_anti")
    return _funnel_report(
        spark,
        [
            ("lr_lang", total, s1_ids),
            ("lm_ppl", s1_ids, s2_ids),
            ("exact_dedup", s2_ids, s3_ids),
            ("near_dup", s3_ids, s4_ids),
        ],
    )


def pipe_lr_agreement(spark, sf_dir):
    """Inter-gate agreement between the repo's two TRAINED quality
    gates - the hashed-feature linear classifier (operators/linear.py)
    and the multinomial NB (operators/nbayes.py) - as the full
    confusion matrix (pred_lr x pred_nb, n) with the round-6
    po/pe/kappa scalars broadcast onto every row: the
    pipe_classifier_agreement discipline applied to the question a
    curation team actually asks before swapping gates (how often would
    the LR gate disagree with the NB gate it replaces?). Both
    prediction frames are session-memoized; the matrix is one groupBy
    over |labels|^2 keys."""
    lr = _lr_preds(spark, sf_dir).select(
        "doc_id", F.col("pred").alias("pred_lr")
    )
    nb = _nb_preds(spark, sf_dir).select(
        "doc_id", F.col("pred").alias("pred_nb")
    )
    conf = (
        lr.join(nb, "doc_id")
        .groupBy("pred_lr", "pred_nb")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .localCheckpoint(eager=False)
    )
    return conf.crossJoin(
        F.broadcast(_kappa_scalars(conf, a="pred_lr", b="pred_nb"))
    ).orderBy("pred_lr", "pred_nb")


CURATION_SWEEP_PCTS = (25, 50, 75, 100)


def _curation_scores(spark, sf_dir):
    """The two trained-model scoring frames the curation family shares,
    session-memoized per sf_dir (r16): the corpus bigram-LM surprisal
    (doc_id, nll_r) and the NB language-agreement survivor ids - both
    lazy localCheckpoints, so pipe_curation_trained and
    pipe_curation_sweep train each model ONCE per session instead of
    once per query. Memory is bytes per doc (one double + one id).
    Registry kind "curation_scores"."""

    def build():
        lm = (
            textquality.lm_bigram_scores(_docs(spark, sf_dir))
            .select(F.col("id").alias("doc_id"), "nll_r")
            .localCheckpoint(eager=False)
        )
        agree = (
            _nb_preds(spark, sf_dir)
            .where(F.col("pred") == F.col("lang"))
            .select("doc_id")
            .localCheckpoint(eager=False)
        )
        return lm, agree

    return artifacts.get_or_build(spark, "curation_scores", sf_dir, build)


def pipe_curation_sweep(spark, sf_dir):
    """Quality-classifier calibration sweep (VERDICT r15 #7, pairs with
    pipe_curation_trained): kept-document and kept-TOKEN budgets as a
    function of the two trained-filter knobs - the NB language-agreement
    gate ON/OFF crossed with the per-language surprisal retention
    percentile (CCNet keeps the lowest-perplexity head of each
    language; this is the tuning table for where to put that cut). The
    pipe_dedup_sweep pattern applied to the trained funnel: ONE scoring
    pass, one explode over the percentile literals.

    Retention is the EXACT NEAREST-RANK prefix (text_ppl_buckets'
    discipline): per (nb_filter, lang) branch, keep the first
    ceil(pct * n / 100) docs of the (nll_r, doc_id) sort, computed as
    the integer (pct * n + 99) DIV 100 - no interpolated percentile, no
    float-op-order surface; the only floats are the final round-6
    kept fractions (one IEEE division of exact int64 sums per cell,
    identical in both engines). NULL-lang docs have no language branch
    and are excluded (the labeled contract); docs with < 2 tokens have
    no defined surprisal and are excluded (lm_bigram_scores' contract -
    both exclusions shared with pipe_curation_trained's stage 2).
    Monotonicity is structural: a larger pct keeps a superset per
    branch, so every kept count/budget is non-decreasing in pct and
    pct=100 equals the branch totals (suite-pinned).

    Scale shape: the NB classify and bigram-LM scoring are the
    established corpus-linear passes, read from the session-shared
    _curation_scores memo (trained once for the whole curation family);
    the rank windows partition BY (branch, language) - never global;
    the explode multiplies only the narrow ranked frame by |pcts|=4;
    output is 2 x 4 bounded rows."""
    from pyspark.sql import Window

    from ..functions.texthash import words

    docs = _docs(spark, sf_dir)
    lm, agree = _curation_scores(spark, sf_dir)
    base = (
        docs.where(F.col("lang").isNotNull())
        .select(
            "doc_id",
            "lang",
            F.size(words(F.col("text"))).cast("long").alias("n_tok"),
        )
        .join(lm, "doc_id")
        .localCheckpoint(eager=False)
    )
    u = base.select(F.lit(False).alias("nb_filter"), "*").unionByName(
        base.join(agree, "doc_id", "left_semi").select(
            F.lit(True).alias("nb_filter"), "*"
        )
    )
    w = Window.partitionBy("nb_filter", "lang").orderBy("nll_r", "doc_id")
    ranked = u.select(
        "nb_filter",
        "n_tok",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("nb_filter", "lang"))
        .alias("n"),
    ).localCheckpoint(eager=False)
    totals = ranked.groupBy("nb_filter").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_in"),
        F.sum("n_tok").cast("long").alias("tok_in"),
    )
    kept = (
        ranked.select(
            "nb_filter",
            "n_tok",
            "rn",
            "n",
            F.explode(
                F.array(*[F.lit(p) for p in CURATION_SWEEP_PCTS])
            ).alias("pct"),
        )
        .where(F.col("rn") <= F.expr("(pct * n + 99) DIV 100"))
        .groupBy("nb_filter", "pct")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs_kept"),
            F.sum("n_tok").cast("long").alias("tok_kept"),
        )
    )
    return (
        kept.join(F.broadcast(totals), "nb_filter")
        .select(
            "nb_filter",
            F.col("pct").cast("long").alias("pct"),
            "n_docs_in",
            "n_docs_kept",
            "tok_in",
            "tok_kept",
            F.round(F.col("n_docs_kept") / F.col("n_docs_in"), 6).alias(
                "doc_frac"
            ),
            F.round(F.col("tok_kept") / F.col("tok_in"), 6).alias("tok_frac"),
        )
        .orderBy("nb_filter", "pct")
    )


def pipe_classifier_agreement(spark, sf_dir):
    """Inter-classifier agreement diagnostic: Cohen's kappa between the
    repo's two language classifiers - the TRAINED multinomial NB
    (operators/nbayes.py) and the Cavnar-Trenkle trigram-profile
    heuristic (textquality.lang_id) - the chance-corrected agreement
    statistic a labeling pipeline reports before trusting silver labels
    (kappa = (po - pe) / (1 - pe), Cohen 1960). Output: the full
    confusion matrix (pred_nb x pred_tri counts) with the round-6
    po/pe/kappa scalars broadcast onto every row.

    Float parity: po and pe are single IEEE divisions of exact integer
    sums (pe's numerator sum(row_k * col_k) stays int64-exact for any
    corpus under ~3e9 docs), combined in the same operation order as
    the SQL oracle, rounded once. Scale shape: both classifiers are the
    established corpus-linear passes; the confusion matrix is one
    groupBy over |labels|^2 keys, lazily localCheckpoint-ed for its
    four bounded consumers (the sequential-consumer rule, PLANS.md
    r14); every scalar join is a 1-row broadcast."""
    docs = _docs(spark, sf_dir)
    nb = _nb_preds(spark, sf_dir).select(
        "doc_id", F.col("pred").alias("pred_nb")
    )
    tri = textquality.lang_id(docs).select(
        "doc_id", F.col("pred_lang").alias("pred_tri")
    )
    conf = (
        nb.join(tri, "doc_id")
        .groupBy("pred_nb", "pred_tri")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .localCheckpoint(eager=False)
    )
    return conf.crossJoin(F.broadcast(_kappa_scalars(conf))).orderBy(
        "pred_nb", "pred_tri"
    )


def _kappa_scalars(conf, a="pred_nb", b="pred_tri"):
    """(po_r, pe_r, kappa_r) from an (a, b, n) confusion frame - Cohen
    1960, hand-example-pinned in tests/test_round15.py. All sums
    integer-exact; po/pe are single double divisions combined in the
    oracle's operation order, rounded once."""
    tot = conf.agg(
        F.sum("n").alias("nn"),
        F.sum(
            F.when(F.col(a) == F.col(b), F.col("n")).otherwise(F.lit(0))
        ).alias("n_agree"),
    )
    rowm = conf.groupBy(a).agg(F.sum("n").alias("rn")).withColumnRenamed(
        a, "k"
    )
    colm = conf.groupBy(b).agg(F.sum("n").alias("cn")).withColumnRenamed(
        b, "k"
    )
    pe_num = rowm.join(colm, "k").agg(
        F.coalesce(F.sum(F.col("rn") * F.col("cn")), F.lit(0)).alias("pe_num")
    )
    po_e = F.col("n_agree") / F.col("nn")
    pe_e = F.col("pe_num") / (F.col("nn").cast("double") * F.col("nn"))
    return tot.crossJoin(pe_num).select(
        F.round(po_e, 6).alias("po_r"),
        F.round(pe_e, 6).alias("pe_r"),
        F.round((po_e - pe_e) / (F.lit(1.0) - pe_e), 6).alias("kappa_r"),
    )


def pipe_pref_pairs(spark, sf_dir):
    """Preference-pair construction for DPO/RLHF-style training (Rafailov
    et al. 2023's data shape): within every (source, lang) cohort, pair
    the highest-scoring document (chosen) with the lowest-scoring one
    (rejected) under the quality model - here the heuristic
    quality_scores standing in for the reward model, the same
    composition a production pipeline runs with a trained RM. Ties
    break deterministically (chosen: doc_id ASC at equal quality;
    rejected: doc_id DESC, so an all-equal cohort still yields two
    DISTINCT endpoints); zero-margin pairs are dropped (no strict
    preference = no DPO signal); unlabeled (NULL-lang) docs are
    excluded, the NB family's labeled contract.

    Scale shape: the quality projection is narrow; both row_number
    ranks share ONE hash partitioning on (source, lang) - two sorts,
    one shuffle; the chosen/rejected frames are one row per cohort
    (bounded by the source x lang vocabulary), so the final join is a
    broadcast of cohort-sized sides, never corpus-sized."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir).where(F.col("lang").isNotNull())
    q = textquality.quality_scores(docs, keep_cols=("source", "lang")).select(
        "doc_id", "source", "lang", "quality"
    )
    wc = Window.partitionBy("source", "lang").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    wr = Window.partitionBy("source", "lang").orderBy(
        F.col("quality").asc(), F.col("doc_id").desc()
    )
    ranked = q.select(
        "source",
        "lang",
        "doc_id",
        "quality",
        F.row_number().over(wc).alias("rc"),
        F.row_number().over(wr).alias("rr"),
    )
    chosen = ranked.where(F.col("rc") == 1).select(
        "source",
        "lang",
        F.col("doc_id").alias("chosen_id"),
        F.col("quality").alias("q_chosen"),
    )
    rejected = ranked.where(F.col("rr") == 1).select(
        "source",
        "lang",
        F.col("doc_id").alias("rejected_id"),
        F.col("quality").alias("q_rejected"),
    )
    return (
        chosen.join(rejected, ["source", "lang"])
        .where(F.col("chosen_id") != F.col("rejected_id"))
        .select(
            "source",
            "lang",
            "chosen_id",
            "rejected_id",
            "q_chosen",
            "q_rejected",
            F.round(F.col("q_chosen") - F.col("q_rejected"), 6).alias("margin"),
        )
        .where(F.col("margin") > 0)
        .orderBy("source", "lang")
    )


# --- URL / domain filtering (RefinedWeb stage 0; Penedo et al. 2023 §3.1) --
#
# The synthetic corpus carries no URL column, so one is DERIVED
# deterministically from doc_id (the text_pii_scrub fixture discipline:
# both engines rebuild the identical dirty metadata, and every rule
# below has a guaranteed signal path on it). Domain cycles a 16-entry
# list with 3 blocklisted domains at positions 2/6/12; the first path
# segment cycles an 11-word list containing 3 banned words; doc_id%23
# appends an 18-digit tracking id (digit-ratio rule); doc_id%19 appends
# a 68-char section chain (length rule).
_URL_DOMAINS = [
    "archive-docs.org", "best-casino-777.com", "city-library.net",
    "daily-news-site.com", "edu-lectures.edu", "free-prize-claim.net",
    "garden-forum.org", "home-cooking.net", "indie-music.com",
    "journal-open.org", "kids-stories.net", "live-webcam-chat.com",
    "maps-service.com", "news-world.org", "open-data.gov",
    "photo-blog.net",
]
_URL_BLOCKLIST = (
    "best-casino-777.com", "free-prize-claim.net", "live-webcam-chat.com",
)
_URL_PATH_WORDS = [
    "article", "recipes", "poker", "travel", "music", "webcam",
    "science", "escort", "sports", "weather", "history",
]
# RefinedWeb's soft URL word scoring: curated words carry severity
# weights and the URL is flagged when the summed score crosses a bar.
# Weights are INTEGER TENTHS (never a float sum): escort 3.0, webcam
# 2.5, poker/casino 2.0, prize 1.5; bar = 2.0. "casino"/"prize" also
# occur inside two blocklisted domains, so blocklist and word-score
# attribution overlap on those residues - deliberately: the rules are
# independent flags, not a sequential funnel.
_URL_BANNED_TENTHS = (
    ("escort", 30), ("webcam", 25), ("poker", 20),
    ("casino", 20), ("prize", 15),
)
_URL_SCORE_BAR_TENTHS = 20
_URL_MAX_LEN = 80
_URL_DIGIT_FRAC = 0.2


def _doc_urls(spark, sf_dir):
    """(doc_id, url, per-rule flags, keep) for every document - the
    shared frame pipe_url_filter reports and _refinedweb_stages consumes
    as stage 0. One narrow codegen projection over the doc_id column:
    zero shuffles, zero UDFs, corpus-linear."""
    docs = _docs(spark, sf_dir)
    did = F.col("doc_id")
    domains = F.array([F.lit(s) for s in _URL_DOMAINS])
    pwords = F.array([F.lit(s) for s in _URL_PATH_WORDS])
    domain = F.element_at(domains, (did % 16 + 1).cast("int"))
    url = F.concat(
        F.lit("https://"),
        domain,
        F.lit("/"),
        F.element_at(pwords, (did % 11 + 1).cast("int")),
        F.lit("/item"),
        did.cast("string"),
        F.when(
            did % 23 == 0,
            F.concat(
                F.lit("/"),
                F.lpad((did % 1_000_000_000).cast("string"), 18, "7"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 19 == 0,
            F.concat(F.lit("/"), F.repeat(F.lit("long-section-name"), 4)),
        ).otherwise(F.lit("")),
    )
    base = docs.select("doc_id", domain.alias("domain"), url.alias("url"))
    u = F.col("url")
    n_digit = F.length(u) - F.length(F.regexp_replace(u, "[0-9]", ""))
    score = None
    for w, tenths in _URL_BANNED_TENTHS:
        term = F.when(u.contains(w), F.lit(tenths)).otherwise(F.lit(0))
        score = term if score is None else score + term
    flagged = base.select(
        "doc_id",
        "url",
        F.col("domain").isin(*_URL_BLOCKLIST).alias("f_blocklist"),
        score.cast("long").alias("score_tenths"),
        F.round(n_digit / F.length(u), 6).alias("digit_frac_r"),
        F.length(u).cast("long").alias("url_len"),
    )
    return flagged.select(
        "doc_id",
        "url",
        "f_blocklist",
        (F.col("score_tenths") >= _URL_SCORE_BAR_TENTHS).alias("f_words"),
        (F.col("digit_frac_r") > _URL_DIGIT_FRAC).alias("f_digits"),
        (F.col("url_len") > _URL_MAX_LEN).alias("f_length"),
        "score_tenths",
        "digit_frac_r",
        "url_len",
    ).select(
        "*",
        (
            ~F.col("f_blocklist")
            & ~F.col("f_words")
            & ~F.col("f_digits")
            & ~F.col("f_length")
        ).alias("keep"),
    )


def pipe_url_filter(spark, sf_dir):
    """URL/domain filtering - the stage every production crawl pipeline
    runs BEFORE touching text (RefinedWeb stage 0, Penedo et al. 2023
    §3.1): an aggregated domain blocklist plus a soft word-score over
    the URL string, complemented by the two structural heuristics the
    crawl-curation literature pairs with it (digit-ratio and URL-length
    caps). Per-doc output with INDEPENDENT per-rule flags (f_blocklist /
    f_words / f_digits / f_length), the integer-tenths word score, the
    round-6 digit fraction, and the combined keep verdict - per-rule
    attribution, so an operator can read which rule is doing the work
    before composing the funnel (pipe_refinedweb consumes keep as its
    stage 1).

    Scale shape: URL synthesis + all four rules are ONE narrow codegen
    projection keyed by doc_id (no text read, no shuffle, no UDF); at
    crawl scale the blocklist (~4.6M domains in the published pipeline)
    would become a broadcast semi-join against a domain dimension - here
    it is an IN-list over the 3-entry fixture blocklist, same plan
    class."""
    return _doc_urls(spark, sf_dir).orderBy("doc_id")


#: five weekly crawl snapshots (epoch seconds, 2024-01-01 + k weeks) -
#: the derived crawl_ts pipe_url_dedup keys keep-latest on
_CRAWL_EPOCH = 1_704_067_200
_CRAWL_WEEK = 604_800


def _crawl_urls(spark, sf_dir):
    """(doc_id, url, crawl_ts): the derived RAW crawl-record fixture for
    URL-grain dedup - every 3 consecutive doc_ids are the same logical
    page (group = doc_id div 3) fetched in different crawl snapshots,
    and each fetch's raw URL varies along the channels real crawls
    produce: scheme http/https (doc_id % 2), a www. prefix (% 3), an
    UPPERCASED host (% 5), tracking params utm_*/ref in varying
    positions relative to a REAL page= param (group % 4 carries one),
    and a trailing slash (% 6, only when no query string). All raw URLs
    are DISTINCT strings - the scheme (%2) and www (%3) channels jointly
    separate every pair of group members (3g vs 3g+1 and 3g+1 vs 3g+2
    differ in scheme parity; 3g vs 3g+2 share parity but differ in the
    %3 www channel) - so exact string dedup keeps everything and only
    canonicalization collapses them. crawl_ts = epoch + ((doc_id*7+3) %
    5) weeks, distinct within every group. Pure codegen over doc_id: no
    text read, no shuffle, no UDF; the oracle replays the identical
    derivation."""
    docs = _docs(spark, sf_dir)
    did = F.col("doc_id")
    g = F.floor(did / 3).cast("long")
    domains = F.array([F.lit(s) for s in _URL_DOMAINS])
    pwords = F.array([F.lit(s) for s in _URL_PATH_WORDS])
    host0 = F.element_at(domains, (g % 16 + 1).cast("int"))
    host = F.when(did % 5 == 0, F.upper(host0)).otherwise(host0)
    page = F.concat(F.lit("page="), (g % 9 + 1).cast("string"))
    qs = (
        F.when(
            (g % 4 == 0) & (did % 11 == 0),
            F.concat(F.lit("?utm_campaign=crawl&"), page),
        )
        .when(
            (g % 4 == 0) & (did % 2 == 1),
            F.concat(F.lit("?"), page, F.lit("&utm_source=feed")),
        )
        .when(g % 4 == 0, F.concat(F.lit("?"), page))
        .when(did % 2 == 1, F.lit("?utm_source=feed"))
        .when(did % 7 == 0, F.lit("?ref=social"))
        .otherwise(F.lit(""))
    )
    url = F.concat(
        F.when(did % 2 == 0, F.lit("https://")).otherwise(F.lit("http://")),
        F.when(did % 3 == 0, F.lit("www.")).otherwise(F.lit("")),
        host,
        F.lit("/"),
        F.element_at(pwords, (g % 11 + 1).cast("int")),
        F.lit("/page"),
        g.cast("string"),
        F.when((did % 6 == 0) & (qs == F.lit("")), F.lit("/")).otherwise(
            F.lit("")
        ),
        qs,
    )
    crawl_ts = (F.lit(_CRAWL_EPOCH) + ((did * 7 + 3) % 5) * _CRAWL_WEEK).cast(
        "long"
    )
    return docs.select(
        "doc_id", url.alias("url"), crawl_ts.alias("crawl_ts")
    )


def canonical_url(url_col):
    """Crawl-grade URL canonicalization as one Java-portable regex chain
    (the text_pii_scrub discipline - every pattern runs identically
    under Spark's Java regex and DuckDB's RE2): lowercase, strip the
    fragment (same fetched resource), strip the scheme and a leading
    www., remove tracking params (utm_*, ref, fbclid) wherever they sit
    in the query string while PRESERVING real params, and strip a
    trailing slash. Every tracking-param pattern is ANCHORED to its
    ?/& separator, so a real param whose NAME merely contains a
    tracking name (href=, xref=) is untouched; the three anchored forms
    cover mid/tail (&-separated, dropped with the &), leading-with-
    follower (?tracking&real -> ?real), and whole-query (?tracking ->
    ''). The fixture paths are already lowercase, so the whole-string
    lower() is exactly the host-only lowercasing real canonicalizers
    do."""
    c = F.lower(url_col)
    c = F.regexp_replace(c, r"#.*$", "")
    c = F.regexp_replace(c, r"^https?://", "")
    c = F.regexp_replace(c, r"^www\.", "")
    c = F.regexp_replace(c, r"&(?:utm_[a-z]+|ref|fbclid)=[^&#]*", "")
    c = F.regexp_replace(c, r"\?(?:utm_[a-z]+|ref|fbclid)=[^&#]*&", "?")
    c = F.regexp_replace(c, r"\?(?:utm_[a-z]+|ref|fbclid)=[^&#]*$", "")
    return F.regexp_replace(c, r"/$", "")


def pipe_url_dedup(spark, sf_dir):
    """URL-grain crawl dedup - the stage UPSTREAM of all content dedup
    in every published web pipeline (RefinedWeb §3.1 runs exactly this
    before the Gopher rules; VERDICT r17 #6): canonicalize each raw
    crawl URL (canonical_url's regex chain) and keep the LATEST crawl
    per canonical URL (max crawl_ts, doc_id as the deterministic
    tie-break). Output: one row per canonical URL with the crawl count
    and the kept fetch's identity - on the fixture every logical page
    was fetched up to 3 times under distinct raw strings, so the
    collapse is pure canonicalization work (exact string dedup would
    keep everything; suite-pinned).

    Scale shape: URL synthesis + canonicalization are one narrow
    codegen projection (no UDF); keep-latest is a single groupBy on the
    canonical key with max_by - map-side partial aggregation, one
    shuffle on the canonical hash, no window sort; at crawl scale
    (~1e10 fetch records) this is the cheapest possible shape because
    the canonical key is high-cardinality and unskewed. Oracle replays
    the derivation and the regex chain, keep-latest as a
    row_number window."""
    raw = _crawl_urls(spark, sf_dir)
    return (
        raw.select(
            canonical_url(F.col("url")).alias("canon_url"),
            "doc_id",
            "crawl_ts",
        )
        .groupBy("canon_url")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_crawls"),
            F.max(F.struct("crawl_ts", "doc_id")).alias("_k"),
        )
        .select(
            "canon_url",
            "n_crawls",
            F.col("_k.doc_id").alias("kept_doc_id"),
            F.col("_k.crawl_ts").alias("kept_crawl_ts"),
        )
        .orderBy("canon_url")
    )


def _lined_docs(spark, sf_dir, keep_cols=(), stopwords=False):
    """The deterministically DERIVED lined corpus shared by
    text_c4_rules and pipe_refinedweb (the synthetic corpus is
    single-line and punctuation-free): 10-token reflow, line i
    terminated '.' iff (doc_id + i) % 3 != 2, brace line appended to
    doc_id % 97 == 0 docs, 'lorem ipsum' line to doc_id % 89 == 0.
    With ``stopwords=True`` every line is additionally PREFIXED with a
    cycling GOPHER_STOPWORDS entry and the per-line keys switch from
    doc_id to the token COUNT - the funnel variant: Gopher's
    stopword-presence rule gets a signal path on the synthetic
    vocabulary (multi-line docs collect >= 2 distinct stopwords), and
    content-keyed derivation means identical raw texts derive
    IDENTICALLY, so the funnel's cleaned-grain dedup still sees them as
    duplicates (a doc_id key would pseudo-uniquify every copy). The
    oracle replays the identical arithmetic."""
    from ..functions.texthash import words
    from ..operators.textquality import GOPHER_STOPWORDS

    docs = _docs_sorted(spark, sf_dir)
    toks = words(F.col("text"))
    d = F.col("doc_id")
    key = F.size(toks).cast("long") if stopwords else d
    nl = F.ceil(F.size(toks) / F.lit(10)).cast("int")
    stoparr = F.array([F.lit(s) for s in GOPHER_STOPWORDS])

    def line(i):
        body = F.array_join(F.slice(toks, i * 10 + 1, 10), " ")
        if stopwords:
            body = F.concat(
                F.element_at(stoparr, ((key + i) % 8 + 1).cast("int")),
                F.lit(" "),
                body,
            )
        return F.concat(
            body,
            F.when((key + i) % 3 != 2, F.lit(".")).otherwise(F.lit("")),
        )

    lines = F.transform(F.sequence(F.lit(0), nl - 1), line)
    # the funnel variant joins lines with ' \n ' so the SPACE-only
    # whitespace tokenizer (words/gopher_rules) still sees the line
    # boundary tokens - a bare newline glues line-final and prefix
    # tokens ('hop.\nthat') and silently hides every injected stopword
    sep = " \n " if stopwords else "\n"
    return docs.where(F.size(toks) > 0).select(
        "doc_id",
        F.concat(
            F.array_join(lines, sep),
            F.when(
                d % 97 == 0, F.lit("\nconfig block follows here {")
            ).otherwise(F.lit("")),
            F.when(
                d % 89 == 0, F.lit("\nlorem ipsum filler text here.")
            ).otherwise(F.lit("")),
        ).alias("text"),
        *keep_cols,
    )


def _funnel_report(spark, stages, value_frame=None):
    """(stage, name, in, kept) for a funnel stage list in ONE
    aggregation job (r16 perf): the distinct stage frames are unioned
    with a frame-id label and aggregated in a single |frames|-group
    pass, then the stage rows assemble by broadcast-joining the bounded
    per-frame table twice - one read per frame and one tiny shuffle
    instead of 2 x |stages| separate scalar-merge jobs. The linearity
    study (BASELINE.md r16) showed the funnels' cost at bench scale is
    almost entirely stage-scheduling overhead; this removes ~3/4 of the
    scheduled jobs without touching any value.

    With ``value_frame`` (a (doc_id, n_tok) projection) the aggregate
    is the token SUM of each frame's semi-join against it (the
    pipe_token_attribution budgets, columns tok_in/tok_kept + the
    guarded round-6 kept_frac); without it, the COUNT per frame
    (columns n_in/n_kept). Empty frames coalesce to 0 in both modes.

    CONTRACT (ADVICE r16): chained stages must pass the SAME DataFrame
    OBJECT for stage k's kept frame and stage k+1's in frame - frame
    dedup is by Python object identity, so logically-identical but
    distinct objects double-scan and, if the duplicate frames ever
    diverged (non-deterministic upstream), could report
    n_in != previous n_kept. Every caller builds its stage list from
    one chain of localCheckpoint frames, which satisfies this."""
    frames = []
    for _, fin, fkept in stages:
        for f in (fin, fkept):
            if all(f is not g for g in frames):
                frames.append(f)
    labeled = None
    for i, f in enumerate(frames):
        if value_frame is not None:
            l = value_frame.join(
                f.select("doc_id"), "doc_id", "left_semi"
            ).select(F.lit(i).alias("fid"), "n_tok")
        else:
            l = f.select(F.lit(i).alias("fid"))
        labeled = l if labeled is None else labeled.unionByName(l)
    agg = (
        F.sum("n_tok") if value_frame is not None else F.count(F.lit(1))
    )
    per_frame = labeled.groupBy("fid").agg(agg.cast("long").alias("n"))
    fid = {id(f): i for i, f in enumerate(frames)}
    meta = spark.createDataFrame(
        [
            (k, name, fid[id(fin)], fid[id(fkept)])
            for k, (name, fin, fkept) in enumerate(stages, 1)
        ],
        "stage long, name string, fid_in int, fid_kept int",
    )
    cin, ckept = ("tok_in", "tok_kept") if value_frame is not None else (
        "n_in", "n_kept"
    )
    out = (
        meta.join(
            F.broadcast(
                per_frame.select(
                    F.col("fid").alias("fid_in"), F.col("n").alias("_nin")
                )
            ),
            "fid_in",
            "left",
        )
        .join(
            F.broadcast(
                per_frame.select(
                    F.col("fid").alias("fid_kept"), F.col("n").alias("_nkept")
                )
            ),
            "fid_kept",
            "left",
        )
        .select(
            "stage",
            "name",
            F.coalesce(F.col("_nin"), F.lit(0)).cast("long").alias(cin),
            F.coalesce(F.col("_nkept"), F.lit(0)).cast("long").alias(ckept),
        )
    )
    if value_frame is not None:
        out = out.select(
            "*",
            F.when(
                F.col("tok_in") > 0,
                F.round(F.col("tok_kept") / F.col("tok_in"), 6),
            ).alias("kept_frac"),
        )
    return out.orderBy("stage")


def pipe_refinedweb(spark, sf_dir):
    """The literature-complete HEURISTIC curation funnel - the
    RefinedWeb/FineWeb pipeline shape (Penedo et al. 2023): URL/domain
    filtering (stage 0, §3.1 - the pass that runs before any text is
    read) -> language identification -> Gopher doc-level rules -> C4
    line-level cleaning -> exact dedup at the CLEANED grain (C4's own
    dedup unit: md5 of the kept lines) -> near-dup drop. The trained
    twin is
    pipe_curation_trained; this funnel runs the published rule sets the
    big web corpora actually shipped with, each stage applying to the
    previous stage's survivors with (n_in, n_kept) attribution (the
    pipe_funnel self-audit: stage k's n_in == stage k-1's n_kept).

    The whole funnel runs over ONE deterministically derived corpus
    (_lined_docs with the stopword-prefix variant - the synthetic text
    is single-line, punctuation-free, and Gopher-stopword-free, so the
    raw corpus gives the line rules and the stopword rule nothing to
    read; the derivation gives every published rule a signal path and
    the oracle replays it). Stage semantics: (1) url_filter - the
    derived-URL blocklist + soft word-score + digit/length heuristics
    (pipe_url_filter's combined keep; URL metadata is doc_id-keyed, so
    the stage reads no text at all). (2) lang_id - the trigram
    classifier's prediction must agree with the recorded lang;
    NULL-lang docs cannot certify and drop. (3) gopher -
    gopher_rules' keep verdict. (4) c4 - c4_rules' doc verdict.
    (5) exact_cleaned - min-id representative per C4 cleaned_md5
    group, so two docs whose SURVIVING lines coincide collapse even
    when their raw bytes differ (the C4-accurate dedup grain).
    (6) near_dup - docs dominated by a smaller-id Jaccard >= 0.8
    partner on the RAW text (near-duplication is a property of the
    content, not of the derivation's injected punctuation - and the
    raw-corpus pair index is the session-shared one every dedup query
    reuses, so this stage adds zero index builds), filtered to
    surviving endpoints - recall-exact, pairwise.

    Scale shape: stage 1 is a doc_id-keyed projection + semi-join and
    stages 2-4 are the established narrow passes; survivor id-frames
    are lazily localCheckpoint-ed (bytes per doc); the cleaned-grain
    dedup is one groupBy(md5); near-dup reads the memoized pair index.
    All twelve counts land in ONE labeled-union aggregation
    (_funnel_report), nothing else reaches the driver."""
    return _funnel_report(spark, _refinedweb_stages(spark, sf_dir))


def _refinedweb_stages(spark, sf_dir):
    """The funnel's stage list [(name, in_frame, kept_frame)], shared by
    pipe_refinedweb (doc counts) and pipe_token_attribution (raw-token
    budgets). Frames carry doc_id (s3 also cleaned_md5); every survivor
    frame is a lazy localCheckpoint so both report queries and every
    later stage read the one materialization - and the stage list is
    SESSION-MEMOIZED per sf_dir (r16), so the second report query reads
    the frames the first one already materialized instead of re-running
    the whole funnel. Memory is bounded: the id-frames are bytes per
    doc and the one corpus-sized entry (the derived lined corpus) is
    the same deliberate hot-slice cache class as the shingle index.
    Registry kind "refinedweb_stages"."""
    return artifacts.get_or_build(
        spark,
        "refinedweb_stages",
        sf_dir,
        lambda: _build_refinedweb_stages(spark, sf_dir),
    )


def _build_refinedweb_stages(spark, sf_dir):
    docs = _lined_docs(
        spark, sf_dir, keep_cols=("lang",), stopwords=True
    ).localCheckpoint(eager=False)
    total = docs.select("doc_id")
    # stage 0 (r16): URL/domain filtering - RefinedWeb's actual first
    # stage (Penedo et al. 2023 §3.1) runs before any text is read; the
    # keep verdict is _doc_urls' combined four-rule pass
    s0_ids = (
        total.join(
            _doc_urls(spark, sf_dir).where("keep").select("doc_id"),
            "doc_id",
            "left_semi",
        )
        .localCheckpoint(eager=False)
    )
    s1_ids = (
        textquality.lang_id(docs)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .where(F.col("pred_lang") == F.col("lang"))
        .select("doc_id")
        .join(s0_ids, "doc_id", "left_semi")
        .localCheckpoint(eager=False)
    )
    gop = textquality.gopher_rules(docs).select("doc_id", "keep")
    s2_ids = (
        s1_ids.join(gop.where("keep"), "doc_id", "left_semi")
        .localCheckpoint(eager=False)
    )
    c4 = textquality.c4_rules(docs).select("doc_id", "keep", "cleaned_md5")
    s3 = (
        s2_ids.join(c4.where("keep"), "doc_id", "left_semi")
        .join(c4.select("doc_id", "cleaned_md5"), "doc_id")
        .localCheckpoint(eager=False)
    )
    s4_ids = (
        s3.groupBy("cleaned_md5")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
        .localCheckpoint(eager=False)
    )
    pairs = dedup.ngram_jaccard_pairs(_docs(spark, sf_dir), JACCARD_THRESHOLD)
    dominated = (
        pairs.join(s4_ids.select(F.col("doc_id").alias("id_a")), "id_a", "left_semi")
        .join(s4_ids.select(F.col("doc_id").alias("id_b")), "id_b", "left_semi")
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    s5_ids = s4_ids.join(dominated, "doc_id", "left_anti")
    return [
        ("url_filter", total, s0_ids),
        ("lang_id", s0_ids, s1_ids),
        ("gopher", s1_ids, s2_ids),
        ("c4", s2_ids, s3),
        ("exact_cleaned", s3, s4_ids),
        ("near_dup", s4_ids, s5_ids),
    ]


def pipe_token_attribution(spark, sf_dir):
    """'Where did my tokens go' - the funnel report a 100 TB pipeline
    actually publishes: pipe_refinedweb's six stages re-weighted by the
    RAW-corpus whitespace token budget, (stage, name, tok_in, tok_kept,
    round-6 kept_frac). Document counts hide the skew (one dropped
    10k-token document outweighs fifty dropped stubs); the token-grain
    view is what budget planning reads.

    Scale shape: the stage frames are pipe_refinedweb's lazy
    localCheckpoints; each budget is one broadcast-sized semi-join of
    the survivor id-frame against the narrow (doc_id, n_tok)
    projection, and all twelve sums land in ONE labeled-union
    aggregation (_funnel_report) - no new corpus passes beyond the one
    (doc_id, n_tok) projection. The kept_frac carries _funnel_report's
    ANSI guard: an emptied-out stage has no defined ratio."""
    from ..functions.texthash import words

    ntok = (
        _docs(spark, sf_dir)
        .select(
            "doc_id", F.size(words(F.col("text"))).cast("long").alias("n_tok")
        )
        .localCheckpoint(eager=False)
    )
    return _funnel_report(
        spark, _refinedweb_stages(spark, sf_dir), value_frame=ntok
    )


def pipe_pack(spark, sf_dir):
    """Sequence packing: every document's contiguous token span in its
    packed training shard (deterministic order, documents may straddle
    sequence boundaries). Oracle: the same window cumsum in SQL."""
    return (
        sampling.pack_sequences(_docs(spark, sf_dir), PACK_SEQ_LEN, PACK_SHARDS)
        .orderBy("doc_id")
    )


def pipe_pack_bpe(spark, sf_dir):
    """Sequence packing budgeted by BPE pre-tokenizer counts - the unit
    LLM training actually packs by (whitespace counts undercount code /
    punctuation-heavy text). Same deterministic cumsum layout as
    pipe_pack with the length expression swapped."""
    bpe_len = F.size(
        F.regexp_extract_all(
            F.lower(F.col("text")), F.lit(textquality.BPE_PATTERN), 0
        )
    )
    return (
        sampling.pack_sequences(
            _docs(spark, sf_dir), PACK_SEQ_LEN, PACK_SHARDS, length=bpe_len
        )
        .orderBy("doc_id")
    )


def pipe_delta(spark, sf_dir):
    """Incremental snapshot reconciliation: two deterministic corpus
    versions derived from ``documents`` (v1 lacks the doc_id%10==0 slice =
    'added later'; v2 dropped the %10==1 slice and edited the text of every
    %7==0 doc), diffed by content fingerprint into added / removed /
    changed / unchanged - the primitive an incremental 100 TB pipeline
    keys its re-processing on. Only (id, md5) shuffles, never text."""
    from ..operators import delta

    docs = _docs(spark, sf_dir)
    d = F.col("doc_id")
    v1 = docs.where(d % 10 != 0).select("doc_id", "text")
    v2 = docs.where(d % 10 != 1).select(
        "doc_id",
        F.when(d % 7 == 0, F.concat(F.col("text"), F.lit(" v2")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return delta.snapshot_diff(v1, v2).orderBy("id")


#: Poisson(1) inverse-CDF thresholds scaled to integers in [0, 1e6):
#: weight = #{k : u >= c_k} for u uniform - P(w = k) matches Poisson(1)
#: to 1e-6. Integer literals, so the draw is exact in any engine.
BOOT_THRESHOLDS = (
    367879, 735759, 919699, 981012, 996340, 999406, 999917, 999990, 999999,
)
BOOT_B = 64
BOOT_U_MOD = 1_000_000
#: 1-based ranks of the 2.5% / 97.5% bootstrap percentiles among B sorted
#: replicate means: floor(q * (B - 1)) + 1
BOOT_LO_RANK = int(0.025 * (BOOT_B - 1)) + 1
BOOT_HI_RANK = int(0.975 * (BOOT_B - 1)) + 1


def pipe_bootstrap(spark, sf_dir):
    """Poisson-bootstrap confidence intervals for the per-source mean
    token count - THE distributed bootstrap (Chamandy et al., 'Estimating
    uncertainty for massive data streams', Google TR 2012): classical
    resampling-with-replacement cannot be distributed (a replicate needs
    global coordination), but giving every row an independent
    Poisson(1) weight per replicate approximates the multinomial draw
    and is embarrassingly parallel - one map-side weight expression, one
    combinable aggregation per (group, replicate).

    Everything is engine-portable by construction: the uniform draw is a
    salted portable md5 folded to an integer in [0, 1e6), the Poisson
    inverse CDF is a chain of INTEGER threshold comparisons
    (BOOT_THRESHOLDS), replicate means divide two exact long sums, and
    the CI bounds select fixed ranks of the sorted replicate means - so
    the DuckDB oracle replays every value and the driver hash-checks the
    entire uncertainty computation. Output one row per source:
    (source, n_docs, mean_r, ci_lo_r, ci_hi_r).

    Scale shape: the replicate dimension multiplies the corpus by B=64
    BEFORE the first aggregation, but each exploded row is (source, b,
    w, w*tok) wide and the per-(source, b) partial aggregation combines
    map-side, so the shuffle carries |sources| x B rows. The rank
    selection runs on |sources| x B rows - negligible."""
    from ..functions.texthash import md5_int60, words

    docs = _docs(spark, sf_dir).select(
        "doc_id", "source", F.size(words(F.col("text"))).cast("long").alias("tok")
    )
    u = md5_int60(
        F.concat_ws(":", F.col("doc_id"), F.col("b")), salt="boot"
    ) % BOOT_U_MOD
    w = None
    for t in BOOT_THRESHOLDS:
        term = (F.col("u") >= t).cast("long")
        w = term if w is None else w + term
    rep = (
        docs.select(
            "doc_id", "source", "tok",
            F.explode(F.sequence(F.lit(0), F.lit(BOOT_B - 1))).alias("b"),
        )
        .withColumn("u", u)
        .withColumn("w", w)
        .groupBy("source", "b")
        .agg(
            F.sum("w").alias("sw"),
            F.sum(F.col("w") * F.col("tok")).alias("swt"),
        )
        .where(F.col("sw") > 0)
        .select(
            "source", "b",
            (F.col("swt") / F.col("sw")).alias("mean_b"),
        )
    )
    from pyspark.sql.window import Window

    ranked = rep.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("source").orderBy("mean_b", "b")
        ),
    )
    ci = (
        ranked.where(F.col("rn").isin(BOOT_LO_RANK, BOOT_HI_RANK))
        .groupBy("source")
        .agg(
            F.round(F.min("mean_b"), 6).alias("ci_lo_r"),
            F.round(F.max("mean_b"), 6).alias("ci_hi_r"),
        )
    )
    base = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.sum("tok") / F.count(F.lit(1)), 6).alias("mean_r"),
    )
    return (
        base.join(ci, "source")
        .select("source", "n_docs", "mean_r", "ci_lo_r", "ci_hi_r")
        .orderBy("source")
    )


def pipe_stats_delta(spark, sf_dir):
    """Materialized-view maintenance driven by the snapshot diff
    (delta.incremental_group_stats): the per-(lang, source) dataset card
    updated as S(v1) - contrib(outgoing) + contrib(incoming) where both
    contribution subtrees are semi-joined to the diff ids - maintenance
    work O(|delta|), never a corpus re-tokenization. The oracle IS the
    full recompute over v2, so the hash match is the proof that the
    incremental algebra reproduces it exactly."""
    from ..operators import delta

    docs = _docs(spark, sf_dir)
    d = F.col("doc_id")
    v1 = docs.where(d % 10 != 0).select("doc_id", "lang", "source", "text")
    v2 = docs.where(d % 10 != 1).select(
        "doc_id", "lang", "source",
        F.when(d % 7 == 0, F.concat(F.col("text"), F.lit(" v2")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    diff = delta.snapshot_diff(v1, v2)
    return delta.incremental_group_stats(v1, v2, diff).orderBy("lang", "source")


def pipe_delta_apply(spark, sf_dir):
    """The diff DRIVING the incremental pipeline (what a 100 TB daily run
    actually executes): snapshot_diff's 'added' slice becomes the probe
    manifest of ``incremental_ngram_pairs`` (dedup the new docs against
    the standing corpus, work proportional to the batch), and the
    'changed' slice is re-scored by ``quality_scores`` over the NEW text.
    One row per affected doc: (id, action, metric_r, keep) -
    action='dedup_probe' rows carry the doc's near-dup pair count and
    keep = "no duplicate with a smaller id exists" (the min-id-wins rule
    exact_dedup uses); action='rescore' rows carry the recomputed quality
    and keep = quality >= CURATION_MIN_QUALITY. Unchanged docs cost
    nothing - neither shingling nor scoring ever touches them on the
    probe/score side; the standing corpus is read only as the dedup
    index, exactly the asymmetry that makes incremental ingest cheap.
    """
    from ..operators import delta

    docs = _docs(spark, sf_dir)
    d = F.col("doc_id")
    v1 = docs.where(d % 10 != 0).select("doc_id", "text")
    v2 = docs.where(d % 10 != 1).select(
        "doc_id",
        F.when(d % 7 == 0, F.concat(F.col("text"), F.lit(" v2")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    # the diff feeds BOTH slices: checkpoint the tiny (id, status) frame
    # (~24 bytes/doc) so the fingerprint full-outer join runs once, not
    # once per downstream branch - plan-verified: the un-checkpointed form
    # duplicates every snapshot scan (11 parquet scans at sf0.01); at
    # 100 TB that halves the snapshot reads. Same bounded-materialization
    # discipline as dedup_clusters' per-round localCheckpoint
    # (operators/graph.py); executor-local storage means a lost executor
    # re-runs the job, the standard trade for a frame this small.
    diff = delta.snapshot_diff(v1, v2).localCheckpoint(eager=False)
    added = diff.where(F.col("status") == "added").select("id")
    changed = diff.where(F.col("status") == "changed").select("id")

    pairs = dedup.incremental_ngram_pairs(
        v2, min_jaccard=JACCARD_THRESHOLD, new_ids=added
    ).select("id_a", "id_b")
    touches = pairs.select(F.col("id_a").alias("id")).unionAll(
        pairs.select(F.col("id_b").alias("id"))
    )
    ndup = touches.groupBy("id").agg(F.count(F.lit(1)).alias("n_dup"))
    dominated = pairs.select(F.col("id_b").alias("id")).distinct()
    probe_rows = (
        added.join(ndup, "id", "left")
        .join(dominated.withColumn("dom", F.lit(True)), "id", "left")
        .select(
            "id",
            F.lit("dedup_probe").alias("action"),
            F.coalesce(F.col("n_dup"), F.lit(0)).cast("double").alias("metric_r"),
            F.col("dom").isNull().alias("keep"),
        )
    )
    changed_docs = v2.join(
        changed.select(F.col("id").alias("doc_id")), "doc_id", "left_semi"
    )
    rescore_rows = textquality.quality_scores(changed_docs).select(
        F.col("doc_id").alias("id"),
        F.lit("rescore").alias("action"),
        F.col("quality").alias("metric_r"),
        (F.col("quality") >= CURATION_MIN_QUALITY).alias("keep"),
    )
    return probe_rows.unionByName(rescore_rows).orderBy("id")


def pipe_shard_sink(spark, sf_dir):
    """Sharded training sink ROUND-TRIP: hash_split + pack-within-split +
    ``write_training_shards`` to parquet partitioned by (split, shard), read
    BACK from disk and audited per partition directory: document count,
    total tokens, span extent, and ``contiguous`` - true iff, in on-disk
    row order, every document's start_tok equals the previous document's
    end_tok starting from 0 (the sequential-stream layout a training
    data-loader requires). The oracle recomputes the same layout from first
    principles (split CASE + per-(split,shard) window cumsum), so a green
    row proves the sink wrote exactly the declared packing - not just that
    a write happened."""
    import atexit
    import os
    import shutil
    import tempfile

    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    packed = sampling.pack_sequences(
        sampling.hash_split(docs, SPLIT_FRACTIONS),
        PACK_SEQ_LEN,
        PACK_SHARDS,
        by=["split"],
    ).select("doc_id", "split", "shard", "start_tok", "end_tok", "seq_id")
    repo_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    sink_root = os.path.join(repo_root, "spark-warehouse")
    os.makedirs(sink_root, exist_ok=True)
    # Per-INVOCATION sink path: concurrent runs (driver gate + a local pytest,
    # or two sf dirs racing) each get a private directory, so one run's
    # overwrite can never clobber a directory another run is still reading.
    # The dir must outlive this function - the returned DataFrame scans it
    # lazily when the caller collects - so cleanup is deferred to process
    # exit rather than a finally block.
    path = tempfile.mkdtemp(
        prefix="shard_sink_" + os.path.basename(os.path.normpath(sf_dir)) + "_",
        dir=sink_root,
    )
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    sampling.write_training_shards(docs.select("doc_id", "text"), packed, path)
    # The contiguity audit below walks rows in on-disk order WITHIN one file
    # (lag over (_file, _mid)); that only equals the stream layout if each
    # (split, shard) directory holds exactly ONE parquet file. The writer
    # guarantees it (repartition by (split, shard) puts each combo in a
    # single task), but guarantee != assumption: verify on the actual
    # directory tree before trusting the audit. Driver-side cost is bounded
    # by |splits| x |shards| leaf dirs, not data volume.
    for dirpath, _dirnames, filenames in os.walk(path):
        parts = [f for f in filenames if f.endswith(".parquet")]
        if os.path.basename(dirpath).startswith("shard="):
            assert len(parts) == 1, f"{dirpath}: {len(parts)} files, expected 1"
        else:
            assert not parts, f"unexpected parquet outside shard dirs: {dirpath}"
    # _mid preserves on-disk row order within each scan partition (file
    # splits are enumerated in offset order), so lag() over (_file, _mid)
    # walks the stream layout
    back = (
        spark.read.parquet(path)
        .withColumn("_file", F.input_file_name())
        .withColumn("_mid", F.monotonically_increasing_id())
    )
    wf = Window.partitionBy("_file").orderBy("_mid")
    return (
        back.withColumn("_prev_end", F.lag("end_tok").over(wf))
        .groupBy("split", F.col("shard").cast("long").alias("shard"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("end_tok") - F.col("start_tok")).alias("total_toks"),
            F.min("start_tok").alias("min_start"),
            F.max("end_tok").alias("max_end"),
            F.bool_and(
                F.col("start_tok") == F.coalesce(F.col("_prev_end"), F.lit(0))
            ).alias("contiguous"),
        )
        .orderBy("split", "shard")
    )


# --- round 10: weighted sampling / fuzzy linkage / sparse cosine /
# --- manifests / vocab audit / rolling features / SCD2 intervals --------

WSAMPLE_K = 100
SPARSE_TOPK = 20
SPARSE_DF_CAP = 100
FUZZY_MAX_LEV = 8
FUZZY_LEN_BAND = 16
VOCAB_TOPK = 20
ROLL_WINDOW_S = 7 * 86_400


DSIR_K = 50


def pipe_dsir(spark, sf_dir):
    """DSIR corpus targeting (Xie et al. 2023): select the 50 non-English
    pool documents that look most like the English target corpus under
    hashed bag-of-token importance ratios, Gumbel-top-k resampled with
    deterministic hash noise (operators/sampling.dsir_select). The
    256-bucket model is fixed-size by construction (the paper's hashing
    trick), broadcast to the scoring pass; scores and Gumbel keys are
    int64 micro-nats, so the whole result hashes integer-exact."""
    return sampling.dsir_select(_docs(spark, sf_dir), DSIR_K)


def pipe_sample_weighted(spark, sf_dir):
    """Importance-weighted corpus subsample: top-100 documents by the
    Efraimidis-Spirakis exponential key with weight = n_chars (longer
    documents proportionally likelier), deterministic via the seeded
    portable hash (operators/sampling.weighted_sample). The oracle
    replays the key algebra; the plan is a projection + global top-k
    (TakeOrderedAndProject - per-partition heaps, no global sort)."""
    # no outer orderBy (r19): TakeOrderedAndProject already emits the
    # rows in (full nano-nat key desc, id) order - deterministic - and
    # an outer sort on the ROUNDED display key would both add a Sort
    # node (the plan-audited no-global-sort property) and reorder
    # rounded ties away from the selection order
    return sampling.weighted_sample(
        _docs(spark, sf_dir).select("doc_id", "lang", "source", "n_chars"),
        WSAMPLE_K,
    )


def dedup_fuzzy(spark, sf_dir):
    """Blocked edit-distance linkage (operators/dedup.fuzzy_pairs):
    word-5-gram inverted-index blocking (hashed posting keys), +-16-char
    length banding, then one threshold-bounded JVM levenshtein(a, b, k)
    per surviving candidate - catches small-edit
    clones by the metric OCR/boilerplate variation actually moves
    (measured here: planted near-dups sit at lev = 4, background pairs
    at >= ~150). Oracle replays the same blocked formulation."""
    return dedup.fuzzy_pairs(
        _docs(spark, sf_dir), FUZZY_MAX_LEV, FUZZY_LEN_BAND
    ).orderBy("id_a", "id_b")


def dedup_keep_best(spark, sf_dir):
    """Quality-aware cluster representative selection - the KEEP policy
    composed end-to-end: near-dup pairs -> connected components -> one
    row per cluster carrying the member that maximizes the heuristic
    quality score (ties: lowest doc_id), with the member count. This is
    the policy production dedup actually ships (keep the BEST copy, not
    the lowest-id copy). Scale: the per-cluster argmax is a window
    partitioned by cluster_id - never global."""
    from pyspark.sql.window import Window

    from ..operators import graph

    docs = _docs(spark, sf_dir)
    pairs = dedup.ngram_jaccard_pairs(docs, JACCARD_THRESHOLD).select("id_a", "id_b")
    clusters = graph.duplicate_clusters(docs, pairs)
    quality = textquality.quality_scores(docs).select("doc_id", "quality")
    joined = clusters.join(quality, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    return (
        joined.withColumn("rk", F.row_number().over(w))
        .withColumn(
            "n_members",
            F.count(F.lit(1)).over(Window.partitionBy("cluster_id")),
        )
        .where(F.col("rk") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("rep_id"),
            F.col("quality").alias("rep_quality_r"),
            F.col("n_members").cast("long").alias("n_members"),
        )
        .orderBy("cluster_id")
    )


def sim_sparse_topk(spark, sf_dir):
    """Global top-20 most-similar document pairs by TF-IDF word-trigram
    cosine through an inverted term index
    (operators/textquality.tfidf_cosine_pairs) - the sparse-vector
    similarity join (no embeddings needed), with decimal-exact dots and
    a df-capped posting list as the 100 TB skew dial."""
    return textquality.tfidf_cosine_pairs(
        _docs(spark, sf_dir), SPARSE_TOPK, 3, SPARSE_DF_CAP
    ).orderBy(F.desc("cos_r"), "id_a", "id_b")


def text_vocab(spark, sf_dir):
    """Vocabulary-coverage / OOV-rate audit per document against the
    corpus top-20 word vocabulary (operators/textquality.vocab_coverage):
    bounded top-k vocab broadcast back over one token explode."""
    return textquality.vocab_coverage(_docs(spark, sf_dir), VOCAB_TOPK).orderBy(
        "doc_id"
    )


def pipe_manifest(spark, sf_dir):
    """Order-invariant dataset manifest - the reproducibility artifact a
    100 TB corpus release ships per (split, source) shard group: document
    count, an XOR-combined 60-bit content checksum (bit_xor is
    commutative/associative, so the checksum is independent of row order,
    partitioning, and cluster size - unlike any positional hash), total
    characters, and the id range. Re-running after any engine/layout
    change must reproduce these rows bit-for-bit; a single changed or
    dropped document flips xor_h. Pure two-level aggregation,
    map-side combinable, 60-row output."""
    docs = sampling.hash_split(_docs(spark, sf_dir), SPLIT_FRACTIONS)
    h = md5_int60_text()
    return (
        docs.select("split", "source", "n_chars", "doc_id", h.alias("h"))
        .groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.expr("bit_xor(h)").alias("xor_h"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .orderBy("split", "source")
    )


def md5_int60_text():
    """Content hash for manifests: h(doc_id ':' text) - includes the id so
    two identical texts under different ids don't XOR-cancel."""
    from ..functions.texthash import md5_int60

    return md5_int60(
        F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("text"))
    )


def events_rolling(spark, sf_dir):
    """Per-event trailing-7-day user features via a RANGE window frame
    (RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW over integer epoch
    seconds) - the point-in-time-correct rolling feature that feeds
    training sets without leakage (frame ends AT the event, never after).
    Count/max/min only - order-free aggregates, so the result is exact
    and engine-portable with no float-sum caveat. Scale: one window
    partitioned by user_id; no global ordering anywhere."""
    from pyspark.sql.window import Window

    from ..functions.time import epoch_us

    ev = (
        load_tables(spark, sf_dir)["events"]
        .where(F.col("value").isNotNull() & ~F.isnan("value"))
        .select(
            "event_id",
            "user_id",
            # floor division, not double-divide + cast: cast('long')
            # truncates toward zero while the oracle's `//` floors, and
            # the two diverge on negative (pre-1970) epochs
            F.floor(epoch_us(F.col("ts")) / 1_000_000).cast("long").alias("sec"),
            "value",
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("sec")
        .rangeBetween(-ROLL_WINDOW_S, Window.currentRow)
    )
    return (
        ev.select(
            "event_id",
            "user_id",
            "sec",
            F.count(F.lit(1)).over(w).cast("long").alias("n_7d"),
            F.round(F.max("value").over(w), 6).alias("max_7d"),
            F.round(F.min("value").over(w), 6).alias("min_7d"),
        )
        .orderBy("event_id")
    )


def events_scd2(spark, sf_dir):
    """Slowly-changing-dimension (type 2) interval build: compress each
    user's event-type stream (ordered by the deterministic (ts, event_id)
    total order) into consecutive runs with [valid_from, valid_to)
    microsecond intervals - valid_to = next run's start, NULL while
    current. The gaps-and-islands run assignment (lag + conditional
    cumsum) is the standard CDC->dimension compaction; all integer
    arithmetic. Scale: two windows partitioned by user_id and one
    grouped aggregation - nothing global."""
    from pyspark.sql.window import Window

    from ..functions.time import epoch_us

    ev = load_tables(spark, sf_dir)["events"].select(
        "user_id",
        "event_type",
        epoch_us(F.col("ts")).alias("us"),
        "event_id",
    )
    wo = Window.partitionBy("user_id").orderBy("us", "event_id")
    runs = (
        # null-safe inequality: with a plain !=, a NULL event_type row
        # compares NULL against its predecessor, chg falls to the
        # otherwise(0) branch, and the row silently merges into the
        # previous run (where MIN() would then mislabel it). eqNullSafe
        # keeps the 'event_type constant within a run' invariant even if
        # the column is ever nullable. Partition-start detection anchors
        # on lag(us) - us is never null, so "no previous row" stays
        # distinguishable from "previous event_type is NULL" and the
        # first run is numbered 1 even for a NULL-typed first event.
        ev.withColumn(
            "chg",
            F.when(
                F.lag("us").over(wo).isNull()
                | ~F.lag("event_type").over(wo).eqNullSafe(F.col("event_type")),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "run_id",
            F.sum("chg").over(
                wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("user_id", "run_id")
        .agg(
            # event_type is constant within a run by construction; MIN is
            # the deterministic way to carry it through the aggregation
            F.min("event_type").alias("event_type"),
            F.min("us").alias("valid_from_us"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
    )
    wr = Window.partitionBy("user_id").orderBy("run_id")
    return (
        runs.withColumn("valid_to_us", F.lead("valid_from_us").over(wr))
        .select(
            "user_id",
            F.col("run_id").cast("long").alias("run_id"),
            "event_type",
            "valid_from_us",
            "valid_to_us",
            "n_events",
        )
        .orderBy("user_id", "run_id")
    )


# --- round 10, batch 2: kNN graph / stats card / domain shift /
# --- soft-dedup weights / threshold sweep ------------------------------

SWEEP_THRESHOLDS = [0.6, 0.7, 0.8, 0.9, 0.95]


def sim_knn_graph(spark, sf_dir):
    """k-nearest-neighbor graph construction over the embedding corpus -
    the substrate for SemDeDup-style pruning, graph clustering, and
    diversity sampling: per vector, its top-3 neighbors by exact cosine
    among banded sign-LSH candidates (every pair agreeing on at least one
    of 8 disjoint 8-bit hyperplane-sign bands). Reuses the near-dup
    candidate machinery with the threshold OPEN (min_cos = -1): the graph
    keeps the strongest edges per node instead of edges above a global
    bar - so sparse neighborhoods still get their k edges. Candidate
    recall < 1 for weak edges by LSH design (the oracle replays the same
    banding); near-identical vectors collide in every band.

    Scale shape: band equi-joins (never cross), one symmetric union of
    the candidate pairs, then a window partitioned by source node -
    never global. Edges per node bounded by k."""
    from pyspark.sql.window import Window

    pairs = _emb_scored_pairs(spark, sf_dir)
    edges = pairs.select(
        F.col("id_a").alias("id"), F.col("id_b").alias("nbr"), "cos_r"
    ).unionAll(
        pairs.select(
            F.col("id_b").alias("id"), F.col("id_a").alias("nbr"), "cos_r"
        )
    )
    w = Window.partitionBy("id").orderBy(F.desc("cos_r"), F.asc("nbr"))
    return (
        edges.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= KNN_K)
        .select("id", "rk", "nbr", "cos_r")
        .orderBy("id", "rk")
    )


def scale_colstats(spark, sf_dir):
    """ANALYZE-style per-column statistics card for the events table -
    the optimizer/data-quality manifest a 100 TB lakehouse maintains per
    partition: null count, NaN count, exact NDV, numeric min/max (epoch
    microseconds for timestamps, round-6 and NaN-excluded for doubles)
    and lexicographic min/max for strings - ONE scan producing one row
    per column (the multi-distinct aggregation plans as a single
    Expand).

    Floats never sum: every statistic is a count, a distinct count, or
    an order statistic, so the card is exact and engine-portable. At
    100 TB swap the exact NDVs for approx_count_distinct (HLL, one
    bounded sketch per column, no Expand) - the accuracy/mergeability
    contract for that swap is witnessed by events_distinct_approx;
    exact NDV is the oracle-checkable choice here."""
    from ..functions.time import epoch_us

    ev = load_tables(spark, sf_dir)["events"]
    us = epoch_us(F.col("ts"))
    val_ok = F.when(~F.isnan("value"), F.col("value"))
    row = ev.agg(
        # event_id
        F.sum(F.col("event_id").isNull().cast("long")).alias("id_nulls"),
        F.countDistinct("event_id").alias("id_ndv"),
        F.min("event_id").alias("id_min"),
        F.max("event_id").alias("id_max"),
        # ts (epoch us)
        F.sum(F.col("ts").isNull().cast("long")).alias("ts_nulls"),
        F.countDistinct(us).alias("ts_ndv"),
        F.min(us).alias("ts_min"),
        F.max(us).alias("ts_max"),
        # user_id
        F.sum(F.col("user_id").isNull().cast("long")).alias("u_nulls"),
        F.countDistinct("user_id").alias("u_ndv"),
        F.min("user_id").alias("u_min"),
        F.max("user_id").alias("u_max"),
        # value (NaN counted apart, excluded from ndv/min/max)
        F.sum(F.col("value").isNull().cast("long")).alias("v_nulls"),
        F.sum(F.isnan("value").cast("long")).alias("v_nan"),
        F.countDistinct(val_ok).alias("v_ndv"),
        F.round(F.min(val_ok), 6).alias("v_min"),
        F.round(F.max(val_ok), 6).alias("v_max"),
        # event_type
        F.sum(F.col("event_type").isNull().cast("long")).alias("t_nulls"),
        F.countDistinct("event_type").alias("t_ndv"),
        F.min("event_type").alias("t_min"),
        F.max("event_type").alias("t_max"),
        # props
        F.sum(F.col("props").isNull().cast("long")).alias("p_nulls"),
        F.countDistinct("props").alias("p_ndv"),
        F.min("props").alias("p_min"),
        F.max("props").alias("p_max"),
    )

    def _stat(name, nulls, nan, ndv, mn, mx, ms, xs):
        return F.struct(
            F.lit(name).alias("col_name"),
            F.col(nulls).cast("long").alias("n_nulls"),
            (F.col(nan).cast("long") if nan else F.lit(0).cast("long")).alias(
                "n_nan"
            ),
            F.col(ndv).cast("long").alias("ndv"),
            (F.col(mn).cast("double") if mn else F.lit(None).cast("double")).alias(
                "min_num"
            ),
            (F.col(mx).cast("double") if mx else F.lit(None).cast("double")).alias(
                "max_num"
            ),
            (F.col(ms) if ms else F.lit(None).cast("string")).alias("min_str"),
            (F.col(xs) if xs else F.lit(None).cast("string")).alias("max_str"),
        )

    return (
        row.select(
            F.explode(
                F.array(
                    _stat("event_id", "id_nulls", None, "id_ndv", "id_min", "id_max", None, None),
                    _stat("event_type", "t_nulls", None, "t_ndv", None, None, "t_min", "t_max"),
                    _stat("props", "p_nulls", None, "p_ndv", None, None, "p_min", "p_max"),
                    _stat("ts_us", "ts_nulls", None, "ts_ndv", "ts_min", "ts_max", None, None),
                    _stat("user_id", "u_nulls", None, "u_ndv", "u_min", "u_max", None, None),
                    _stat("value", "v_nulls", "v_nan", "v_ndv", "v_min", "v_max", None, None),
                )
            ).alias("s")
        )
        .select("s.*")
        .orderBy("col_name")
    )


def text_domain_shift(spark, sf_dir):
    """Per-source domain-shift audit: KL(P_source || P_corpus) over word
    unigram distributions - the drift signal a curation pipeline watches
    when a new crawl/source lands (high KL = out-of-domain mass).
    Portable arithmetic: every KL term (p * ln(p/q)) is computed from
    integer counts, rounded to 6 decimals, and summed as DECIMAL - the
    decimal-sum discipline, so per-source KL is exact given the terms
    and identical in any engine.

    Scale shape: two map-side-combinable count aggregations (per-(source,
    word) and the vocab rollup), a vocab-keyed join back, a 20-row
    broadcast of source totals, a 1-row broadcast of the corpus total."""
    from ..functions.texthash import words

    toks = _docs(spark, sf_dir).select(
        "source", F.explode(words(F.col("text"))).alias("w")
    )
    cnt_ws = toks.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c_sw"))
    n_s = cnt_ws.groupBy("source").agg(F.sum("c_sw").alias("n_s"))
    cnt_w = cnt_ws.groupBy("w").agg(F.sum("c_sw").alias("c_w"))
    n_tot = cnt_w.agg(F.sum("c_w").alias("n_tot"))
    term = (
        cnt_ws.join(cnt_w, "w")
        .join(F.broadcast(n_s), "source")
        .crossJoin(F.broadcast(n_tot))
        .select(
            "source",
            "n_s",
            # each factor casts to double BEFORE the multiply: counts are
            # < 2^53 so the double product is the correctly-rounded exact
            # product (bit-equal to an exact-integer product cast once),
            # while an int64 product would silently wrap at corpus scale
            F.round(
                (F.col("c_sw") / F.col("n_s"))
                * F.log(
                    (F.col("c_sw").cast("double") * F.col("n_tot"))
                    / (F.col("c_w").cast("double") * F.col("n_s"))
                ),
                6,
            )
            .cast("decimal(18,6)")
            .alias("term"),
        )
    )
    return (
        term.groupBy("source")
        .agg(
            F.first("n_s").cast("long").alias("n_tokens"),
            F.sum("term").cast("double").alias("kl_r"),
        )
        .orderBy("source")
    )


def pipe_reweight(spark, sf_dir):
    """Soft deduplication: instead of DROPPING near-duplicates, weight
    every document by 1/|cluster| so each duplicate cluster contributes
    one document's worth of training mass (the down-weighting alternative
    the recent dedup literature prefers when borderline clusters carry
    signal). Output per document: cluster, member count, round-6 weight.
    Composes the connected components with a cluster-partitioned count
    window - no global operation."""
    from pyspark.sql.window import Window

    from ..operators import graph

    docs = _docs(spark, sf_dir)
    pairs = dedup.ngram_jaccard_pairs(docs, JACCARD_THRESHOLD).select("id_a", "id_b")
    clusters = graph.duplicate_clusters(docs, pairs)
    w = Window.partitionBy("cluster_id")
    return (
        clusters.withColumn("n_members", F.count(F.lit(1)).over(w).cast("long"))
        .select(
            "doc_id",
            "cluster_id",
            "n_members",
            F.round(1.0 / F.col("n_members"), 6).alias("w_r"),
        )
        .orderBy("doc_id")
    )


#: per-call generation counter for the persisted PQ index directories
_PQ_INDEX_GEN = 0
#: generation paths already written, oldest first (for retention cleanup)
_PQ_GEN_PATHS: list[str] = []
#: generations kept on disk: the current one plus its predecessor (a frame
#: returned by the immediately-preceding call may still be serving reads -
#: Spark captures the file listing at read time); anything older is
#: best-effort deleted, bounding disk growth at 2 generations per process
#: instead of one-directory-per-call-forever (r10 advisor finding)
_PQ_GEN_RETAIN = 2


def _overlapped(spark, *thunks):
    """Run INDEPENDENT write/action thunks concurrently (optimization
    r19, the guide-standard concurrent-jobs pattern): Spark's scheduler
    happily runs several jobs at once, so a small write's tasks
    back-fill executors freed by a big write's stragglers instead of
    waiting for a serial barrier. Job-group properties are thread-local;
    the caller's are copied into each worker so bench labels and the
    X10 cancellation tag still cover every job. Only for thunks over
    DISJOINT outputs with no data dependency - callers sequence
    dependent writes themselves.

    REQUIRES PySpark pinned-thread mode (the default since Spark 3.2):
    local properties set from a Python worker thread map to that
    thread's own JVM thread only under PYSPARK_PIN_THREAD; with it
    disabled, concurrent setLocalProperty calls can clobber a shared
    JVM thread's locals and the cancellation tag may not cover (or may
    wrongly cover) overlapped jobs (ADVICE r19). The mode is fixed when
    the gateway launches, so it is read from the live gateway (a py4j
    ClientServer iff pinned - the check pyspark.util itself makes), not
    from the environment; unpinned, the thunks run serially - correct
    either way, just without the overlap."""
    from py4j.clientserver import ClientServer
    from pyspark import SparkContext

    if not isinstance(SparkContext._gateway, ClientServer):
        for t in thunks:
            t()
        return
    sc = spark.sparkContext
    props = {
        p: sc.getLocalProperty(p)
        for p in (
            "spark.jobGroup.id",
            "spark.job.description",
            "spark.job.interruptOnCancel",
        )
    }

    def _tagged(fn):
        def run():
            for p, v in props.items():
                if v is not None:
                    sc.setLocalProperty(p, v)
            return fn()

        return run

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        for fut in [pool.submit(_tagged(t)) for t in thunks]:
            fut.result()


def _pq_index_gen_dir(spark, sf_dir) -> str:
    """Fresh per-call generation directory under the warehouse for PQ
    index artifacts, with retention cleanup of superseded generations.
    Non-local warehouse URIs (hdfs://, s3a://) are handled explicitly:
    Spark reads/writes them fine, but the local rmtree cleanup is
    skipped - a deployment would run a storage-side lifecycle rule."""
    global _PQ_INDEX_GEN
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    local = "://" not in wh or wh.startswith("file:")
    wh = wh.removeprefix("file:")
    _PQ_INDEX_GEN += 1
    base = os.path.join(
        wh,
        "pq_index_" + re.sub(r"[^0-9a-zA-Z]+", "_", sf_dir.strip("/")),
        f"gen_{os.getpid()}_{_PQ_INDEX_GEN}",
    )
    _PQ_GEN_PATHS.append(base)
    if local:
        import shutil

        for stale in _PQ_GEN_PATHS[:-_PQ_GEN_RETAIN]:
            shutil.rmtree(stale, ignore_errors=True)
        del _PQ_GEN_PATHS[:-_PQ_GEN_RETAIN]
    return base


def sim_index_persist(spark, sf_dir):
    """ANN index shipping witness: the PQ index ARTIFACTS (per-subspace
    codebooks + the (id, m, code) code table - at a deployment, the
    entire stored index at ~4 tinyints/vector) are written to parquet,
    reloaded into fresh frames, and ADC top-k is served from the
    RELOADED artifacts. The oracle is sim_topk_pq's unrolled SQL
    verbatim: the storage round-trip must be bit-lossless (ints and
    IEEE doubles are exact in parquet), so any serialization loss,
    schema drift, or code/codebook mismatch flips the hash. This is the
    index-build-once / serve-many lifecycle a 100 TB corpus requires -
    encoding is one pass, every later query touches only the tiny
    reloaded index."""
    cb = _pq_codebooks(spark, sf_dir)
    codes = similarity.pq_assign(_emb(spark, sf_dir), cb)
    # fresh per-call generation directory: an in-place overwrite would
    # delete the part files underneath any frame a PREVIOUS call returned
    # (Spark captures the file listing at read time), and two processes
    # sharing the warehouse would race; pid+counter isolates both, with
    # retention cleanup in _pq_index_gen_dir. The query's RESULT is
    # path-independent, so determinism is unaffected.
    base = _pq_index_gen_dir(spark, sf_dir)
    # the code table and the codebooks are independent artifacts over
    # disjoint directories - overlap the two writes (_overlapped r19);
    # the tiny codebook write rides under the bulk code write's tail
    _overlapped(
        spark,
        lambda: codes.write.mode("overwrite").parquet(
            os.path.join(base, "codes")
        ),
        lambda: cb.write.mode("overwrite").parquet(
            os.path.join(base, "codebooks")
        ),
    )
    codes_r = spark.read.parquet(os.path.join(base, "codes"))
    cb_r = spark.read.parquet(os.path.join(base, "codebooks"))
    return similarity.topk_cosine_pq(
        _emb(spark, sf_dir), TOPK, QUERY_IDS_BELOW, codebooks=cb_r, codes=codes_r
    ).orderBy("q_id", "rank")


#: append-batch selector for sim_index_append: vec_id % 10 == 3 is the
#: "new arrivals" batch, the rest the already-indexed corpus
APPEND_MOD = 10
APPEND_RESIDUE = 3


def sim_index_append(spark, sf_dir):
    """Incremental ANN index maintenance - the append lifecycle a 100 TB
    embedding corpus actually lives (the reference analogue is the
    hot-partition incremental merge, /root/reference/hdbpp.py:362-397:
    never recompute the immutable bulk, merge the new tail in):

      1. train PQ codebooks on the BASE corpus only (vec_id % 10 != 3)
         and encode the base - one bulk pass, persisted to a generation
         directory as the stored index;
      2. a new batch arrives (vec_id % 10 == 3): encode it against the
         RELOADED, FROZEN codebooks - the batch pass touches only batch
         rows, never the base corpus - and parquet-APPEND the new codes
         to the stored code table;
      3. serve ADC top-k for all queries from the RE-READ combined index.

    Because PQ encoding is per-row (each vector's nearest codeword per
    subspace, independent of every other vector), append-encoding against
    frozen codebooks is EXACTLY equal to a full re-encode - the oracle
    proves it by re-encoding the whole corpus against the base-trained
    codebooks in SQL, so a drifted codebook reload, a lost append file,
    or a batch/base schema skew flips the hash. Scale shape: incremental
    cost is O(batch), the served index is still ~4 tinyints/vector, and
    codebooks stay broadcast-sized."""
    emb = _emb(spark, sf_dir)
    is_batch = F.col("vec_id") % APPEND_MOD == APPEND_RESIDUE
    batch_emb = emb.where(is_batch)
    base_emb = emb.where(~is_batch)
    # base codebook training shares the session memo (the deterministic
    # training is identical across calls); the persist/append/reload/
    # serve lifecycle below runs fresh per call - that is what the
    # driver witnesses
    cb = _pq_base_codebooks(spark, sf_dir)
    gen = _pq_index_gen_dir(spark, sf_dir)
    codes_path = os.path.join(gen, "codes")
    # base-code and codebook writes are independent (disjoint dirs) -
    # overlapped (r19); the APPEND below depends on both (it reloads
    # the codebooks and appends into the code dir) and stays sequenced
    _overlapped(
        spark,
        lambda: similarity.pq_assign(base_emb, cb)
        .write.mode("overwrite")
        .parquet(codes_path),
        lambda: cb.write.mode("overwrite").parquet(
            os.path.join(gen, "codebooks")
        ),
    )
    # the append pass: frozen reloaded codebooks, batch rows only
    cb_r = spark.read.parquet(os.path.join(gen, "codebooks"))
    similarity.pq_assign(batch_emb, cb_r).write.mode("append").parquet(codes_path)
    codes_r = spark.read.parquet(codes_path)
    return similarity.topk_cosine_pq(
        emb, TOPK, QUERY_IDS_BELOW, codebooks=cb_r, codes=codes_r
    ).orderBy("q_id", "rank")


def stream_index_append(spark, sf_dir):
    """Streaming ANN index maintenance (VERDICT r18 #8 stretch) - the
    STREAM twin of sim_index_append, closing the index-ingest loop the
    way stream_sink_compact closed parquet ingest: the stored
    generation (base codes + frozen codebooks) is built once in batch;
    new vectors then ARRIVE as a file stream and each micro-batch
    encodes against the RELOADED frozen codebooks inside a
    foreachBatch/availableNow drain and parquet-appends to the code
    table; ADC top-k is served from the combined index.

    Exactly-once ACROSS A RESTART (the stream_restart discipline,
    deterministic split - never timing): phase 1 streams half the
    arrivals ((vec_id // 10) % 2 == 0) through a checkpointed query and
    STOPS; the other half lands in the source; phase 2 is a NEW query
    on the SAME checkpoint, which must resume from the offset log and
    encode exactly the late files. foreachBatch is at-least-once by
    contract, so idempotence is by construction: each micro-batch
    OVERWRITES its own ``batch_id=N`` directory - a replayed batch
    rewrites identical bytes instead of duplicating rows.

    Self-certifying columns (the sim_mips aug_ok discipline - derived
    on the engine side, pinned true in the oracle):
      - ``codes_exact``: the combined code table has exactly
        n_vectors * PQ_M rows AND as many distinct (id, m) keys - a
        duplicated replay or a lost append file flips it (the ADC max-
        aggregate alone is dupe-blind, so the count contract is what
        makes exactly-once hash-visible);
      - ``resumed_only_delta``: phase 2's numInputRows equals the late
        half's row count - the restart read the offset log, not the
        directory.

    PQ encoding is per-row, so stream-append-encoding against frozen
    codebooks equals the batch append equals one full re-encode - the
    oracle is sim_index_append's unrolled SQL (train on base, re-encode
    everything, ADC-rank) with the contract columns pinned true.

    Scale shape: incremental cost is O(arriving batch) per trigger, the
    stored index stays ~4 tinyints/vector, codebooks stay broadcast-
    sized, and the restart contract is the offset log's - no
    reprocessing regardless of corpus size."""
    emb = _emb(spark, sf_dir)
    is_batch = F.col("vec_id") % APPEND_MOD == APPEND_RESIDUE
    batch_emb = emb.where(is_batch)
    base_emb = emb.where(~is_batch)
    cb = _pq_base_codebooks(spark, sf_dir)
    gen = _pq_index_gen_dir(spark, sf_dir)
    codes_base = os.path.join(gen, "codes_base")
    codes_stream = os.path.join(gen, "codes_stream")
    cb_dir = os.path.join(gen, "codebooks")
    src = os.path.join(gen, "arrivals")
    ckpt = os.path.join(gen, "ckpt")
    early = F.floor(F.col("vec_id") / F.lit(APPEND_MOD)) % 2 == 0
    # the stored generation (base codes + the frozen codebooks) and the
    # phase-1 arrivals are three INDEPENDENT writes over disjoint
    # outputs - overlapped (r19). Values untouched: same frames, same
    # directories.
    _overlapped(
        spark,
        lambda: similarity.pq_assign(base_emb, cb)
        .write.mode("overwrite")
        .parquet(codes_base),
        lambda: cb.write.mode("overwrite").parquet(cb_dir),
        lambda: batch_emb.where(early).repartition(2).write.parquet(src),
    )
    cb_r = spark.read.parquet(cb_dir)
    schema = spark.read.parquet(src).schema

    def encode(bdf, batch_id):
        similarity.pq_assign(bdf, cb_r).write.mode("overwrite").parquet(
            os.path.join(codes_stream, f"batch_id={batch_id}")
        )

    def drain_phase():
        # availableNow drains everything unprocessed in ONE micro-batch
        # (optimization r19: the r19-build maxFilesPerTrigger=1 split
        # each phase into one batch per file - two extra foreachBatch
        # plan+write+commit round-trips per query that certify nothing
        # the one-batch drain does not: the restart/offset-log contract
        # is per PHASE, per-batch-dir overwrite idempotence is exercised
        # by both phases' batches, and the combined (id, m, code) set -
        # the only thing any consumer reads - is identical under any
        # batch split because PQ encoding is per-row).
        q = (
            spark.readStream.schema(schema)
            .parquet(src)
            .writeStream.foreachBatch(encode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _drain(q)
        return q

    drain_phase()
    # phase-2 arrivals: observe the append itself for the late-half row
    # count (optimization r19 - one fewer count job; the observation
    # rides the write's plan, same rows by construction)
    late_obs = Observation("late_rows")
    (
        batch_emb.where(~early)
        .observe(late_obs, F.count(F.lit(1)).alias("n"))
        .repartition(2)
        .write.mode("append")
        .parquet(src)
    )
    # One started query per phase is REQUIRED by the witness, not an
    # orchestration accident (VERDICT r19 #7, investigated and closed):
    # an availableNow query terminates once it has drained what was
    # available at start, so a single started query cannot process
    # phase-2 arrivals - and the exactly-once claim IS that a NEW query
    # on the SAME checkpoint resumes from the offset log
    # (resumed_only_delta). Collapsing the phases into one long-lived
    # trigger would delete the restart the query exists to certify.
    q2 = drain_phase()
    phase2_rows = sum(p["numInputRows"] for p in q2.recentProgress)
    late_rows = late_obs.get["n"]

    codes_r = spark.read.parquet(codes_base).unionByName(
        spark.read.parquet(codes_stream).select("id", "m", "code")
    )
    # the corpus count and the combined-index stats are INDEPENDENT
    # certification reads (different tables) - overlapped (r20, the
    # scale_zorder discipline) instead of two serial driver barriers
    cert: dict = {}

    def _nvec():
        cert["n_vec"] = emb.count()

    def _stats():
        cert["stats"] = codes_r.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("id", "m").alias("nd"),
        ).collect()[0]

    _overlapped(spark, _nvec, _stats)
    n_vec, stats = cert["n_vec"], cert["stats"]
    codes_exact = (
        stats["n"] == n_vec * similarity.PQ_M and stats["nd"] == stats["n"]
    )
    return (
        similarity.topk_cosine_pq(
            emb, TOPK, QUERY_IDS_BELOW, codebooks=cb_r, codes=codes_r
        )
        .select(
            "q_id",
            "cand_id",
            "acos_r",
            "rank",
            F.lit(codes_exact).alias("codes_exact"),
            F.lit(phase2_rows == late_rows).alias("resumed_only_delta"),
        )
        .orderBy("q_id", "rank")
    )


def pipe_dedup_sweep(spark, sf_dir):
    """Dedup threshold sensitivity in one candidate pass: pair counts and
    affected-document counts at five Jaccard thresholds, computed from
    ONE prefix-filtered pair generation at the loosest threshold (0.6)
    and an explode over the threshold list - the tuning table an operator
    reads before committing a dedup bar, without five corpus passes."""
    pairs = dedup.ngram_jaccard_pairs(_docs(spark, sf_dir), SWEEP_THRESHOLDS[0])
    swept = pairs.select(
        "id_a",
        "id_b",
        "jaccard",
        F.explode(F.array(*[F.lit(t) for t in SWEEP_THRESHOLDS])).alias("t"),
    ).where(F.col("jaccard") >= F.col("t"))
    n_pairs = swept.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    n_docs = (
        swept.select("t", F.explode(F.array("id_a", "id_b")).alias("id"))
        .groupBy("t")
        .agg(F.countDistinct("id").cast("long").alias("n_docs"))
    )
    return n_pairs.join(n_docs, "t").orderBy("t")


# --- round 11, batch 3: winnowing / gap fill / PII scrub / epoch shuffle --


def text_winnow(spark, sf_dir):
    """Robust-winnowing fingerprint selection (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 - the MOSS primitive) over token 4-grams with window w=5
    (operators/textquality.winnow_fingerprints): from every window of 5
    consecutive gram hashes select the minimum, rightmost on ties, dedup
    across windows. Guarantees any shared 8-token substring is caught by
    fingerprint intersection while selecting ~2/(w+1) of positions - the
    local fingerprinting complement to the global rolling hash of
    text_fingerprint. Per-row O(n*w) array arithmetic, zero shuffle; the
    position-weighted checksum pins the exact selected (position, hash)
    set. Oracle: the rightmost-window-minimum criterion replayed as a
    bounded +-(w-1) neighbor self-join - a different formulation, so
    parity checks the algorithm, not the transliteration."""
    return textquality.winnow_fingerprints(_docs(spark, sf_dir)).orderBy("doc_id")


def events_gap_fill(spark, sf_dir):
    """Regular-grid forward fill: collapse each user's event stream to
    day grain (last reading per day; (user_id, epoch_us) is unique in
    this corpus - the stream_last_value determinism invariant), explode
    the per-user [first_day, last_day] span into a dense day grid, and
    carry the last observation forward across gap days (the
    time-series-regularization step that turns irregular telemetry into
    the fixed-step tensor a trainer consumes; reference analogue: the
    last-value-resample the viewer applies before plotting,
    plot.py:74-130, generalized to explicit gap accounting). Output one
    bounded row per user: span length, observed/filled day counts, and
    integer checksums of the observed values (floor-micro quantized -
    cross-engine-exact, never a float sum) and of the filled series
    (day-weighted, so a fill carried from the wrong day fails parity).
    Scale: day-grain pre-aggregation before the grid join; sequence()
    explode bounded by span days per user; ONE user-partitioned window -
    never global; all joins on (user_id, day)."""
    from pyspark.sql.window import Window

    from ..functions.time import epoch_us

    ev = load_tables(spark, sf_dir)["events"].where(
        F.col("value").isNotNull() & ~F.isnan("value")
    )
    us = epoch_us(F.col("ts"))
    daily = (
        ev.select(
            "user_id",
            F.floor(us / 86_400_000_000).cast("long").alias("day"),
            us.alias("us"),
            "value",
        )
        .groupBy("user_id", "day")
        .agg(F.max_by("value", "us").alias("v"))
    )
    span = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid = span.select(
        "user_id", F.explode(F.sequence("d0", "d1")).alias("day")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = grid.join(daily, ["user_id", "day"], "left").select(
        "user_id",
        "day",
        "v",
        F.last("v", ignorenulls=True).over(w).alias("fv"),
    )
    q = lambda c: F.floor(c * 1e6).cast("long")  # noqa: E731
    return (
        filled.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.count("v").cast("long").alias("n_obs"),
            (F.count(F.lit(1)) - F.count("v")).cast("long").alias("n_filled"),
            F.sum(q(F.col("v"))).cast("long").alias("obs_micro"),
            F.sum(q(F.col("fv")) * (F.col("day") % 97 + 1))
            .cast("long")
            .alias("fill_ck"),
        )
        .orderBy("user_id")
    )


#: PII regexes - deliberately basic character classes so Java (Spark) and
#: RE2 (DuckDB) agree: ASCII classes, bounded repeats, \b word boundaries
PII_EMAIL = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\b\d{3}-\d{4}\b"


def text_pii_scrub(spark, sf_dir):
    """PII detection + redaction accounting - the scrub pass every
    public-corpus pipeline runs before training. The corpus itself is
    synthetic word salad, so PII is INJECTED deterministically first
    (doc_id % 4 selects email / phone / IPv4 / clean, values derived from
    doc_id - the mixed_type_datapoints fixture discipline: both engines
    rebuild the identical dirty corpus), then scrubbed by three
    Java/RE2-portable regexes applied email -> ip -> phone. Output per
    doc: per-category match counts, redacted length, and md5 of the
    scrubbed text - the hash witnesses every replacement byte-for-byte.
    Scale: corpus-linear regexp_replace/extract_all inside codegen, zero
    shuffle, no UDF."""
    docs = _docs(spark, sf_dir)
    did = F.col("doc_id")
    tail = (
        F.when(
            did % 4 == 0,
            F.concat(
                F.lit(" contact user"),
                did.cast("string"),
                F.lit("@example.com for access"),
            ),
        )
        .when(
            did % 4 == 1,
            F.concat(
                F.lit(" call 555-"),
                F.lpad((did % 10_000).cast("string"), 4, "0"),
                F.lit(" now"),
            ),
        )
        .when(
            did % 4 == 2,
            F.concat(
                F.lit(" host 10."),
                (did % 256).cast("string"),
                F.lit(".0."),
                ((did * 7) % 256).cast("string"),
                F.lit(" responds"),
            ),
        )
        .otherwise(F.lit(""))
    )
    dirty = F.concat(F.col("text"), tail)
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(dirty, PII_EMAIL, "<EMAIL>"), PII_IP, "<IP>"
        ),
        PII_PHONE,
        "<PHONE>",
    )
    count = lambda pat: F.size(  # noqa: E731
        F.regexp_extract_all(dirty, F.lit(pat), F.lit(0))
    ).cast("long")
    return docs.select(
        "doc_id",
        count(PII_EMAIL).alias("n_email"),
        count(PII_IP).alias("n_ip"),
        count(PII_PHONE).alias("n_phone"),
        F.length(scrubbed).cast("long").alias("n_chars_clean"),
        F.md5(scrubbed).alias("clean_md5"),
    ).orderBy("doc_id")


#: training epochs materialized by pipe_epoch_shuffle
SHUFFLE_EPOCHS = 4


def pipe_epoch_shuffle(spark, sf_dir):
    """Deterministic per-epoch global shuffle - the epoch-reshuffle
    contract of a training loader: each epoch e orders the corpus by the
    portable hash md5_int60(e ':' doc_id), giving E decorrelated,
    reproducible permutations with no RNG state to checkpoint. Positions
    come from the DISTRIBUTED rank operator (operators/rank.py:
    range-partition on (epoch, key, doc_id), rank within partitions,
    bounded offset shift - never a single-task global window; per-epoch
    position = global rank minus the epoch's broadcast min). Output one
    row per epoch: cardinalities, a distinct-position permutation
    witness, first/last docs under the ordering, and a position-weighted
    checksum pinning the ENTIRE permutation. Oracle: plain
    ROW_NUMBER() OVER (PARTITION BY epoch ORDER BY hash) - the naive
    form the distributed rank must reproduce exactly."""
    from ..functions.texthash import MERSENNE_31, md5_int60
    from ..operators.rank import global_rank

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(SHUFFLE_EPOCHS - 1))).alias(
            "epoch"
        ),
    )
    keyed = docs.select(
        F.col("epoch").cast("long").alias("epoch"),
        "doc_id",
        md5_int60(
            F.concat(
                F.col("epoch").cast("string"),
                F.lit(":"),
                F.col("doc_id").cast("string"),
            )
        ).alias("key"),
    )
    ranked = global_rank(keyed, ["epoch", "key", "doc_id"], out_col="grank")
    base = ranked.groupBy("epoch").agg(F.min("grank").alias("g0"))
    pos = (
        ranked.join(F.broadcast(base), "epoch")
        .select(
            "epoch",
            "doc_id",
            "key",
            (F.col("grank") - F.col("g0") + 1).alias("pos"),
        )
    )
    m = F.lit(MERSENNE_31)
    return (
        pos.groupBy("epoch")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.count_distinct("pos").cast("long").alias("n_pos"),
            F.min_by("doc_id", "pos").cast("long").alias("first_doc"),
            F.max_by("doc_id", "pos").cast("long").alias("last_doc"),
            (F.sum((F.col("pos") % m) * ((F.col("doc_id") + 1) % m) % m) % m)
            .cast("long")
            .alias("perm_ck"),
        )
        .orderBy("epoch")
    )


#: k-center coreset size
KCENTER_K = 5


def sim_kcenter(spark, sf_dir):
    """Greedy k-center coreset over the embedding corpus
    (operators/similarity.kcenter_select): farthest-first traversal,
    k = 5 bounded supersteps, each one corpus pass + a 1-row
    TakeOrdered - the diversity-selection primitive for exemplar
    picking / eval-set spread. round-6 cosine, id tie-breaks; the
    oracle unrolls the same greedy trace as k-1 chained
    ORDER-BY-LIMIT-1 CTEs - a different (quadratic re-scoring)
    formulation, so parity checks the greedy semantics."""
    from ..operators.similarity import kcenter_select

    emb = load_tables(spark, sf_dir)["embeddings"]
    return kcenter_select(emb, KCENTER_K)


#: LTTB bucket count per user series
LTTB_BUCKETS = 24


def events_lttb(spark, sf_dir):
    """Per-series LTTB-style plot downsampling (Steinarsson'13's
    largest-triangle-three-buckets, PARALLELIZED): each user's stream is
    cut into 24 equal-time buckets; interior buckets keep the point with
    the largest triangle area against the PREVIOUS and NEXT present
    buckets' mean anchors (the sequential previous-SELECTED-point
    dependency is replaced by the fixed mean anchor so every bucket
    decides independently - the documented scale trade; first/last
    present buckets keep their earliest/latest point, as in the
    original). This is the reference viewer's visual-downsampling
    concern (plot.py raster pre-reduction) expressed as a point
    SELECTION, so downstream tools get real events, not pixels.

    Determinism across engines: anchors are exact-integer sums
    (micro-quantized values, offset microseconds) divided once; the
    area expression is the same IEEE double arithmetic on both sides,
    rounded to 6 before the argmax; ties -> earliest event. Selection
    is a map-side max_by over (user, bucket) - one hash aggregation,
    no per-point window; the oracle uses the naive ROW_NUMBER form.

    Scale: anchors are a (users x 24)-row aggregate joined back on
    (user_id, bucket) - co-partitioned with the points; everything else
    is per-row arithmetic + one aggregation."""
    from pyspark.sql.window import Window

    from ..functions.time import epoch_us

    ev = load_tables(spark, sf_dir)["events"].where(
        F.col("value").isNotNull() & ~F.isnan("value")
    )
    us = epoch_us(F.col("ts"))
    pts = ev.select(
        "user_id", "event_id", us.alias("us"), F.col("value").alias("v")
    )
    span = pts.groupBy("user_id").agg(
        F.min("us").alias("u0"), (F.max("us") - F.min("us") + 1).alias("sp")
    )
    b = F.least(
        F.floor((F.col("us") - F.col("u0")) * LTTB_BUCKETS / F.col("sp")),
        F.lit(LTTB_BUCKETS - 1),
    ).cast("long")
    pb = (
        pts.join(F.broadcast(span), "user_id")
        .select(
            "user_id",
            "event_id",
            "us",
            "v",
            b.alias("b"),
            (F.col("us") - F.col("u0")).alias("tq"),
            ((F.col("us") - F.col("u0")) / 1e6).alias("tp"),
        )
    )
    anchors = pb.groupBy("user_id", "b").agg(
        (F.sum("tq") / F.count(F.lit(1)) / 1e6).alias("tbar"),
        (
            F.sum(F.floor(F.col("v") * 1e6).cast("long"))
            / F.count(F.lit(1))
            / 1e6
        ).alias("vbar"),
    )
    wb = Window.partitionBy("user_id").orderBy("b")
    nb = anchors.select(
        "user_id",
        "b",
        F.lag("tbar").over(wb).alias("t_prev"),
        F.lag("vbar").over(wb).alias("v_prev"),
        F.lead("tbar").over(wb).alias("t_next"),
        F.lead("vbar").over(wb).alias("v_next"),
    )
    j = pb.join(nb, ["user_id", "b"])
    area = F.round(
        F.abs(
            (F.col("t_prev") - F.col("t_next")) * (F.col("v") - F.col("v_prev"))
            - (F.col("t_prev") - F.col("tp"))
            * (F.col("v_next") - F.col("v_prev"))
        ),
        6,
    )
    key = (
        F.when(
            F.col("t_prev").isNull(),
            F.struct(F.lit(0.0).alias("o1"), (-F.col("us")).alias("o2")),
        )
        .when(
            F.col("t_next").isNull(),
            F.struct(F.lit(0.0).alias("o1"), F.col("us").alias("o2")),
        )
        .otherwise(F.struct(area.alias("o1"), (-F.col("us")).alias("o2")))
    )
    pick = F.max_by(
        F.struct(
            F.col("event_id"),
            F.round(F.col("tp"), 6).alias("t_r"),
            F.round(F.col("v"), 6).alias("v_r"),
        ),
        key,
    )
    return (
        j.groupBy("user_id", "b")
        .agg(pick.alias("p"))
        .select(
            "user_id",
            F.col("b").alias("bucket"),
            F.col("p.event_id").alias("event_id"),
            F.col("p.t_r").alias("t_r"),
            F.col("p.v_r").alias("v_r"),
        )
        .orderBy("user_id", "bucket")
    )


def events_changepoint(spark, sf_dir):
    """Offline CUSUM changepoint detection per user series - the drift
    detector a monitoring/data-quality pipeline runs over telemetry
    (Page'54 cumulative sums, offline single-changepoint variant). The
    statistic is computed INTEGER-EXACT by scaling: with micro-quantized
    values q_i and series totals (n, T = sum q_i), the centered cumsum

        S_k = n * sum_{i<=k} q_i  -  k * T

    equals n^2 * (running mean drift) with zero float error; the
    changepoint is argmax |S_k| (ties -> earliest k), its location and
    magnitude exact BIGINTs on both engines. Overflow bound documented:
    |S_k| <= n^2 * max|q| needs n <= ~128k events/series at the 560.0
    value ceiling; beyond that the same expression lifts to
    decimal(38,0) (the sim_pca integer-moment discipline).

    Scale: ONE user-partitioned ordered window for the running sum
    (never global), then hash-only reduction - max + conditional min +
    two broadcast-grain joins back at user grain; no struct-keyed
    aggregation, no per-point ranking window. Output one row per user:
    n, the 1-based changepoint index, its microsecond timestamp, the
    exact drift numerator and the normalized drift_r =
    round(|S|/(n*n*1e6), 6) (mean-shift in value units)."""
    from pyspark.sql.window import Window

    from ..functions.time import epoch_us

    ev = load_tables(spark, sf_dir)["events"].where(
        F.col("value").isNotNull() & ~F.isnan("value")
    )
    pts = ev.select(
        "user_id",
        epoch_us(F.col("ts")).alias("us"),
        F.floor(F.col("value") * 1e6).cast("long").alias("q"),
    )
    tot = pts.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("q").cast("long").alias("t"),
    )
    wo = Window.partitionBy("user_id").orderBy("us")
    cum = (
        pts.join(F.broadcast(tot), "user_id")
        .select(
            "user_id",
            "us",
            "n",
            F.row_number().over(wo).cast("long").alias("k"),
            F.sum("q").over(
                Window.partitionBy("user_id")
                .orderBy("us")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ).alias("cq"),
            F.col("t"),
        )
        .select(
            "user_id",
            "us",
            "n",
            "k",
            F.abs(F.col("n") * F.col("cq") - F.col("k") * F.col("t")).alias(
                "s_abs"
            ),
        )
        # materialize ONCE: three consumers (peak, tie-break, final pick)
        # would otherwise each re-execute the corpus window (the rank.py
        # localCheckpoint discipline); after this the reductions scan
        # frozen blocks. EAGER on purpose: the consumers are parallel
        # branches of one final plan - lazy would duplicate-compute the
        # unpersisted window (the sim_ann_compare r14 measurement)
        .localCheckpoint()
    )
    peak = cum.groupBy("user_id").agg(F.max("s_abs").alias("drift"))
    at_peak = cum.join(F.broadcast(peak), "user_id").where(
        F.col("s_abs") == F.col("drift")
    )
    first = at_peak.groupBy("user_id").agg(F.min("k").alias("cp_k"))
    return (
        at_peak.join(F.broadcast(first), "user_id")
        .where(F.col("k") == F.col("cp_k"))
        .select(
            "user_id",
            F.col("n"),
            F.col("cp_k"),
            F.col("us").alias("cp_us"),
            F.col("drift"),
            F.round(
                F.col("drift") / (F.col("n") * F.col("n") * 1e6), 6
            ).alias("drift_r"),
        )
        .orderBy("user_id")
    )


#: MMR selection size and relevance/diversity literals (mu is its own
#: literal, never 1 - lambda: cross-engine double discipline)
MMR_K = 5
MMR_LAMBDA = 0.7
MMR_MU = 0.3


def sim_mmr(spark, sf_dir):
    """Maximal-marginal-relevance diversified top-k
    (operators/similarity.mmr_select, Carbonell-Goldstein'98): greedy
    k = 5 picks maximizing lam*relevance - (1-lam)*redundancy against
    the already-picked set, query = vector 0 - the re-ranking step
    between ANN candidate generation and a RAG consumer. Same bounded
    superstep scale shape as sim_kcenter; round-6 arithmetic, id
    tie-breaks; the oracle replays the greedy as chained
    ORDER-BY-LIMIT-1 CTEs with full-pool re-scoring."""
    from ..operators.similarity import mmr_select

    emb = load_tables(spark, sf_dir)["embeddings"]
    return mmr_select(emb, MMR_K, MMR_LAMBDA, MMR_MU)


def dedup_winnow(spark, sf_dir):
    """Cross-document winnowing match (the MOSS detector;
    operators/textquality.winnow_matches): pairs sharing >= 2 distinct
    winnow-selected fingerprint hashes, df-capped postings (64), shared
    count per pair - position-robust LOCAL substring detection, the
    complement to whole-doc Jaccard and fixed-grid spans. One posting
    equi-join + map-side count aggregation; oracle replays selection +
    the naive posting join over the shared winnow CTEs."""
    return _method_pairs(spark, sf_dir, "winnow").orderBy("id_a", "id_b")


def dedup_compare(spark, sf_dir):
    """The recall/precision-per-method table a dedup deployment reads
    before committing to a candidate generator (the sim_ann_compare
    pattern applied to the dedup family): ONE exact word-bigram Jaccard
    reference (>= 0.8, the session-memoized pair cache), joined against
    each approximate method's emitted pairs - MinHash+LSH band
    candidates (verified, so precision is 1 by construction and the row
    witnesses pure CANDIDATE recall), SimHash hamming <= 12, and
    winnowing shared-fingerprint matches. Per method: emitted pairs,
    hits, recall and precision against the reference. Bounded driver
    values only (per-method pair counts); every constituent reuses its
    session-memoized materialization (shingle arrays, pair cache,
    winnow marks). Oracle: each method's full oracle query as a
    subquery, counted the naive way."""
    docs = _docs(spark, sf_dir)
    exact = (
        dedup.ngram_jaccard_pairs(docs, JACCARD_THRESHOLD)
        .select("id_a", "id_b")
        .localCheckpoint(eager=False)  # first count() materializes (r14)
    )
    n_exact = exact.count()
    # each method serves from its session-memoized verified-pair
    # checkpoint (_method_pairs, optimization r19) - shared with
    # dedup_minhash_lsh / dedup_simhash / dedup_winnow /
    # pipe_dump_dedup instead of re-running three pipelines here
    methods = {
        m: _method_pairs(spark, sf_dir, m).select("id_a", "id_b")
        for m in ("minhash_lsh", "simhash", "winnow")
    }
    rows = []
    for name in sorted(methods):
        mdf = methods[name].localCheckpoint(eager=False)
        n_out = mdf.count()
        n_hit = mdf.join(exact, ["id_a", "id_b"], "left_semi").count()
        rows.append((name, n_out, n_hit, n_exact))
    # ratios rounded IN-ENGINE: python's round() is banker's (1/128 ->
    # 0.007812) while Spark/DuckDB round half away (-> 0.007813)
    return (
        spark.createDataFrame(
            rows, "method string, n_out long, n_hit long, n_exact long"
        )
        .select(
            "method",
            "n_out",
            "n_hit",
            "n_exact",
            F.round(F.col("n_hit") / F.col("n_exact"), 6).alias("recall_r"),
            F.round(F.col("n_hit") / F.col("n_out"), 6).alias("precision_r"),
        )
        .orderBy("method")
    )


def stream_cusum(spark, sf_dir):
    """Streaming drift monitor (streaming/stateful.streaming_cusum):
    Page's online CUSUM maintained as O(1) per-key state via the closed
    form S_k = P_k - min(0, prefix-min P) - prefix sums and accumulated
    minima vectorize per Arrow batch, so the stateful op carries just
    (P, minP, max drift, alarm count, n). Drained with availableNow the
    final state must equal the batch closed form EXACTLY (integer
    arithmetic end to end) - the oracle is two window functions over
    the event-ordered batch table. The batch events_changepoint is the
    offline retrospective twin (argmax |centered cumsum|); this is the
    monitor a pipeline runs forward."""
    from ..functions.time import epoch_us
    from ..streaming.stateful import streaming_cusum

    load_tables(spark, sf_dir)  # applies session confs (nanosAsLong)
    sink = f"stream_cusum_{next(_STREAM_SEQ)}"
    feed = (
        _stream_events(spark, sf_dir)
        .where(F.col("value").isNotNull() & ~F.isnan("value"))
        .select(
            F.col("user_id").cast("long").alias("user_id"),
            epoch_us(F.col("ts")).alias("us"),
            F.col("event_id").cast("long").alias("event_id"),
            F.floor(F.col("value") * 1e6).cast("long").alias("q"),
        )
    )
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            streaming_cusum(feed)
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        _drain(q)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    final = spark.sql(
        f"SELECT * FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id "
        f"ORDER BY n DESC) AS rn FROM {sink}) WHERE rn = 1"
    )
    return final.select(
        "user_id", "n", "p_final", "max_drift", "n_alarms"
    ).orderBy("user_id")


def pipe_split_safe(spark, sf_dir):
    """Leakage-safe train/val/test split: the hash-bucket assignment is
    keyed on the near-dup CLUSTER representative, not the document, so a
    duplicate pair can never straddle the train/eval boundary - the
    group-aware split every curation pipeline needs once it deduplicates
    softly (reweighting keeps both copies; a doc-keyed split would then
    leak val content into train verbatim). Composes the session-memoized
    pair cache -> connected components -> the md5-bucket split rule with
    a 'splitsafe' seed at cluster grain. Output (doc_id, cluster_id,
    split); singleton docs are their own cluster, so their assignment
    differs from pipe_split only by the seed. Oracle: the dedup_clusters
    recursive-CTE closure as a subquery + the same bucket CASE."""
    from ..operators import graph

    docs = _docs(spark, sf_dir)
    pairs = dedup.ngram_jaccard_pairs(docs, JACCARD_THRESHOLD).select(
        "id_a", "id_b"
    )
    clusters = graph.duplicate_clusters(docs, pairs)
    return (
        sampling.hash_split(
            clusters, SPLIT_FRACTIONS, id_col="cluster_id", seed="splitsafe"
        )
        .select("doc_id", "cluster_id", "split")
        .orderBy("doc_id")
    )


#: probe counts swept by sim_ivf_probe_sweep
IVF_SWEEP_PROBES = (1, 2, 4)


def sim_ivf_probe_sweep(spark, sf_dir):
    """Recall-vs-nprobe tuning curve for IVF-flat - the dial a 100 TB
    ANN deployment turns (probe more cells -> more candidates -> higher
    recall, linearly more work); the pipe_dedup_sweep pattern applied to
    the ANN family. ONE exact top-k baseline (localCheckpoint'd) joined
    by the IVF ranking at nprobe = 1, 2, 4; per probe count: emitted
    pairs, hits, recall. Bounded driver values (counts). The assignment
    + probe join + cosine scoring runs ONCE at max(nprobe) with each
    candidate's probe cell_rank carried (similarity.ann_scored_ivf,
    localCheckpoint'd - the r18 ADC-once factoring at the flat index:
    each smaller setting is a pure cell_rank filter + per-query top-k),
    so the sweep pays one corpus scan instead of three. The oracle
    re-derives each setting's full IVF query (the sim_ann_ivf SQL with
    its probe bound rewritten) as a subquery."""
    # both legs are the session-memoized frames (r19, VERDICT r18 #3):
    # the lazy exact checkpoint materializes under this first count (the
    # r14 discipline - no separate write pass), the scored frame under
    # its first setting's count; both are shared with sim_ann_ivf and
    # sim_ann_compare, so whichever query runs first pays the one
    # candidate-generation pass for the session
    exact = _ann_scored(spark, sf_dir, "exact")
    n_exact = exact.count()
    scored = _ann_scored(spark, sf_dir, "ivf")
    rows = []
    for np_ in IVF_SWEEP_PROBES:
        ivf = (
            similarity.topk_per_query(
                scored.where(F.col("cell_rank") <= np_), ANN_TOPK, "cos_r"
            )
            .select("q_id", "cand_id")
            .localCheckpoint(eager=False)
        )
        n_out = ivf.count()
        n_hit = ivf.join(exact, ["q_id", "cand_id"], "left_semi").count()
        rows.append((np_, n_out, n_hit, n_exact))
    return (
        spark.createDataFrame(
            rows, "nprobe long, n_out long, n_hit long, n_exact long"
        )
        .select(
            "nprobe",
            "n_out",
            "n_hit",
            "n_exact",
            F.round(F.col("n_hit") / F.col("n_exact"), 6).alias("recall_r"),
        )
        .orderBy("nprobe")
    )


def multimodal_phash(spark, sf_dir):
    """Block-mean perceptual content signature over the opaque binary
    payload (operators/multimodal.content_signature): 32 bits, bit i =
    block-i byte mean above the payload mean, compared INTEGER
    cross-multiplied so the signature hash-matches any engine. The
    multimodal dedup/fingerprint primitive - a real deployment swaps
    decoded pixels in behind the same Arrow mapInPandas shape. Oracle:
    per-character ascii() replay of the identical block rule (ASCII
    corpus, char == byte)."""
    with_blob = multimodal.attach_payload(_docs_sorted(spark, sf_dir))
    return multimodal.content_signature(with_blob).orderBy("doc_id")


#: perceptual-hash near-dup: 32-bit signature split into 4 x 8-bit bands.
#: PIGEONHOLE GUARANTEE: two signatures within Hamming distance 3 differ
#: in <= 3 bits, which can touch at most 3 of the 4 bands - so every
#: qualifying pair shares >= 1 exact band and the band-bucket equi-join
#: has EXACT recall at the threshold (the MinHash-LSH discipline, made
#: deterministic).
PHASH_HAM_MAX = 3
PHASH_BANDS = 4
PHASH_BAND_BITS = 8


def multimodal_near_dup(spark, sf_dir):
    """Perceptual near-duplicate pairs over the opaque binary payload -
    the image-dedup primitive (aHash/pHash Hamming matching) run at the
    signature grain: content_signature's 32-bit block-mean signatures
    (multimodal_phash), candidates from a 4x8-bit band-bucket equi-join
    (exact recall for Hamming <= 3 by pigeonhole - never all-pairs),
    verification one bit_count(xor) per candidate. A real deployment
    swaps DCT'd decoded pixels in behind the same signature column; the
    banding, join, and verify are grain-independent.

    Scale shape: signatures are one Arrow pass (memoized lazy
    localCheckpoint shared by the band explode and the verify sides);
    candidates come from an equi-join on (band, value) buckets - the
    skew bound is the duplicate-cluster size, exactly like the MinHash
    band join; the xor/bit_count verify is codegen integer arithmetic.
    Oracle replays banding and candidacy in SQL, so parity checks the
    pigeonhole filter itself, not just the verify."""
    from ..operators import multimodal

    sigs = (
        multimodal.content_signature(
            multimodal.attach_payload(_docs(spark, sf_dir))
        )
        .select("doc_id", "sig")
        .localCheckpoint(eager=False)
    )
    return _phash_near_dup_pairs(sigs).orderBy("doc_a", "doc_b")


def _phash_near_dup_pairs(sigs):
    """(doc_a, doc_b, hamming <= PHASH_HAM_MAX) from a (doc_id, sig)
    frame via the banded Hamming join - pigeonhole-pinned in
    tests/test_round15.py on constructed signatures."""
    bands = sigs.select(
        "doc_id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("sig", b * PHASH_BAND_BITS)
                        .bitwiseAND(F.lit((1 << PHASH_BAND_BITS) - 1))
                        .alias("bv"),
                    )
                    for b in range(PHASH_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "sig", F.col("bb.band").alias("band"), F.col("bb.bv").alias("bv"))
    a = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"), "band", "bv"
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"), "band", "bv"
    )
    cand = (
        a.join(b, ["band", "bv"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sig_a", "sig_b")
        .distinct()
    )
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return cand.select(
        "doc_a", "doc_b", ham.cast("long").alias("hamming")
    ).where(F.col("hamming") <= PHASH_HAM_MAX)


#: image-text alignment gate (VERDICT r18 #5): every 7th doc's caption
#: is deterministically swapped with its neighbor's (the constructed
#: misaligned-pair fixture - a crawl's wrong alt-text). 7 is COPRIME
#: with the generator's doc_id % 20 source assignment, so every source
#: sees a mix of aligned and mismatched pairs (5 would alias onto 4
#: all-misaligned sources). The keep threshold sits just under the
#: measured aligned-score floor (sf0.001: aligned >= 0.937, misaligned
#: mean ~0.73 with a tail crossing the threshold - the realistic
#: CLIP-gate shape where a few mismatched captions survive)
ALIGN_MISALIGN_EVERY = 7
ALIGN_MIN_COS = 0.93


def multimodal_alignment(spark, sf_dir):
    """Image-text alignment filtering - the CLIP-score curation stage
    (LAION-400M/-5B and DataComp gate image-text pairs on joint-embedding
    cosine BEFORE any other curation touches the pair; VERDICT r18 #5,
    the one published curation-stage family the battery lacked). Each
    doc's stored payload (the "image") meets its caption: doc_id % 7 == 0
    rows take their NEIGHBOR's caption (constructed misalignment), the
    rest their own. Both sides embed into the shared ALIGN_DIM hashed
    feature space - multimodal.image_tower (Arrow kernel over payload
    BYTES, raw tf) vs multimodal.text_tower (JVM expressions over the
    caption STRING, sublinear tf) - and the pair's score is the exact
    integer-dot cosine, round-6. Output: the per-source retention report
    (source, n_pairs, n_kept, retention_r, min_score, max_score) -
    what a curation run publishes per upstream dump.

    Scale: towers are corpus-sparse-linear with map-side-combinable
    aggregations; the score join is a per-pair sparse-dim equi-join
    (shuffle keyed on (id, dim) - candidate volume = nnz overlap, never
    |pairs| x D); the report is a tiny groupBy. All arithmetic before
    the final round-6 division is exact int64, so the oracle replays it
    bit-for-bit."""
    docs = _docs(spark, sf_dir)
    cap_id = F.when(
        F.col("doc_id") % ALIGN_MISALIGN_EVERY == 0, F.col("doc_id") + 1
    ).otherwise(F.col("doc_id"))
    pairs = (
        docs.select(
            F.col("doc_id").alias("img_id"),
            cap_id.alias("cap_id"),
            "source",
        )
        # inner join drops a dangling swapped caption at the corpus edge
        # (no doc N): the pair simply doesn't form, same as the oracle
        .join(docs.select(F.col("doc_id").alias("cap_id")), "cap_id")
    )
    # each tower feeds TWO consumers (the dot join and its norm
    # aggregate): lazy-checkpoint the corpus-sparse-linear tower
    # outputs so the Arrow payload kernel and the JVM explode/count
    # pass run ONCE per corpus, not once per consumer (plan showed 2
    # MapInPandas nodes before this)
    img = multimodal.image_tower(
        multimodal.attach_payload(docs)
    ).localCheckpoint(eager=False)
    txt = multimodal.text_tower(docs).localCheckpoint(eager=False)
    in2 = img.groupBy("doc_id").agg(
        F.sum(F.col("iw") * F.col("iw")).alias("n2")
    ).select(F.col("doc_id").alias("img_id"), F.col("n2").alias("in2"))
    tn2 = txt.groupBy("doc_id").agg(
        F.sum(F.col("tw") * F.col("tw")).alias("n2")
    ).select(F.col("doc_id").alias("cap_id"), F.col("n2").alias("tn2"))
    dots = (
        pairs.join(
            img.select(F.col("doc_id").alias("img_id"), "dim", "iw"), "img_id"
        )
        .join(
            txt.select(F.col("doc_id").alias("cap_id"), "dim", "tw"),
            ["cap_id", "dim"],
        )
        .groupBy("img_id", "cap_id")
        .agg(F.sum(F.col("iw") * F.col("tw")).alias("dot"))
    )
    score = F.when(
        (F.col("in2") > 0) & (F.col("tn2") > 0),
        F.round(
            F.coalesce(F.col("dot"), F.lit(0))
            / (F.sqrt(F.col("in2")) * F.sqrt(F.col("tn2"))),
            6,
        ),
    )
    scored = (
        pairs.join(dots, ["img_id", "cap_id"], "left")
        .join(in2, "img_id")
        .join(tn2, "cap_id")
        .select("img_id", "source", score.alias("score"))
    )
    kept = F.when(F.col("score") >= ALIGN_MIN_COS, 1).otherwise(0)
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(kept).cast("long").alias("n_kept"),
            F.round(
                F.sum(kept) / F.count(F.lit(1)), 6
            ).alias("retention_r"),
            F.min("score").alias("min_score"),
            F.max("score").alias("max_score"),
        )
        .orderBy("source")
    )


#: per-source token budget for pipe_token_budget (sources carry ~1.3-1.5k
#: tokens at sf0.01, so ~half of each source is selected - nontrivial at
#: every SF)
TOKEN_BUDGET = 800
#: boilerplate gram length / distinct-doc frequency floor: word 8-grams
#: recur across documents only when text is templated or near-duplicated
BOILER_K = 8
BOILER_MIN_DF = 2


def pipe_token_budget(spark, sf_dir):
    """Per-source greedy token-budget fill (sampling.token_budget_fill):
    walk each source in seeded-hash order, keep documents while the
    running token total stays <= TOKEN_BUDGET - the "N tokens per
    domain" selection a training mix executes once domain budgets are
    set in tokens, not document counts. Deterministic (md5 walk order,
    no RNG), monotone in the budget, one per-SOURCE window. Oracle:
    identical md5 ordering + windowed SUM in SQL."""
    return sampling.token_budget_fill(
        _docs(spark, sf_dir), TOKEN_BUDGET
    ).orderBy("doc_id")


def dedup_cross_source(spark, sf_dir):
    """Cross-source near-duplicate contamination matrix: the verified
    ngram-Jaccard pairs (memoized shingle machinery) joined back to each
    side's source and rolled up to (source_a, source_b, n_pairs) with
    least/greatest normalization - the dataset-vs-dataset overlap grid a
    curation team reads before blending corpora (which pairs of sources
    share content, and how much). Pair generation is the bucketed
    prefix-filtered candidate join (never all-pairs); the rollup is two
    equi-joins on doc id + an n_sources^2-bounded aggregate. Oracle: the
    dedup_ngram_jaccard SQL as a subquery + the same rollup."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.ngram_jaccard_pairs(docs, JACCARD_THRESHOLD).select(
        "id_a", "id_b"
    )
    src = docs.select("doc_id", "source")
    j = pairs.join(
        src.select(F.col("doc_id").alias("id_a"), F.col("source").alias("src_a")),
        "id_a",
    ).join(
        src.select(F.col("doc_id").alias("id_b"), F.col("source").alias("src_b")),
        "id_b",
    )
    return (
        j.select(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("source_a", "source_b")
    )


def sim_nearest_centroid(spark, sf_dir):
    """Nearest-class-mean (Rocchio) classification of the embedding
    corpus against its own label centroids, reported as a confusion
    matrix (similarity.nearest_centroid_confusion) - the label-space
    separability readout. All arithmetic on the 1e-6 fixed-point grid:
    exact integer centroids, distances, and argmin, so the SQL oracle
    replays the classifier bit-for-bit with no float-order hazard."""
    return similarity.nearest_centroid_confusion(_emb(spark, sf_dir)).orderBy(
        "label_true", "label_pred"
    )


def sim_cluster_stats(spark, sf_dir):
    """Per-label cluster dispersion (similarity.centroid_cluster_stats):
    n, exact fixed-point centroid norm, rounded mean squared distance to
    the own-class centroid - the collapsed/polluted-cluster monitor for
    labeled embedding stores. Broadcast equi-join against the
    codebook-sized centroid table; DECIMAL(38,0) distance accumulation."""
    return similarity.centroid_cluster_stats(_emb(spark, sf_dir)).orderBy(
        "label"
    )


def sim_outliers(spark, sf_dir):
    """Per-vector embedding outliers against the own-class centroid
    (similarity.centroid_outliers) - the pruning pass a curation
    pipeline runs on a labeled embedding store: squared distance to the
    class mean on the exact 1e-6 fixed grid, ROUND-6 ratio to the
    class's mean distance, flagged at ratio >= 4 (rounded-then-compared,
    bit-portable). Degenerate all-identical classes yield NULL ratio and
    no flag.

    The synthetic embeddings are a uniform shell (every own-class ratio
    sits in [0.88, 1.12] - no real outliers to find), so the declared
    query first DERIVES a polluted store deterministically (the
    pipe_delta discipline, replayed by the oracle): every vec_id % 41
    == 0 vector is scaled x3 component-wise - the off-manifold
    magnitude error a broken encoder or corrupted row produces - and
    the operator must flag exactly that injected set while the scaled
    vectors also drag their class centroids (the realistic coupling:
    pollution moves the mean it is measured against)."""
    # cast to double BEFORE scaling: a float32 x*3 rounds to float32 and
    # diverges from the oracle's double multiply at the 1e-3 grid edge
    emb_d = F.col("embedding").cast("array<double>")
    polluted = _emb(spark, sf_dir).select(
        "vec_id",
        F.when(
            F.col("vec_id") % 41 == 0,
            F.transform(emb_d, lambda x: x * 3),
        )
        .otherwise(emb_d)
        .alias("embedding"),
        "label",
    )
    return similarity.centroid_outliers(polluted).orderBy("vec_id")


def pipe_interleave(spark, sf_dir):
    """Deterministic domain-interleaved training-stream order: every
    document gets a global stream position that ROUND-ROBINS across
    sources - position 1..n_sources are each source's first (hash-order)
    document, then each source's second, and so on - the anti-clumping
    stream layout a training mix wants AFTER per-domain budgets are set
    (a plain shuffle leaves domain runs; interleaving bounds any window's
    domain skew by construction). Composes the per-SOURCE md5-walk rank
    (partitioned window, never global) with operators/rank.global_rank
    over the total order (within_rank, source, doc_id) - the distributed
    row_number, no single-partition window (the pipe_curriculum shape).
    Oracle: the same two window functions in SQL."""
    from pyspark.sql import Window

    from ..functions.texthash import md5_int60
    from ..operators import rank as rankop

    docs = _docs(spark, sf_dir)
    w = Window.partitionBy("source").orderBy("h", "doc_id")
    within = docs.select(
        "doc_id",
        "source",
        md5_int60(F.col("doc_id").cast("string"), salt="interleave").alias("h"),
    ).select(
        "doc_id",
        "source",
        F.row_number().over(w).cast("long").alias("within_rank"),
    )
    return (
        rankop.global_rank(
            within, ["within_rank", "source", "doc_id"], out_col="stream_pos"
        )
        .select("doc_id", "source", "within_rank", "stream_pos")
        .orderBy("doc_id")
    )


def text_entropy(spark, sf_dir):
    """Per-document unigram Shannon entropy (textquality.unigram_entropy)
    - the distribution-level diversity/quality signal (templated or
    degenerate text sits low, natural prose near ln(vocab)). Zero
    shuffles: a row-local higher-order array expression with integer
    NANONAT term accumulation, so the SQL oracle (which goes the naive
    explode + GROUP BY road) is a genuine algorithmic check."""
    return textquality.unigram_entropy(_docs_sorted(spark, sf_dir))


def sim_dim_stats(spark, sf_dir):
    """Per-dimension embedding-store health card
    (similarity.dimension_stats): n, mean, variance, dead-band zero
    count for every coordinate - the drift/collapse monitor run before
    trusting ANN or dedup results. Exact integer moments on the 1e-3
    grid; one dim-bounded partial aggregation."""
    return similarity.dimension_stats(_emb(spark, sf_dir)).orderBy("d")


def text_boilerplate(spark, sf_dir):
    """Boilerplate exposure per document (textquality.boilerplate_stats):
    share of word-8-gram positions covered by grams recurring in >=
    BOILER_MIN_DF distinct documents - the gram-level CCNet-style
    boilerplate signal. Two corpus-linear gram passes (df aggregate +
    semi-join), no all-pairs. Oracle: the shared k-gram row CTE + the
    same df filter and rollup."""
    return textquality.boilerplate_stats(
        _docs(spark, sf_dir), BOILER_K, BOILER_MIN_DF
    ).orderBy("id")


from ..operators.nbayes import NB_MIN_COUNT  # noqa: E402  (single source
# of the vocabulary-cut constant; the oracle SQL's literal 5 is pinned by
# the parity tests against it)


def text_nb_train(spark, sf_dir):
    """Multinomial Naive-Bayes model over the lang-labeled corpus
    (operators/nbayes.py): the min_count-filtered (token, label) table
    with add-one-smoothed log-likelihoods published as int64 micro-nats
    - the trained-classifier pipeline primitive (CCNet/fastText-style
    quality and domain filters). Oracle: the identical counts / vocab
    cut / ln arithmetic as SQL CTEs."""
    from ..operators import nbayes

    return nbayes.nb_model(_docs(spark, sf_dir), NB_MIN_COUNT).orderBy(
        "token", "label"
    )


def text_nb_classify(spark, sf_dir):
    """Score every document with the NB model and predict its label:
    broadcast wide model (one int64 column per label) + ONE groupBy(doc)
    aggregate; the per-label priors/defaults are a |labels|-row driver
    round-trip (the bounded-trainer discipline). Scores are int64 sums,
    integer-exact in any aggregation order; ties predict the smaller
    label string."""
    from ..operators import nbayes

    return _nb_preds(spark, sf_dir).orderBy("doc_id")


def text_nb_eval(spark, sf_dir):
    """Confusion matrix of the classifier over its training corpus
    (actual x predicted document counts) - the fit-quality report a
    filtering pipeline reads before trusting the scorer."""
    from ..operators import nbayes

    return nbayes.nb_confusion(_nb_preds(spark, sf_dir)).orderBy(
        "actual", "pred"
    )


# Dict order here is NOT the witness window anymore: since round 7 the
# 50-entry driver window is the explicit _WINDOW list in __spark_entry__.py
# (rotated every round toward the least-recently-witnessed queries); this
# dict is just the name -> callable registry.
EXTENSION_QUERIES = {
    "text_bpe_train": text_bpe_train,
    "text_bpe_apply": text_bpe_apply,
    "text_bm25": text_bm25,
    "text_nb_train": text_nb_train,
    "text_nb_classify": text_nb_classify,
    "text_nb_eval": text_nb_eval,
    "text_langid": text_langid,
    "text_lm_score": text_lm_score,
    "text_collocations": text_collocations,
    "text_keywords": text_keywords,
    "text_tokens": text_tokens,
    "text_bpe": text_bpe,
    "text_quality": text_quality,
    "text_fingerprint": text_fingerprint,
    "text_fertility": text_fertility,
    "text_repetition": text_repetition,
    "sim_quantize": sim_quantize,
    "dedup_embedding": dedup_embedding,
    "multimodal_meta": multimodal_meta,
    "multimodal_extract": multimodal_extract,
    "multimodal_resize": multimodal_resize,
    "multimodal_frames": multimodal_frames,
    "pipe_shard_sink": pipe_shard_sink,
    # -- stable, driver-witnessed in round 4 (green CORRECTNESS_r04 rows),
    #    code-unchanged in round 5 --
    "pipe_delta": pipe_delta,
    "pipe_stats_delta": pipe_stats_delta,
    "pipe_bootstrap": pipe_bootstrap,
    "text_chunk": text_chunk,
    "pipe_delta_apply": pipe_delta_apply,
    "pipe_split": pipe_split,
    "pipe_domain_mix": pipe_domain_mix,
    "pipe_curation": pipe_curation,
    "pipe_curation_trained": pipe_curation_trained,
    "pipe_funnel": pipe_funnel,
    "dedup_chunk": dedup_chunk,
    "dedup_chunk_near": dedup_chunk_near,
    "pipe_pack": pipe_pack,
    "stream_last_value": stream_last_value,
    "stream_window": stream_window,
    "stream_dedup": stream_dedup,
    "stream_join": stream_join,
    "events_attribution": events_attribution,
    "stream_restart": stream_restart,
    "events_scaffold": events_scaffold,
    "events_markov": events_markov,
    "stream_sessions": stream_sessions,
    "stream_sessions_evict": stream_sessions_evict,
    "sim_ann_lsh": sim_ann_lsh,
    "pipe_contamination": pipe_contamination,
    "sim_topk_quantized": sim_topk_quantized,
    "window_sessions": window_sessions,
    # sim_ann_recall / sim_pq_recall / sim_ivfpq_recall retired from the
    # battery in r9 (VERDICT r8 #7): sim_ann_compare measures all three
    # against ONE checkpointed exact baseline; the functions remain.
    "sim_ann_compare": sim_ann_compare,
    "scale_bucketed": scale_bucketed,
    "scale_compact": scale_compact,
    "scale_zorder": scale_zorder,
    "stream_sink_compact": stream_sink_compact,
    # r19: streaming ANN index maintenance (VERDICT r18 #8 stretch)
    "stream_index_append": stream_index_append,
    "stream_classify": stream_classify,
    # -- round 16 --
    "pipe_url_filter": pipe_url_filter,
    "pipe_url_dedup": pipe_url_dedup,
    "pipe_curation_sweep": pipe_curation_sweep,
    "sim_chunk_ann": sim_chunk_ann,
    "sim_chunk_ann_recall": sim_chunk_ann_recall,
    # -- round 15 --
    "stream_curation": stream_curation,
    "text_gopher_rules": text_gopher_rules,
    "sim_chunk_bm25": sim_chunk_bm25,
    "text_c4_rules": text_c4_rules,
    "pipe_pref_pairs": pipe_pref_pairs,
    "pipe_classifier_agreement": pipe_classifier_agreement,
    "multimodal_near_dup": multimodal_near_dup,
    "sim_outliers": sim_outliers,
    "pipe_refinedweb": pipe_refinedweb,
    "pipe_token_attribution": pipe_token_attribution,
    "text_ppl_buckets": text_ppl_buckets,
    "events_quantiles": events_quantiles,
    "events_quantiles_approx": events_quantiles_approx,
    "events_distinct_approx": events_distinct_approx,
    "events_heavy_hitters": events_heavy_hitters,
    "events_anomaly": events_anomaly,
    "events_funnel_seq": events_funnel_seq,
    "events_retention": events_retention,
    "events_props_parse": events_props_parse,
    "pipe_stats": pipe_stats,
    "pipe_pack_bpe": pipe_pack_bpe,
    "pipe_temperature_mix": pipe_temperature_mix,
    "pipe_curriculum": pipe_curriculum,
    "window_sliding": window_sliding,
    "events_rollup": events_rollup,
    "events_pivot": events_pivot,
    "sim_ann_ivf": sim_ann_ivf,
    "sim_ann_ivf_trained": sim_ann_ivf_trained,
    "sim_topk_pq": sim_topk_pq,
    "sim_ann_ivfpq": sim_ann_ivfpq,
    "dedup_exact": dedup_exact,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_simhash": dedup_simhash,
    "dedup_incremental": dedup_incremental,
    "dedup_clusters": dedup_clusters,
    "dedup_semantic": dedup_semantic,
    "dedup_clusters_semantic": dedup_clusters_semantic,
    "dedup_containment": dedup_containment,
    "dedup_spans": dedup_spans,
    "dedup_substr": dedup_substr,
    "graph_pagerank": graph_pagerank,
    "pipe_contamination_bloom": pipe_contamination_bloom,
    "sim_pca_gram": sim_pca_gram,
    "sim_pca": sim_pca,
    "sim_topk_cosine": sim_topk_cosine,
    # -- round 10 --
    "pipe_dsir": pipe_dsir,
    "pipe_sample_weighted": pipe_sample_weighted,
    "dedup_fuzzy": dedup_fuzzy,
    "dedup_keep_best": dedup_keep_best,
    "sim_sparse_topk": sim_sparse_topk,
    "text_vocab": text_vocab,
    "pipe_manifest": pipe_manifest,
    "events_rolling": events_rolling,
    "events_scd2": events_scd2,
    "sim_knn_graph": sim_knn_graph,
    "scale_colstats": scale_colstats,
    "text_domain_shift": text_domain_shift,
    "pipe_reweight": pipe_reweight,
    "pipe_dedup_sweep": pipe_dedup_sweep,
    "sim_index_persist": sim_index_persist,
    "sim_index_append": sim_index_append,
    "sim_mips": sim_mips,
    "pipe_mixture_schedule": pipe_mixture_schedule,
    # -- round 11, batch 3 --
    "text_winnow": text_winnow,
    "events_gap_fill": events_gap_fill,
    "text_pii_scrub": text_pii_scrub,
    "pipe_epoch_shuffle": pipe_epoch_shuffle,
    # -- round 11, batch 4 --
    "sim_kcenter": sim_kcenter,
    "events_lttb": events_lttb,
    "events_changepoint": events_changepoint,
    "sim_mmr": sim_mmr,
    "dedup_winnow": dedup_winnow,
    "dedup_compare": dedup_compare,
    "stream_cusum": stream_cusum,
    "stream_raster": stream_raster,
    "lifecycle_image_stream": lifecycle_image_stream,
    "pipe_split_safe": pipe_split_safe,
    "sim_ivf_probe_sweep": sim_ivf_probe_sweep,
    "multimodal_phash": multimodal_phash,
    # r19: the CLIP-score curation stage (VERDICT r18 #5)
    "multimodal_alignment": multimodal_alignment,
    # -- round 11, batch 6 --
    "pipe_token_budget": pipe_token_budget,
    "dedup_cross_source": dedup_cross_source,
    "sim_nearest_centroid": sim_nearest_centroid,
    "sim_cluster_stats": sim_cluster_stats,
    "text_boilerplate": text_boilerplate,
    # -- round 11, batch 7 --
    "text_entropy": text_entropy,
    "sim_dim_stats": sim_dim_stats,
    "pipe_interleave": pipe_interleave,
    # -- round 14 --
    "sim_hybrid_rrf": sim_hybrid_rrf,
    "sim_hard_negatives": sim_hard_negatives,
    # -- round 17 --
    "pipe_stage_order": pipe_stage_order,
    "pipe_dump_dedup": pipe_dump_dedup,
    "pipe_curation_lr": pipe_curation_lr,
    "pipe_lr_agreement": pipe_lr_agreement,
    "sim_chunk_probe_sweep": sim_chunk_probe_sweep,
    "sim_lsh_census": sim_lsh_census,
}

from .extensions_oracle import EXTENSION_ORACLE  # noqa: E402

__all__ = ["EXTENSION_QUERIES", "EXTENSION_ORACLE"]
