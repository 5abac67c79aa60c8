"""Physical-plan audits: the properties that make the engine scale are
asserted, not assumed (SURVEY §4, prompt: 'iterate until it's the plan
you'd want'). These tests fail if a regression turns a pushed filter into a
post-scan filter, a broadcast join into a shuffle join, a top-k into a
global sort, or a candidate join back into a cross product.
"""

import pytest

import __spark_entry__ as entry_mod
from tests.conftest import SF_SMOKE

QUERIES = entry_mod.queries()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _seq(seq) -> list:
    """A Scala ``Seq`` reached over py4j as a Python list."""
    return [seq.apply(i) for i in range(seq.size())]


def _scan_nodes(node) -> list:
    """Every ``FileSourceScanExec`` under ``node``, looking through
    adaptive execution's wrapper to the plan it currently runs."""
    name = node.getClass().getSimpleName()
    if name == "FileSourceScanExec":
        return [node]
    if name == "AdaptiveSparkPlanExec":
        return _scan_nodes(node.executedPlan())
    return [scan for child in _seq(node.children()) for scan in _scan_nodes(child)]


def test_q2_time_filter_reaches_parquet(spark):
    """The incremental lower-bound (S2) must push down to the parquet scan
    via the raw int64 nanosecond column, engaging row-group statistics."""
    plan = _plan(QUERIES["q2"](spark, SF_SMOKE))
    assert "PushedFilters" in plan
    assert "_ts_ns" in plan.split("PushedFilters", 1)[1].split("\n", 1)[0] or (
        "GreaterThanOrEqual(ts" in plan
    )


def test_q1_scan_prunes_columns(spark):
    """A 4-column projection must not read the whole events schema."""
    plan = _plan(QUERIES["q1"](spark, SF_SMOKE))
    read_schema = plan.split("ReadSchema:", 1)[1].split("\n", 1)[0]
    assert "props" not in read_schema and "event_type" not in read_schema


def test_dimension_joins_broadcast(spark):
    """Catalog/dimension routing joins (J1/q6, q14) must broadcast the
    small side - never shuffle the fact table on the join key."""
    for name in ("q6", "q14"):
        plan = _plan(QUERIES[name](spark, SF_SMOKE))
        assert "BroadcastHashJoin" in plan, f"{name}: dimension join not broadcast"


def test_q12_topk_is_take_ordered(spark):
    """ORDER BY + LIMIT must plan as TakeOrderedAndProject (per-partition
    top-k + merge), never a global sort."""
    plan = _plan(QUERIES["q12"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan


def test_dedup_queries_have_no_cross_product(spark):
    """Every similarity/dedup pipeline is candidate-bucketed: a cartesian
    or nested-loop join anywhere in these plans is a scale regression."""
    for name in ("dedup_ngram_jaccard", "dedup_minhash_lsh", "dedup_simhash",
                  "dedup_embedding", "dedup_incremental", "sim_ann_lsh",
                  "pipe_contamination", "text_repetition"):
        plan = _plan(QUERIES[name](spark, SF_SMOKE))
        assert "CartesianProduct" not in plan, f"{name}: cartesian product"
        assert "BroadcastNestedLoopJoin" not in plan, f"{name}: nested-loop join"


def _ivf_operator_plan(spark):
    """The from-scratch IVF-flat plan at the declared query's settings.

    Since r19 the declared sim_ann_ivf ranks a session-memoized
    localCheckpoint of the scored pass (its own plan is just Window over
    a checkpoint scan - asserted separately below), so the assignment/
    probe shape these audits pin lives in the OPERATOR's plan."""
    from web_maxiv_hdbppviewer_spark.operators import similarity
    from web_maxiv_hdbppviewer_spark.plans import extensions as ext

    return _plan(
        similarity.ann_topk_ivf(
            ext._emb(spark, SF_SMOKE), ext.ANN_TOPK, ext.QUERY_IDS_BELOW,
            ext.IVF_CELLS, ext.IVF_NPROBE,
        )
    )


def test_ivf_assignment_broadcasts_centroids(spark):
    """IVF cell assignment is a broadcast of the tiny centroid table (the
    corpus side must stream); the probe join must not be a cross product."""
    plan = _ivf_operator_plan(spark)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_ivf_assignment_is_aggregation_not_window(spark):
    """Cell assignment must be a map-side-combinable max_by aggregation, not
    a row_number Window over the n x K broadcast-join output: a Window there
    shuffles+sorts K corpus-amplified vector-carrying rows. The only Window
    allowed in the whole plan is the final per-query rank (q_id-partitioned,
    candidate-sized input)."""
    plan = _ivf_operator_plan(spark)
    # "Window [" is the real Window node; WindowGroupLimit (the top-k
    # pre-filter Spark derives from rank<=k) is fine and expected.
    n_windows = plan.count("Window [")
    assert n_windows == 1, f"expected exactly the final-rank Window, got {n_windows}"
    # and the assignment must partial-aggregate before its exchange
    assert "partial_max_by" in plan


def test_memoized_ann_consumers_serve_from_checkpoint(spark):
    """The r19 flip side: the DECLARED per-method ANN queries rank the
    session-memoized scored checkpoint - their own plans must be exactly
    the serve tail (one final-rank Window over a checkpoint scan), with
    no candidate generation (no joins, no Arrow eval) re-running."""
    for name in ("sim_ann_ivf", "sim_ann_lsh", "sim_topk_pq", "sim_ann_ivfpq"):
        plan = _plan(QUERIES[name](spark, SF_SMOKE))
        assert "Scan ExistingRDD" in plan, name
        assert plan.count("Window [") == 1, (name, plan.count("Window ["))
        for node in ("BroadcastHashJoin", "SortMergeJoin", "CartesianProduct",
                     "ArrowEvalPython"):
            assert node not in plan, (name, node)


def test_q29_split_aggregation_shape(spark):
    """Round-11 shape (operators/typed.py): the full-corpus numeric /
    spectrum / count pass is a map-side-combining HashAggregate — no sort
    aggregation ever touches the whole input — while the string aggregates
    (max_by latest reading, count_distinct) run only on the filtered
    discrete subset and rejoin at attribute grain via broadcast."""
    plan = _plan(QUERIES["q29"](spark, SF_SMOKE))
    n_hash = plan.count("HashAggregate")
    assert 2 <= n_hash <= 4, f"main pass must hash-aggregate, got {n_hash}"
    # K-row discrete summary must come back as a broadcast, never a shuffle
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # the sort-based string machinery exists but only under the disc filter:
    # its input subtree must carry a post-scan Filter (the disc_v pruning)
    assert "SortAggregate" in plan


# --- bucketed storage & skew salting (scale features) ---------------------


def test_bucketed_table_aggregates_and_joins_without_shuffle(spark, tmp_path):
    """write_datapoints_bucketed pre-shuffles once at write time: groupBy
    and self-join on att_conf_id over the bucketed table must plan with NO
    exchange on the fact side."""
    from pyspark.sql import functions as F

    from web_maxiv_hdbppviewer_spark.sources.hdbpp import (
        read_datapoints_bucketed,
        write_datapoints_bucketed,
    )
    from web_maxiv_hdbppviewer_spark.sources.tables import load_tables

    t = load_tables(spark, SF_SMOKE)
    dp = t["events"].select(
        F.col("user_id").alias("att_conf_id"),
        "ts",
        F.col("value").alias("value_r"),
        F.lit(5).alias("data_type"),
    )
    try:
        write_datapoints_bucketed(
            dp, "dp_bucketed", num_buckets=4, path=str(tmp_path / "dp")
        )
        bucketed = read_datapoints_bucketed(spark, "dp_bucketed")

        agg = bucketed.groupBy("att_conf_id").agg(
            F.count(F.lit(1)).alias("n"), F.max("value_r").alias("mx")
        )
        assert "Exchange" not in _plan(agg), "bucketed groupBy still shuffles"
        assert agg.count() > 0

        j = bucketed.alias("a").join(
            read_datapoints_bucketed(spark, "dp_bucketed").alias("b"), "att_conf_id"
        )
        jplan = _plan(j)
        assert "Exchange hashpartitioning" not in jplan, "bucketed join still shuffles"
        assert j.count() > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS dp_bucketed")


def test_salted_agg_matches_plain_groupby(spark):
    from pyspark.sql import functions as F

    from web_maxiv_hdbppviewer_spark.operators.skew import salted_agg
    from web_maxiv_hdbppviewer_spark.sources.tables import load_tables

    ev = load_tables(spark, SF_SMOKE)["events"]
    salted = salted_agg(
        ev,
        ["user_id"],
        {"n": ("value", "count"), "s": ("value", "sum"),
         "lo": ("value", "min"), "hi": ("value", "max")},
        n_salts=7,
    )
    plain = ev.groupBy("user_id").agg(
        F.count("value").alias("n"), F.sum("value").alias("s"),
        F.min("value").alias("lo"), F.max("value").alias("hi"),
    )
    got = {r["user_id"]: r for r in salted.collect()}
    want = {r["user_id"]: r for r in plain.collect()}
    assert set(got) == set(want)
    for k, w in want.items():
        g = got[k]
        assert (g["n"], g["lo"], g["hi"]) == (w["n"], w["lo"], w["hi"])
        # float sum re-association across salt stages: last-ulp tolerance
        assert g["s"] == pytest.approx(w["s"], rel=1e-12)


def test_salted_join_matches_plain_join(spark):
    from web_maxiv_hdbppviewer_spark.operators.skew import salted_join
    from web_maxiv_hdbppviewer_spark.sources.tables import load_tables

    t = load_tables(spark, SF_SMOKE)
    li, orders = t["lineitem"], t["orders"].select("o_orderkey", "o_custkey")
    for how in ("inner", "left"):
        salted = salted_join(
            li.withColumnRenamed("l_orderkey", "o_orderkey"), orders,
            ["o_orderkey"], how=how, n_salts=5,
        ).select("o_orderkey", "l_linenumber", "o_custkey")
        plain = (
            li.withColumnRenamed("l_orderkey", "o_orderkey")
            .join(orders, "o_orderkey", how)
            .select("o_orderkey", "l_linenumber", "o_custkey")
        )
        assert sorted(map(tuple, salted.collect())) == sorted(
            map(tuple, plain.collect())
        ), how


def test_connected_components_chain_and_isolated(spark):
    """A 6-node path (worst diameter per edge) plus an isolated node: all
    path nodes collapse to the min id via pointer jumping; the isolated
    node labels itself."""
    from web_maxiv_hdbppviewer_spark.operators.graph import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(7)], ["id"])
    edges = spark.createDataFrame(
        [(5, 4), (4, 3), (3, 2), (2, 1), (1, 0), (6, 6)][:5], ["src", "dst"]
    )
    got = {r["id"]: r["cluster_id"] for r in connected_components(nodes, edges).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 5: 0, 6: 6}


def test_hash_split_partition_invariant_and_complete(spark):
    """Split assignment is a pure projection: every row lands in exactly one
    split, and repartitioning the input never changes any assignment (the
    reason Spark's per-partition-seeded df.sample was rejected)."""
    from web_maxiv_hdbppviewer_spark.operators.sampling import hash_split

    docs = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    frac = {"train": 0.8, "val": 0.1, "test": 0.1}
    base = {r["doc_id"]: r["split"] for r in hash_split(docs, frac).collect()}
    assert len(base) == 1000 and set(base.values()) == {"train", "val", "test"}
    shuffled = {
        r["doc_id"]: r["split"]
        for r in hash_split(docs.repartition(7), frac).collect()
    }
    assert shuffled == base


def test_stratified_sample_monotone(spark):
    """Raising a stratum's fraction only ADDS rows - the kept set at a lower
    fraction is a subset of the kept set at a higher one."""
    from web_maxiv_hdbppviewer_spark.operators.sampling import stratified_sample

    from pyspark.sql import functions as F

    docs = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("src"), (F.col("id") % 3).cast("string")).alias("source"),
    )
    small = {r["doc_id"] for r in stratified_sample(docs, {"src0": 0.2}).collect()}
    large = {r["doc_id"] for r in stratified_sample(docs, {"src0": 0.6}).collect()}
    assert small < large
    # unlisted strata honor default_fraction=0.0: nothing outside src0 kept
    kept_src = {
        r["source"] for r in stratified_sample(docs, {"src0": 0.5}).collect()
    }
    assert kept_src == {"src0"}


def test_sample_frames_row_expansion(spark):
    """Frame sampling is 1->N: a 1300-byte payload has ceil(1300/256)=6
    frames, of which every=4 keeps frames 0 and 4 (both full 256-byte
    spans); 1000- and 513-byte payloads keep frame 0 only."""
    from web_maxiv_hdbppviewer_spark.operators.multimodal import sample_frames

    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(1, b"a" * 1000), (2, b"b" * 513), (3, b"c" * 1300)],
        ["doc_id", "payload"],
    )
    rows = {
        (r["doc_id"], r["frame_idx"]): r["n_bytes"]
        for r in sample_frames(docs, every=4).collect()
    }
    assert rows == {(1, 0): 256, (2, 0): 256, (3, 0): 256, (3, 4): 256}


def test_sampling_and_fingerprints_are_shuffle_free(spark):
    """The corpus-scale pipeline claims zero-shuffle for split assignment,
    stratified sampling, fingerprints, and minhash signatures - assert no
    Exchange ever enters those plans."""
    from pyspark.sql import functions as F

    from web_maxiv_hdbppviewer_spark.operators import dedup, sampling, textquality

    docs = spark.range(0, 100).select(
        F.col("id").alias("doc_id"),
        F.lit("src0").alias("source"),
        F.lit("alpha beta gamma delta").alias("text"),
    )
    arrays = dedup.doc_shingle_arrays(docs)
    plans = [
        _plan(sampling.hash_split(docs, {"train": 0.9, "test": 0.1})),
        _plan(sampling.stratified_sample(docs, {"src0": 0.5})),
        _plan(textquality.fingerprints(docs)),
        _plan(dedup.minhash_signatures(arrays)),
        _plan(dedup.simhash(arrays)),
    ]
    for plan in plans:
        assert "Exchange" not in plan


def test_ivf_nprobe_recall_dial(spark):
    """nprobe is the IVF recall dial: recall@k vs brute force must be
    monotone in nprobe, and probing ALL cells must reach recall 1.0 (every
    candidate lives in some probed cell)."""
    from web_maxiv_hdbppviewer_spark.operators.similarity import (
        ann_topk_ivf,
        topk_cosine,
    )

    emb = spark.read.parquet(SF_SMOKE + "/embeddings.parquet")
    truth = {
        (r["q_id"], r["cand_id"]) for r in topk_cosine(emb, 3).collect()
    }

    def recall(nprobe: int) -> float:
        got = {
            (r["q_id"], r["cand_id"])
            for r in ann_topk_ivf(emb, 3, n_cells=8, nprobe=nprobe).collect()
        }
        return len(got & truth) / len(truth)

    r1, r2, r_all = recall(1), recall(2), recall(8)
    assert r1 <= r2 <= r_all
    assert r_all == 1.0


def test_pack_sequences_tiles_each_shard(spark):
    """Packed spans must tile each shard's token stream exactly: sorted by
    start_tok, every document begins where the previous one ended, starting
    at 0 - no gaps, no overlaps, regardless of input partitioning."""
    from pyspark.sql import functions as F

    from web_maxiv_hdbppviewer_spark.operators.sampling import pack_sequences

    docs = spark.range(0, 300).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", F.array_repeat(F.lit("tok"), (F.col("id") % 7 + 1).cast("int"))).alias("text"),
    )
    rows = pack_sequences(docs.repartition(5), seq_len=16, n_shards=4).collect()
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append((r["start_tok"], r["end_tok"]))
    assert len(rows) == 300 and len(by_shard) == 4
    for spans in by_shard.values():
        pos = 0
        for s, e in sorted(spans):
            assert s == pos and e > s
            pos = e


def test_minhash_lsh_full_recall_on_testdata(spark):
    """Oracle parity cannot catch an LSH quality collapse (both sides share
    the banding constants), so pin recall directly: on the planted near-dup
    corpus the MinHash candidates must recover EVERY exact-Jaccard pair."""
    from web_maxiv_hdbppviewer_spark.operators import dedup

    docs = spark.read.parquet(SF_SMOKE + "/documents.parquet")
    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup.ngram_jaccard_pairs(docs, 0.8).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_dedup_pairs(docs, 0.8).collect()
    }
    assert exact and lsh == exact


def test_write_training_shards_layout(spark, tmp_path):
    """The packed-corpus sink must produce one directory per (split, shard)
    with rows span-ordered within every file, and round-trip all docs."""
    from pyspark.sql import functions as F

    from web_maxiv_hdbppviewer_spark.operators.sampling import (
        hash_split,
        pack_sequences,
        write_training_shards,
    )

    docs = spark.range(0, 200).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", F.array_repeat(F.lit("w"), (F.col("id") % 5 + 1).cast("int"))).alias("text"),
    )
    packed = pack_sequences(
        hash_split(docs, {"train": 0.9, "val": 0.1}),
        seq_len=32,
        n_shards=3,
        by=["split"],
    )
    path = str(tmp_path / "corpus")
    write_training_shards(docs, packed, path)

    back = spark.read.parquet(path)
    assert back.count() == 200
    assert set(back.select("split").distinct().toPandas()["split"]) == {"train", "val"}
    # per-(split, shard) file rows are start_tok-ordered AND tile the
    # stream exactly (packing within the split leaves no holes)
    import glob

    import pyarrow.parquet as pq

    for f in glob.glob(path + "/split=*/shard=*/*.parquet"):
        t = pq.read_table(f, columns=["start_tok", "end_tok"])
        spans = list(zip(t["start_tok"].to_pylist(), t["end_tok"].to_pylist()))
        assert spans == sorted(spans), f
        pos = 0
        for s, e in spans:
            assert s == pos and e > s, f
            pos = e


PRESORTED_FAMILY = [
    "text_tokens", "text_bpe", "text_quality", "text_langid", "text_bm25",
    "text_repetition", "text_fingerprint",
    "multimodal_meta", "multimodal_extract", "multimodal_resize",
    "multimodal_frames",
]


@pytest.mark.parametrize("name", PRESORTED_FAMILY)
def test_presorted_family_has_no_exchange_above_sort(name, spark):
    """The per-document projection family rides ONE early Sort(doc_id) below
    narrow order-preserving ops (projections / Generate / mapInPandas) - the
    output is globally doc_id-sorted with no trailing orderBy (see
    extensions._docs_sorted: a trailing range-exchange would re-execute the
    heavy projection via its sampling pass). That contract is physical, so
    pin it: exactly one Sort in the plan, and every Exchange sits BELOW it
    (the range partitioning feeding the sort) - an Exchange ABOVE the Sort
    means some new op went wide and silently scrambled the output order."""
    plan = _plan(QUERIES[name](spark, SF_SMOKE))
    sort_positions = [i for i in range(len(plan)) if plan.startswith("Sort ", i)]
    assert len(sort_positions) == 1, f"{name}: expected exactly one Sort\n{plan}"
    first_exchange = plan.find("Exchange")
    assert first_exchange == -1 or first_exchange > sort_positions[0], (
        f"{name}: Exchange above the Sort scrambles presorted output\n{plan}"
    )


def test_pipe_shard_sink_concurrent_invocations(spark):
    """Two interleaved invocations must not clobber each other: the r5-r6
    version wrote to one FIXED shared path, so a second run's overwrite
    raced a first run still lazily reading its output. Now each invocation
    writes a private mkdtemp directory - collect the FIRST result AFTER the
    second write and both must yield the identical deterministic layout."""
    from web_maxiv_hdbppviewer_spark.plans.extensions import pipe_shard_sink

    a = pipe_shard_sink(spark, SF_SMOKE)
    b = pipe_shard_sink(spark, SF_SMOKE)  # second write before a collects
    pa, pb = a.toPandas(), b.toPandas()
    assert len(pa) > 0
    assert pa.equals(pb)


def test_dedup_and_graph_empty_input_edges(spark):
    """Degenerate inputs must return empty/identity results, not crash:
    an edgeless graph labels every node itself; a corpus with no near-dups
    yields no pairs; an empty corpus yields empty everything."""
    from pyspark.sql import functions as F

    from web_maxiv_hdbppviewer_spark.operators import dedup
    from web_maxiv_hdbppviewer_spark.operators.graph import connected_components

    nodes = spark.createDataFrame([(1,), (2,)], ["id"])
    no_edges = spark.createDataFrame([], "src long, dst long")
    got = {r["id"]: r["cluster_id"] for r in connected_components(nodes, no_edges).collect()}
    assert got == {1: 1, 2: 2}

    distinct_docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon zeta")], ["doc_id", "text"]
    )
    assert dedup.ngram_jaccard_pairs(distinct_docs, 0.8).count() == 0
    assert dedup.minhash_dedup_pairs(distinct_docs, 0.8).count() == 0

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    assert dedup.simhash_pairs(empty_docs).count() == 0
    assert dedup.incremental_ngram_pairs(empty_docs, lambda c: F.lit(True), 0.8).count() == 0


def test_sim_quantize_is_projection_only(spark):
    """The quantization audit must stay a pure projection: no join against
    the source table (keep_vec carries the float vector), and the only
    exchange is the presentation orderBy."""
    plan = _plan(QUERIES["sim_quantize"](spark, SF_SMOKE))
    assert "Join" not in plan, "quantization audit re-joined its source"
    assert plan.count("Exchange") <= 1


def test_bm25_and_langid_evaluate_text_expressions_once(spark):
    """bm25 and langid LET-BIND their expensive per-row expressions (the
    whitespace tokenization; the 40-replace trigram scores) behind a
    Generate barrier: the plan's Project nodes above the Generate must
    reference only the bound column - a split()/replace() appearing in a
    Project means CollapseProject re-inlined the work per consumer (the
    r4 anti-pattern: ~4x tokenization in bm25, ~4x scoring in langid)."""
    plan = _plan(QUERIES["text_bm25"](spark, SF_SMOKE))
    for line in plan.splitlines():
        if "Project" in line:
            assert "split(" not in line, "bm25 re-tokenizes above the Generate"
    assert "Generate" in plan
    plan = _plan(QUERIES["text_langid"](spark, SF_SMOKE))
    for line in plan.splitlines():
        if "Project" in line:
            assert "replace(" not in line, "langid re-scores above the Generate"
    assert "Generate" in plan


def test_grouping_sets_and_sliding_windows_are_single_pass(spark):
    """ROLLUP levels and overlapping sliding windows must plan as ONE scan
    + ONE Expand (row replication before the aggregation shuffle) - never a
    job or union per level/offset."""
    for name in ("events_rollup", "window_sliding"):
        plan = _plan(QUERIES[name](spark, SF_SMOKE))
        assert plan.count("FileScan") == 1, f"{name}: multiple scans"
        assert plan.count("Expand") == 1, f"{name}: expected one Expand"


def test_witness_window_leads_with_changed_queries():
    """Rotation honesty (VERDICT r7 'Next round' #8): every query the
    builder declares behavior-changed this round must lead the driver's
    50-entry witness window - the r7 miss (text_bpe_apply rewritten but
    left outside the window) becomes a suite failure, not a judge finding.
    Also pins the window invariants queries() relies on: exactly 50
    distinct known names, emitted first."""
    import __spark_entry__ as entry_mod

    changed = entry_mod._CHANGED_THIS_ROUND
    window = entry_mod._WINDOW
    assert changed, "maintain the per-round changelist; empty means stale"
    assert window[: len(changed)] == changed
    assert len(window) == 50 and len(set(window)) == 50
    assert list(entry_mod.queries())[:50] == window


def test_pq_adc_broadcast_only_no_cartesian(spark):
    """The PQ ADC plan (sim_topk_pq) must keep every join broadcast-side
    (codebooks and per-query tables are tiny) and contain no cartesian or
    nested-loop join, and its encoding argmin must be the map-side min_by
    aggregation (an ObjectHashAggregate/SortAggregate pair), not a Window
    over the n_sub x k amplified rows. The residual IVF-PQ plan
    (sim_ann_ivfpq) must satisfy the same join discipline - its one
    allowed shuffle join is the narrow (id, cell) index-build join.
    Audited on the OPERATOR plans since r19 (the declared queries serve
    from the memoized checkpoint - see
    test_memoized_ann_consumers_serve_from_checkpoint)."""
    from web_maxiv_hdbppviewer_spark.operators import similarity
    from web_maxiv_hdbppviewer_spark.plans import extensions as ext

    emb = ext._emb(spark, SF_SMOKE)
    plan = _plan(
        similarity.topk_cosine_pq(
            emb, ext.TOPK, ext.QUERY_IDS_BELOW,
            codebooks=ext._pq_codebooks(spark, SF_SMOKE),
        )
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    # exactly ONE Window node - the final per-query top-k rank; the
    # encode/assign argmins must stay min_by aggregations
    assert plan.count("Window [") == 1, plan.count("Window [")
    assert "min_by" in plan

    cents, rcb = ext._ivfpq_artifacts(spark, SF_SMOKE)
    ivfpq = _plan(
        similarity.ann_topk_ivfpq(
            emb, ext.ANN_TOPK, ext.QUERY_IDS_BELOW, ext.IVF_CELLS,
            ext.IVF_NPROBE, ext.KMEANS_ITERS, centroids=cents, codebooks=rcb,
        )
    )
    assert "CartesianProduct" not in ivfpq
    # the K-row centroid broadcast plans as BroadcastNestedLoopJoin Cross
    # (the intended IVF assignment shape, as in sim_ann_ivf) - tolerated;
    # everything else must broadcast-hash, with at most the one narrow
    # (id, cell) index-build join shuffling
    assert "BroadcastHashJoin" in ivfpq
    assert ivfpq.count("Window [") == 1
    assert ivfpq.count("SortMergeJoin") <= 1


def test_snapshot_diff_exchange_free_on_bucketed_snapshots(spark, tmp_path):
    """snapshot_diff's scale claim (operators/delta.py: 'exchange-free if
    bucketed'), plan-asserted: with both corpus snapshots bucketed by the
    id key, the (id, md5) full-outer join must plan with NO hash-partition
    exchange - the fingerprint projection is narrow, so the write-time
    bucketing carries through to the join. Statuses must equal the
    unbucketed result."""
    from pyspark.sql import functions as F

    from web_maxiv_hdbppviewer_spark.operators.delta import snapshot_diff
    from web_maxiv_hdbppviewer_spark.sources.tables import load_tables

    docs = load_tables(spark, SF_SMOKE)["documents"]
    d = F.col("doc_id")
    v1 = docs.where(d % 10 != 0).select("doc_id", "text")
    v2 = docs.where(d % 10 != 1).select(
        "doc_id",
        F.when(d % 7 == 0, F.concat(F.col("text"), F.lit(" v2")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    expected = {r["id"]: r["status"] for r in snapshot_diff(v1, v2).collect()}
    try:
        for name, side in (("snap_v1", v1), ("snap_v2", v2)):
            (
                side.write.mode("overwrite")
                .option("path", str(tmp_path / name))
                .bucketBy(4, "doc_id")
                .sortBy("doc_id")
                .saveAsTable(name)
            )
        b1, b2 = spark.table("snap_v1"), spark.table("snap_v2")
        diff = snapshot_diff(b1, b2)
        plan = _plan(diff)
        assert "Exchange hashpartitioning" not in plan, (
            "bucketed snapshot diff still shuffles"
        )
        got = {r["id"]: r["status"] for r in diff.collect()}
        assert got == expected
    finally:
        spark.sql("DROP TABLE IF EXISTS snap_v1")
        spark.sql("DROP TABLE IF EXISTS snap_v2")


def _walk_logical(node):
    """Preorder walk of a (py4j) logical-plan tree."""
    yield node
    for i in range(node.children().length()):
        yield from _walk_logical(node.children().apply(i))


def test_incremental_probe_pruned_before_explode(spark):
    """incremental_ngram_pairs' batch restriction must sit BELOW the
    prefix explode on the probe side (VERDICT r8 #2): placed above it,
    the manifest semi join would explode the WHOLE corpus before pruning
    and the incremental form would cost the same as a full dedup. The
    shingle table is a localCheckpoint scan, so a correctly-placed
    LeftSemi join has no Generate anywhere in its subtree."""
    from pyspark.sql import functions as F

    from web_maxiv_hdbppviewer_spark.operators.dedup import (
        incremental_ngram_pairs,
    )
    from web_maxiv_hdbppviewer_spark.sources.tables import load_tables

    docs = load_tables(spark, SF_SMOKE)["documents"]
    manifest = docs.select("doc_id").where(F.col("doc_id") % 10 == 3)
    out = incremental_ngram_pairs(docs, new_ids=manifest, min_jaccard=0.8)
    root = out._jdf.queryExecution().optimizedPlan()
    semis = [
        n for n in _walk_logical(root)
        if n.nodeName() == "Join" and "LeftSemi" in n.simpleString(120)
    ]
    assert semis, "manifest form must plan a left-semi probe restriction"
    for j in semis:
        below = [d.nodeName() for d in _walk_logical(j)]
        assert "Generate" not in below, (
            "probe semi join sits above the prefix explode: " + str(below)
        )
    # the declared predicate form keeps the same shape: its probe filter
    # lands on the one-row-per-doc table, below both Generates
    assert len(
        [n for n in _walk_logical(root) if n.nodeName() == "Generate"]
    ) == 2


def test_r9_new_queries_plan_shapes(spark):
    """Plan pins for the round-9 additions: no cartesian anywhere; the
    dataset card reads documents ONCE; the distributed curriculum rank
    never collapses to a single-partition window; the temperature mix
    broadcasts its K-row threshold table; containment's count form has
    exactly one pair aggregation and no distinct."""
    for name in (
        "dedup_semantic", "pipe_stats", "text_collocations",
        "pipe_temperature_mix", "pipe_curriculum", "dedup_containment",
        "events_distinct_approx", "events_props_parse",
    ):
        plan = _plan(QUERIES[name](spark, SF_SMOKE))
        assert "CartesianProduct" not in plan, name

    stats_plan = _plan(QUERIES["pipe_stats"](spark, SF_SMOKE))
    assert stats_plan.count("documents.parquet") == 1

    cur_plan = _plan(QUERIES["pipe_curriculum"](spark, SF_SMOKE))
    # every window spec must be partitioned by _pid (a partition-less spec
    # is the one-task global window the operator exists to avoid; the only
    # SinglePartition allowed is the 1-row total-count aggregate)
    assert cur_plan.count("windowspecdefinition(") > 0
    assert cur_plan.count("windowspecdefinition(") == cur_plan.count(
        "windowspecdefinition(_pid"
    ), "global rank fell back to a one-task window"

    mix_plan = _plan(QUERIES["pipe_temperature_mix"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in mix_plan

    cont_plan = _plan(QUERIES["dedup_containment"](spark, SF_SMOKE))
    assert "HashAggregate" in cont_plan


def test_span_dedup_single_window_shuffle(spark):
    """span_dedup claims ONE data shuffle (the row_number window on the
    span hash) before the per-doc aggregation - pin it: exactly one
    hashpartitioning Exchange on the hash, one on the doc id (the agg),
    one Window, no Join (the join-back formulation would add a third
    exchange and re-evaluate the explode), and a 2-column pruned read."""
    from web_maxiv_hdbppviewer_spark.operators.dedup import span_dedup
    from web_maxiv_hdbppviewer_spark.sources.tables import load_tables

    docs = load_tables(spark, SF_SMOKE)["documents"]
    plan = _plan(span_dedup(docs, 8))
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert plan.count("Window") == 1, plan
    assert "Join" not in plan, plan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan, plan


def test_attribution_join_is_bucketized(spark):
    """events_attribution's interval join must run on the composite
    (user, hour-bucket) equi key - never a BroadcastNestedLoop/Cartesian
    (the no-equi-key fate of naive range joins) and never a bare user_id
    key (quadratic per hot user): the physical join keys must include
    the bucket column."""
    import re

    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod.queries()["events_attribution"](spark, SF_SMOKE))
    assert "BroadcastNestedLoop" not in plan, plan
    assert "Cartesian" not in plan, plan
    m = re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)[^\n]*", plan)
    assert m and "vb" in m.group(0), m.group(0) if m else plan


def test_pagerank_topk_is_take_ordered(spark):
    """graph_pagerank's global top-20 must plan as TakeOrderedAndProject
    (per-partition heaps + k-row merge) - VERDICT r11's one scale-killer
    was a partition-less row_number Window here, funneling every node row
    through a single task. The only Window allowed in the plan is the one
    ranking the already-bounded 20-row result."""
    df = QUERIES["graph_pagerank"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    # the surviving rank window must sit ABOVE the TakeOrdered (bounded
    # input), i.e. appear earlier in the top-down plan string
    w = plan.find("Window")
    t = plan.find("TakeOrderedAndProject")
    assert w == -1 or w < t, plan


def test_q35_write_value_surface_rides_the_hash_aggregate(spark):
    """The rw write-value aggregates (n_w, wmin/wmax/wmean, trk_err_r)
    are primitive buffers guarded into q29's existing split shape: the
    full-corpus main pass must stay a map-side-combining HashAggregate
    (sort aggregation only under the discrete filter) and the K-row
    discrete summary must rejoin by broadcast - the value_w surface
    costs zero extra shuffles."""
    plan = _plan(QUERIES["q35"](spark, SF_SMOKE))
    n_hash = plan.count("HashAggregate")
    assert 2 <= n_hash <= 4, f"main pass must hash-aggregate, got {n_hash}"
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_lifecycle_query_broadcast_routing_and_pruned_scan(spark):
    """The /query lifecycle's combined plan (r12): both branches' name
    reassembly joins must be broadcasts (J1 - the name dim is K rows),
    never shuffles, and the events scan must be column-pruned with the
    attribute and time restrictions at the scan (F1/S2)."""
    root = QUERIES["lifecycle_query"](spark, SF_SMOKE)._jdf.queryExecution().executedPlan()
    plan = root.toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    # the raw and resampled branches each scan events.parquet; EVERY one
    # of those scans must push the attribute restriction and both time
    # bounds into parquet and read only the 4 datapoint columns. The
    # pushed filters are read from the scan nodes of the plan tree, not
    # the printed FileScan line, which Spark truncates: the check holds
    # whatever order the filters are pushed in.
    scans = [
        scan
        for scan in _scan_nodes(root)
        if "events.parquet" in scan.relation().location().rootPaths().toString()
    ]
    assert scans, plan
    for scan in scans:
        pushed = {
            (f.getClass().getSimpleName(), tuple(f.references()))
            for f in _seq(scan.pushedDownFilters())
        }
        assert {("In", ("user_id",)), ("EqualTo", ("user_id",))} & pushed, pushed
        assert ("GreaterThanOrEqual", ("ts",)) in pushed, pushed
        assert {("LessThanOrEqual", ("ts",)), ("LessThan", ("ts",))} & pushed, pushed
        schema = scan.requiredSchema()
        assert schema.size() == 4, schema.simpleString()
