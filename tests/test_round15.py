"""Round-15 constructed tests.

1. Chunk-grain dedup (VERDICT r14 #5): exact keep-first over the
   text_chunk 64/48 windows on a corpus built so duplicate, unique and
   short-document chunks all occur; the MinHash near-dup variant on a
   one-token-edit pair whose exact Jaccard is hand-computed, plus the
   adjacent-overlap non-pair (16-token self-overlap must NOT report).
2. pipe_curation_trained (VERDICT r14 #4, the CCNet composition):
   constructed corpus where every stage's drop set is known by
   construction - NULL-lang drops at stage 1, off-distribution (high
   bigram surprisal) docs drop at the per-lang LM median, exact
   duplicates collapse at stage 3 - plus the funnel self-audit
   invariant (stage k's n_in == stage k-1's n_kept) on real testdata.
"""

import pytest

from tests.conftest import SF_SMOKE
from tests.test_round14 import _constructed_corpus


# --- 1. chunk-grain dedup ---------------------------------------------------


def _tokens(prefix, n, start=0):
    return " ".join(f"{prefix}{i}" for i in range(start, start + n))


def test_dedup_chunk_constructed_keep_first(spark, tmp_path):
    """Two identical 100-token docs (2 chunks each: 64 + the clamped
    52-token tail) and one unique 10-token doc: every doc-1 chunk is its
    group's keeper, every doc-2 chunk a duplicate, the short doc a
    singleton - and the chunk windowing matches text_chunk's (same
    64/48 arithmetic, same clamped tail)."""
    from web_maxiv_hdbppviewer_spark.plans import extensions

    body = _tokens("w", 100)
    docs = spark.createDataFrame(
        [(1, body), (2, body), (3, _tokens("u", 10))],
        "doc_id long, text string",
    )
    sf_dir = _constructed_corpus(spark, tmp_path, docs=docs)
    rows = {
        (r["doc_id"], r["chunk_idx"]): r
        for r in extensions.dedup_chunk(spark, sf_dir).collect()
    }
    assert set(rows) == {(1, 0), (1, 1), (2, 0), (2, 1), (3, 0)}
    for idx in (0, 1):
        assert rows[(1, idx)]["keep"] is True
        assert rows[(2, idx)]["keep"] is False
        assert rows[(1, idx)]["n_copies"] == 2
        assert rows[(1, idx)]["chunk_hash"] == rows[(2, idx)]["chunk_hash"]
    assert rows[(3, 0)]["keep"] is True and rows[(3, 0)]["n_copies"] == 1
    # aligned windows: the two doc-1 chunks hash differently (64-token
    # head vs 52-token tail), so keep-first operates per CONTENT group,
    # not per document
    assert rows[(1, 0)]["chunk_hash"] != rows[(1, 1)]["chunk_hash"]
    # kept set = deduped store: one keeper per distinct hash
    hashes = {r["chunk_hash"] for r in rows.values()}
    assert sum(1 for r in rows.values() if r["keep"]) == len(hashes) == 3


def test_dedup_chunk_near_constructed_one_token_edit(spark, tmp_path):
    """A 64-token chunk vs its one-mid-token edit: 61 of 63 bigrams
    shared -> J = 61/65 = 0.938462 (round-6), above threshold, found by
    the band candidacy; the 16-token self-overlap of adjacent chunks in
    a 112-token doc (J = 15/111) must NOT report; exact chunk hashing
    (dedup_chunk) sees the edited pair as distinct - the gap the
    near-dup variant exists to close."""
    from web_maxiv_hdbppviewer_spark.plans import extensions

    base = [f"w{i}" for i in range(64)]
    edited = list(base)
    edited[30] = "zzz"
    docs = spark.createDataFrame(
        [
            (1, " ".join(base)),
            (2, " ".join(edited)),
            (3, _tokens("v", 112)),  # 2 overlapping chunks, all-distinct tokens
        ],
        "doc_id long, text string",
    )
    sf_dir = _constructed_corpus(spark, tmp_path, docs=docs)
    pairs = extensions.dedup_chunk_near(spark, sf_dir).collect()
    assert [(r["doc_a"], r["idx_a"], r["doc_b"], r["idx_b"]) for r in pairs] == [
        (1, 0, 2, 0)
    ]
    assert pairs[0]["jaccard"] == pytest.approx(round(61 / 65, 6), abs=0)
    # exact chunk dedup does NOT collapse the edited pair
    exact = {
        (r["doc_id"], r["chunk_idx"]): r
        for r in extensions.dedup_chunk(spark, sf_dir).collect()
    }
    assert exact[(1, 0)]["n_copies"] == 1 and exact[(2, 0)]["n_copies"] == 1


# --- 2. the trained curation funnel ----------------------------------------


def test_pipe_curation_trained_constructed_stage_attribution(spark, tmp_path):
    """9 docs: 6 identical in-distribution docs, 2 distinct
    high-surprisal docs (rare bigrams -> above the per-lang LM median),
    1 NULL-lang doc. Expected funnel, every drop attributed by
    construction: stage 1 drops exactly the NULL-lang doc (one label ->
    NB predicts it for every labeled doc), stage 2 drops exactly the two
    off-distribution docs (their add-one bigram surprisal exceeds the
    median of the 8 survivors, which sits on the 6 common docs), stage 3
    collapses the 6 identical survivors to their min-id representative,
    stage 4 finds no near-dup pairs among a single survivor."""
    from web_maxiv_hdbppviewer_spark.plans import extensions

    common = "the cat sat on the mat"
    rows = [(i, "en", "src", common) for i in range(1, 7)]
    rows += [
        (7, "en", "src", "zebra quark flux jelly"),
        (8, "en", "src", "omega delta sigma rho"),
        (9, None, "src", common),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, lang string, source string, text string"
    )
    sf_dir = _constructed_corpus(spark, tmp_path, docs=docs)
    out = extensions.pipe_curation_trained(spark, sf_dir).collect()
    funnel = [(r["stage"], r["name"], r["n_in"], r["n_kept"]) for r in out]
    assert funnel == [
        (1, "nb_lang", 9, 8),
        (2, "lm_ppl", 8, 6),
        (3, "exact_dedup", 6, 1),
        (4, "near_dup", 1, 1),
    ]


def _wide_catalog(spark, n=120):
    from web_maxiv_hdbppviewer_spark.sources.hdbpp import HdbppCatalog

    names = [("cs1", "dom0", "fam0", "mem0", f"attr{i:03d}") for i in range(n)]
    att_conf = spark.createDataFrame(
        [
            (cs, "/".join((d, f, m, a)), i + 1, "scalar_devdouble_ro")
            for i, (cs, d, f, m, a) in enumerate(names)
        ],
        "cs_name string, att_name string, att_conf_id long, data_type string",
    )
    att_names = spark.createDataFrame(
        names,
        "cs_name string, domain string, family string, member string, name string",
    )
    return HdbppCatalog(att_conf, att_names), sorted(
        "%s/%s/%s/%s" % t[1:] for t in names
    )


def test_search_cap_divergence_reference_never_caps(spark):
    """VERDICT r14 #7: the reference PARSES max (server.py:77
    ``request.query.get("max", 100)``) but never applies it - matches
    goes out uncapped. Pin both sides on a 120-name catalog: the
    engine's default returns exactly the sorted 100-prefix (the enforced
    cap, SURVEY O5 'we implement the cap for real'); the reference twin
    returns all 120; and a byte-shape comparison against the reference
    must exclude the cap by passing max_n=None - under which the two
    lists agree byte-for-byte."""
    import fnmatch
    import re

    catalog, full_sorted = _wide_catalog(spark, 120)

    # reference verbatim (server.py:73-89): fnmatch glob, re.match,
    # sorted, max parsed-but-UNAPPLIED
    regex = fnmatch.translate("*")
    _max_n = "50"  # parsed like the reference parses it... and ignored
    ref_matches = [
        a for a in full_sorted if re.match(regex, a, re.IGNORECASE)
    ]
    assert len(ref_matches) == 120  # the reference ships all of them

    engine_default = [r["name"] for r in catalog.search("cs1", "*").collect()]
    assert engine_default == full_sorted[:100]  # enforced cap, sorted prefix

    engine_uncapped = [
        r["name"] for r in catalog.search("cs1", "*", max_n=None).collect()
    ]
    assert engine_uncapped == ref_matches  # byte-shape parity, cap excluded


def test_catalog_ttl_staleness_window_pinned(spark, tmp_path, monkeypatch):
    """VERDICT r14 #7: the reference memoizes both catalog fetches for
    60 s (@memoized_ttl(60), hdbpp.py:213,230 / utils.py:29-50), so an
    attribute registered after the memo fill is INVISIBLE to /search for
    up to a minute. Pin that the engine's catalog snapshot keeps the
    same staleness contract - within the TTL a search does NOT see a
    source append (that IS the reference behavior, not a bug), and once
    the snapshot is older than the TTL the next search sees the fresh
    list. The engine's CATALOG_TTL_S matches the reference literal."""
    from web_maxiv_hdbppviewer_spark.sources import hdbpp

    assert hdbpp.CATALOG_TTL_S == 60.0  # hdbpp.py:213
    now = [1000.0]
    monkeypatch.setattr(hdbpp, "_clock", lambda: now[0])
    table = "ttl_pin_att_names"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(
        f"CREATE TABLE {table} (cs_name string, domain string, family string,"
        f" member string, name string) USING parquet LOCATION '{tmp_path}/names'"
    )
    try:
        spark.sql(f"INSERT INTO {table} VALUES ('cs1', 'dom0', 'fam0', 'mem0', 'attr0')")
        att_conf = spark.createDataFrame(
            [("cs1", "dom0/fam0/mem0/attr0", 1, "scalar_devdouble_ro")],
            "cs_name string, att_name string, att_conf_id long, data_type string",
        )
        catalog = hdbpp.HdbppCatalog(att_conf, spark.table(table))

        def found():
            return [r["name"] for r in catalog.search("cs1", "*").collect()]

        assert found() == ["dom0/fam0/mem0/attr0"]
        # registered mid-TTL
        spark.sql(f"INSERT INTO {table} VALUES ('cs1', 'dom0', 'fam0', 'mem0', 'attr1')")
        assert spark.table(table).count() == 2  # the source does see it
        now[0] += hdbpp.CATALOG_TTL_S
        assert found() == ["dom0/fam0/mem0/attr0"]  # stale by contract
        now[0] += 1.0
        assert found() == ["dom0/fam0/mem0/attr0", "dom0/fam0/mem0/attr1"]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_pipe_curation_trained_funnel_is_self_auditing(spark):
    """On real testdata: stage k's n_in equals stage k-1's n_kept (every
    dropped doc attributed to exactly one stage), counts monotonically
    non-increasing, stage-1 n_in is the corpus size."""
    from web_maxiv_hdbppviewer_spark.plans import extensions
    from web_maxiv_hdbppviewer_spark.sources.tables import load_tables

    out = extensions.pipe_curation_trained(spark, SF_SMOKE).collect()
    assert [r["stage"] for r in out] == [1, 2, 3, 4]
    n_docs = load_tables(spark, SF_SMOKE)["documents"].count()
    assert out[0]["n_in"] == n_docs
    for prev, cur in zip(out, out[1:]):
        assert cur["n_in"] == prev["n_kept"]
    for r in out:
        assert 0 <= r["n_kept"] <= r["n_in"]


# --- 4. streamed end-to-end curation lifecycle (VERDICT r14 #8) -------------


def test_stream_curation_lands_batch_funnel_exactly_once(spark):
    """The full streamed lifecycle - duplicated-arrival file stream ->
    stateless NB scoring -> trained lang-agreement filter -> watermarked
    dedup guard -> checkpointed parquet sink - must land EXACTLY the
    batch stage-1 survivor set, once each, with bit-identical integer
    scores: the per-lang digest equals the batch NB-classify result
    filtered to pred = lang, and landed_once certifies zero duplicate
    doc_ids in the physical store despite every doc arriving twice."""
    from pyspark.sql import functions as F

    from web_maxiv_hdbppviewer_spark.plans import extensions

    streamed = extensions.stream_curation(spark, SF_SMOKE).collect()
    assert streamed and all(r["landed_once"] for r in streamed)
    batch = (
        extensions.text_nb_classify(spark, SF_SMOKE)
        .where(F.col("pred") == F.col("lang"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("doc_id").alias("id_sum"),
            F.sum("score_fp").alias("score_sum"),
        )
        .orderBy("lang")
        .collect()
    )
    assert [
        (r["lang"], r["n_docs"], r["id_sum"], r["score_sum"]) for r in streamed
    ] == [
        (r["lang"], r["n_docs"], r["id_sum"], r["score_sum"]) for r in batch
    ]


def test_stream_curation_epoch_doc_is_not_dropped_as_late(spark):
    """The doc_id-0 late-drop pin: synthesized event time must sit ABOVE
    Spark's initial zero watermark, or the dedup guard silently drops
    the doc_id-0 row as late (observed: sf0.01's doc 0 survives the NB
    filter and vanished from the landed store when ts was doc_id cast
    to timestamp - same id_sum by coincidence of +0, one fewer row).
    Run at the driver grain (SF_CORRECT), where doc 0 is a survivor:
    the landed per-lang counts must sum to the batch survivor count."""
    from pyspark.sql import functions as F

    from tests.conftest import SF_CORRECT
    from web_maxiv_hdbppviewer_spark.plans import extensions

    streamed = extensions.stream_curation(spark, SF_CORRECT).collect()
    n_landed = sum(r["n_docs"] for r in streamed)
    survivors = (
        extensions.text_nb_classify(spark, SF_CORRECT)
        .where(F.col("pred") == F.col("lang"))
    )
    assert n_landed == survivors.count()
    assert survivors.where(F.col("doc_id") == 0).count() == 1  # the trap doc


# --- 5. Gopher rule filter (NEW r15) -----------------------------------------


def test_gopher_rules_match_pure_python_twin(spark):
    """Every rule's arithmetic replayed by a pure-Python twin on a
    corpus crafted so each rule fires somewhere: a clean keeper, a
    too-short doc, a bullet-list doc, an ellipsis-heavy doc, a
    symbol-heavy doc, a numeric doc (alpha rule), a long-word doc
    (mean-length rule), and a stopword-free doc."""
    from web_maxiv_hdbppviewer_spark.operators import textquality as tq

    good = "the cat sat of mat and dog ran with joy " * 6  # 60 words
    docs = [
        (1, good),
        (2, "the cat sat of mat and dog ran with joy"),  # 10 words
        (3, "\n".join(["- " + good] * 10)),
        (4, "\n".join([good + "..."] * 10)),
        (5, ("#ab " * 60).strip()),
        (6, ("12 " * 30 + "the of " * 15).strip()),
        (7, ("incomprehensibilities " * 30 + "the of " * 15).strip()),
        (8, ("cat dog run sat " * 15).strip()),
    ]

    def twin(text):
        toks = [t for t in text.lower().split(" ") if t]
        lines = [ln for ln in text.split("\n") if ln.strip()]
        n, nl = len(toks), len(lines)
        n_ell = (len(text) - len(text.replace("...", ""))) // 3 + text.count("…")
        feats = dict(
            n_words=n,
            mean_word_len=round(sum(map(len, toks)) / n, 6),
            hash_ratio=round(text.count("#") / n, 6),
            ellipsis_sym_ratio=round(n_ell / n, 6),
            frac_bullet=round(
                sum(ln.lstrip()[:1] in "-*•" and len(ln.lstrip()) > 0 for ln in lines) / nl, 6
            ),
            frac_ellipsis=round(
                sum(ln.rstrip().endswith(("...", "…")) for ln in lines) / nl, 6
            ),
            frac_alpha=round(
                sum(any("a" <= c <= "z" for c in t) for t in toks) / n, 6
            ),
            n_stop=len(set(toks) & set(tq.GOPHER_STOPWORDS)),
        )
        feats["keep"] = (
            50 <= feats["n_words"] <= 100_000
            and 3.0 <= feats["mean_word_len"] <= 10.0
            and feats["hash_ratio"] <= 0.1
            and feats["ellipsis_sym_ratio"] <= 0.1
            and feats["frac_bullet"] <= 0.9
            and feats["frac_ellipsis"] <= 0.3
            and feats["frac_alpha"] >= 0.8
            and feats["n_stop"] >= 2
        )
        return feats

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in tq.gopher_rules(df).collect()}
    assert set(got) == {d for d, _ in docs}
    for doc_id, text in docs:
        want = twin(text)
        have = {k: v for k, v in got[doc_id].items() if k != "doc_id"}
        assert have == want, (doc_id, have, want)
    # the crafted corpus exercises every rule: exactly doc 1 survives,
    # and each non-keeper fails the rule it was built to fail
    assert [d for d in sorted(got) if got[d]["keep"]] == [1]
    assert got[2]["n_words"] < 50
    assert got[3]["frac_bullet"] > 0.9
    assert got[4]["frac_ellipsis"] > 0.3
    assert got[5]["hash_ratio"] > 0.1
    assert got[6]["frac_alpha"] < 0.8
    assert got[7]["mean_word_len"] > 10.0
    assert got[8]["n_stop"] < 2


# --- 6. chunk-grain BM25 retrieval (NEW r15) ---------------------------------


def test_sim_chunk_bm25_surfaces_concentrated_chunk(spark):
    """The max-pool semantics the operator exists for: a long document
    whose query terms concentrate in ONE chunk must rank by that chunk
    (and report its coordinates), beating a short document where the
    same number of term hits is diluted across the whole text - the
    case whole-document BM25 gets backwards when document length
    normalization swamps the concentrated signal."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from web_maxiv_hdbppviewer_spark.operators import textquality as tq
    from web_maxiv_hdbppviewer_spark.plans import extensions as ext

    pad = "pad " * 48
    hot = "query dup customer " * 8  # 24 term hits inside one window
    # doc 1: two 48-token pad chunks, then the hot chunk at idx 2
    d1 = (pad + pad + hot).strip()
    # doc 2: 3 hits spread across 150 filler tokens
    d2 = ("filler " * 50 + "query " + "filler " * 50 + "dup " + "filler " * 50).strip()
    docs = spark.createDataFrame(
        [(1, d1), (2, d2), (3, ("noise " * 80).strip())],
        "doc_id long, text string",
    )
    ch = ext._chunk_windows(docs).select(
        (F.col("doc_id") * F.lit(1 << ext.CHUNK_IDX_BITS) + F.col("chunk_idx")).alias("cid"),
        F.array_join("chunk", " ").alias("chunk_text"),
    )
    scored = tq.bm25_scores(ch, tq.BM25_TERMS, id_col="cid", text_col="chunk_text")
    per_chunk = scored.select(
        F.shiftright("cid", ext.CHUNK_IDX_BITS).alias("doc_id"),
        (F.col("cid") % F.lit(1 << ext.CHUNK_IDX_BITS)).alias("chunk_idx"),
        "bm25",
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("bm25").desc(), F.col("chunk_idx").asc())
    best = (
        per_chunk.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .collect()
    )
    assert [r["doc_id"] for r in best] == [1, 2, 3]
    assert best[0]["chunk_idx"] == 2  # the concentrated window, by coordinates
    assert best[0]["bm25"] > best[1]["bm25"] > best[2]["bm25"] == 0.0


# --- 7. C4 line-level cleaning (NEW r15) -------------------------------------


def test_c4_rules_match_pure_python_twin(spark):
    """C4's line and doc rules replayed by a pure-Python twin on docs
    crafted so each rule fires: terminal punctuation, the 5-word line
    floor, the 'javascript' line drop, the 3-sentence doc floor, the
    brace and 'lorem ipsum' doc drops, and the empty-kept-set hash."""
    import hashlib

    from web_maxiv_hdbppviewer_spark.operators import textquality as tq

    s = "the quick brown fox jumps over the lazy dog."
    docs = [
        (1, "\n".join([s, s, s])),                      # 3 sentences: keep
        (2, "\n".join([s, s])),                         # 2 sentences: drop
        (3, "\n".join([s, s, s, "too short."])),        # short line dropped
        (4, "\n".join([s, s, s, "enable javascript to view this page."])),
        (5, "\n".join([s, s, s]) + "\nconfig { block"), # brace: drop
        (6, "\n".join([s, s, s, "lorem ipsum dolor sit amet today."])),
        (7, "no terminal punctuation on this line at all"),
        (8, 'he said "stop right there my good friend"'),  # quote terminal
    ]

    def twin(text):
        lines = [ln for ln in text.split("\n") if ln.strip()]
        kept = [
            ln for ln in lines
            if ln.rstrip()[-1:] in ('.', '!', '?', '"')
            and len([w for w in ln.split(" ") if w]) >= 5
            and "javascript" not in ln.lower()
        ]
        cleaned = "\n".join(kept)
        n_sent = sum(cleaned.count(t) for t in ".!?")
        return dict(
            n_lines=len(lines),
            n_kept_lines=len(kept),
            kept_ratio=round(len(kept) / len(lines), 6),
            n_kept_words=sum(len([w for w in ln.split(" ") if w]) for ln in kept),
            n_sentences=n_sent,
            has_brace="{" in text,
            has_lorem="lorem ipsum" in text.lower(),
            keep=n_sent >= 3 and "{" not in text and "lorem ipsum" not in text.lower(),
            cleaned_md5=hashlib.md5(cleaned.encode()).hexdigest(),
        )

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in tq.c4_rules(df).collect()}
    for doc_id, text in docs:
        have = {k: v for k, v in got[doc_id].items() if k != "doc_id"}
        assert have == twin(text), (doc_id, have, twin(text))
    keeps = {d: got[d]["keep"] for d in got}
    assert keeps == {1: True, 2: False, 3: True, 4: True,
                     5: False, 6: False, 7: False, 8: False}
    assert got[3]["n_kept_lines"] == 3 and got[3]["n_lines"] == 4
    assert got[4]["n_kept_lines"] == 3  # the javascript line dropped
    assert got[8]["n_kept_lines"] == 1 and got[8]["n_sentences"] == 0


# --- 8. DPO preference pairs (NEW r15) ---------------------------------------


def test_pipe_pref_pairs_constructed_cohorts(spark):
    """Endpoint selection and the degenerate-cohort contracts on a
    corpus built per case: a clear best/worst cohort pairs them with
    the hand-computed margin; a single-doc cohort yields nothing
    (chosen == rejected); an all-equal cohort yields nothing (distinct
    endpoints by tie-break, but zero margin = no DPO signal); NULL-lang
    docs are excluded entirely."""
    from pyspark.sql import functions as F

    from web_maxiv_hdbppviewer_spark.operators import textquality as tq
    from web_maxiv_hdbppviewer_spark.plans import extensions as ext

    docs = spark.createDataFrame(
        [
            (1, "the of and to a", "en", "s1"),   # q = 0.4 + 0.015 + 0.3
            (2, "x x x x x", "en", "s1"),          # q = 0 + 0.015 + 0.06
            (3, "solo doc here", "en", "s2"),      # single-doc cohort
            (4, "y y", "en", "s3"),                # all-equal cohort
            (5, "y y", "en", "s3"),
            (6, "the of and", None, "s1"),         # NULL lang: excluded
        ],
        "doc_id long, text string, lang string, source string",
    )
    q = tq.quality_scores(
        docs.where(F.col("lang").isNotNull()), keep_cols=("source", "lang")
    ).select("doc_id", "source", "lang", "quality")
    # replay the query's pairing on the constructed frame
    from pyspark.sql import Window

    wc = Window.partitionBy("source", "lang").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    wr = Window.partitionBy("source", "lang").orderBy(
        F.col("quality").asc(), F.col("doc_id").desc()
    )
    ranked = q.select(
        "source", "lang", "doc_id", "quality",
        F.row_number().over(wc).alias("rc"),
        F.row_number().over(wr).alias("rr"),
    )
    chosen = ranked.where(F.col("rc") == 1).select(
        "source", "lang",
        F.col("doc_id").alias("chosen_id"), F.col("quality").alias("q_chosen"),
    )
    rejected = ranked.where(F.col("rr") == 1).select(
        "source", "lang",
        F.col("doc_id").alias("rejected_id"), F.col("quality").alias("q_rejected"),
    )
    pairs = (
        chosen.join(rejected, ["source", "lang"])
        .where(F.col("chosen_id") != F.col("rejected_id"))
        .select(
            "source", "lang", "chosen_id", "rejected_id",
            "q_chosen", "q_rejected",
            F.round(F.col("q_chosen") - F.col("q_rejected"), 6).alias("margin"),
        )
        .where(F.col("margin") > 0)
        .collect()
    )
    assert [tuple(r) for r in pairs] == [
        ("s1", "en", 1, 2, 0.715, 0.075, 0.64)
    ]


# --- 9. r15 plan pins --------------------------------------------------------


def test_gopher_and_c4_plans_are_shuffle_free_projections(spark):
    """Both published-rule filters must stay single narrow projections:
    the ONLY exchange is _docs_sorted's presentation range-sort on the
    narrow scan (the established pre-projection sort discipline) - no
    hash shuffle anywhere, no Python UDF nodes, rules inside codegen."""
    from tests.test_plans import _plan
    from web_maxiv_hdbppviewer_spark.plans import extensions as ext

    for q in (ext.text_gopher_rules, ext.text_c4_rules):
        plan = _plan(q(spark, SF_SMOKE))
        assert "Exchange hashpartitioning" not in plan, plan
        assert plan.count("Exchange rangepartitioning") == 1, plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_sim_chunk_bm25_plan_ranks_docs_not_chunks(spark):
    """The retrieval plan's shape at scale: the global top-10 must be a
    TakeOrderedAndProject (never a global Sort of the chunk frame), and
    the only corpus-sized exchange is the per-doc max-pool window's
    hashpartitioning on doc_id (the BM25 stats merge is the allowlisted
    bounded single-partition aggregate)."""
    from tests.test_plans import _plan
    from web_maxiv_hdbppviewer_spark.plans import extensions as ext

    plan = _plan(ext.sim_chunk_bm25(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "doc_id" in plan.split("Exchange hashpartitioning", 1)[1][:80]


# --- 10. classifier agreement / Cohen's kappa (NEW r15) ----------------------


def test_kappa_scalars_hand_computed(spark):
    """The textbook 2x2 example: 20 yes/yes, 5 yes/no, 10 no/yes,
    15 no/no -> po = 0.7, pe = 0.5, kappa = 0.4 (Cohen 1960). Also the
    degenerate perfect-agreement (kappa 1) and the single-cell
    off-diagonal matrix (po 0)."""
    from web_maxiv_hdbppviewer_spark.plans.extensions import _kappa_scalars

    conf = spark.createDataFrame(
        [("yes", "yes", 20), ("yes", "no", 5), ("no", "yes", 10), ("no", "no", 15)],
        "pred_nb string, pred_tri string, n long",
    )
    row = _kappa_scalars(conf).collect()[0]
    assert (row["po_r"], row["pe_r"], row["kappa_r"]) == (0.7, 0.5, 0.4)

    perfect = spark.createDataFrame(
        [("en", "en", 30), ("fr", "fr", 10)],
        "pred_nb string, pred_tri string, n long",
    )
    row = _kappa_scalars(perfect).collect()[0]
    assert row["po_r"] == 1.0 and row["kappa_r"] == 1.0

    disjoint = spark.createDataFrame(
        [("en", "fr", 10)], "pred_nb string, pred_tri string, n long"
    )
    row = _kappa_scalars(disjoint).collect()[0]
    # marginals never meet on a shared label: pe = 0, kappa = po = 0
    assert (row["po_r"], row["pe_r"], row["kappa_r"]) == (0.0, 0.0, 0.0)


# --- 11. randomized rule-filter properties (the r14 discipline) --------------

from hypothesis import given, settings, strategies as st

_RULE_WORD = st.sampled_from(
    ["the", "of", "and", "with", "cat", "x", "12", "#ab", "a...b",
     "incomprehensibilities", "…", "-", "*", "javascript", "lorem", "ipsum",
     # terminal-punctuation and brace words: without them the C4
     # kept-line and has_brace paths never fire in random corpora
     "dog.", "run!", "why?", 'said"', "{x}",
     # r19: ASCII-whitespace words (tab / CR) - the engine's line trims
     # are \s-aware since the whitespace-parity fix (a tab-only line is
     # blank, a CRLF line's terminal punctuation is judged after
     # stripping the \r); without these words the trim semantics are
     # never exercised and the r18-era space-only divergence from the
     # twins' str.strip would have kept passing silently
     "\t", "\tcat", "dog.\r", "-\tbullet", "end…\r"]
)
_RULE_LINE = st.lists(_RULE_WORD, min_size=0, max_size=10).map(" ".join)
_RULE_DOC = st.lists(_RULE_LINE, min_size=1, max_size=6).map("\n".join)


def _gopher_twin(text, stopwords):
    toks = [t for t in text.lower().split(" ") if t]
    lines = [ln for ln in text.split("\n") if ln.strip()]
    if not toks or not lines:
        return None
    n, nl = len(toks), len(lines)
    n_ell = (len(text) - len(text.replace("...", ""))) // 3 + text.count("…")
    f = dict(
        n_words=n,
        mean_word_len=round(sum(map(len, toks)) / n, 6),
        hash_ratio=round(text.count("#") / n, 6),
        ellipsis_sym_ratio=round(n_ell / n, 6),
        frac_bullet=round(
            sum(ln.lstrip()[:1] in "-*•" and len(ln.lstrip()) > 0 for ln in lines)
            / nl, 6),
        frac_ellipsis=round(
            sum(ln.rstrip().endswith(("...", "…")) for ln in lines) / nl, 6),
        frac_alpha=round(
            sum(any("a" <= c <= "z" for c in t) for t in toks) / n, 6),
        n_stop=len(set(toks) & set(stopwords)),
    )
    f["keep"] = (
        50 <= f["n_words"] <= 100_000
        and 3.0 <= f["mean_word_len"] <= 10.0
        and f["hash_ratio"] <= 0.1
        and f["ellipsis_sym_ratio"] <= 0.1
        and f["frac_bullet"] <= 0.9
        and f["frac_ellipsis"] <= 0.3
        and f["frac_alpha"] >= 0.8
        and f["n_stop"] >= 2
    )
    return f


def _c4_twin(text):
    import hashlib

    lines = [ln for ln in text.split("\n") if ln.strip()]
    if not lines:
        return None
    kept = [
        ln for ln in lines
        if ln.rstrip()[-1:] in ('.', '!', '?', '"')
        and len([w for w in ln.split(" ") if w]) >= 5
        and "javascript" not in ln.lower()
    ]
    cleaned = "\n".join(kept)
    n_sent = sum(cleaned.count(t) for t in ".!?")
    return dict(
        n_lines=len(lines),
        n_kept_lines=len(kept),
        kept_ratio=round(len(kept) / len(lines), 6),
        n_kept_words=sum(len([w for w in ln.split(" ") if w]) for ln in kept),
        n_sentences=n_sent,
        has_brace="{" in text,
        has_lorem="lorem ipsum" in text.lower(),
        keep=n_sent >= 3 and "{" not in text
        and "lorem ipsum" not in text.lower(),
        cleaned_md5=hashlib.md5(cleaned.encode()).hexdigest(),
    )


@given(texts=st.lists(_RULE_DOC, min_size=1, max_size=6))
@settings(max_examples=10, deadline=None)
def test_rule_filters_match_twins_on_random_corpora(spark, texts):
    """gopher_rules and c4_rules vs their pure-Python twins on random
    multi-line corpora drawn from an alphabet that hits every rule path
    (stopwords, symbols, bullets, unicode/ascii ellipses, numerics,
    long words, 'javascript', 'lorem ipsum'). Token/line counts stay
    far below 128, so no round-6 ratio can land on an exact half-ulp
    tie and the twins' round() is equivalent to Spark's HALF_UP."""
    from web_maxiv_hdbppviewer_spark.operators import textquality as tq

    docs = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    got_g = {r["doc_id"]: r.asDict() for r in tq.gopher_rules(df).collect()}
    for i, t in docs:
        want = _gopher_twin(t, tq.GOPHER_STOPWORDS)
        if want is None:
            assert i not in got_g
        else:
            have = {k: v for k, v in got_g[i].items() if k != "doc_id"}
            assert have == want, (i, t, have, want)

    got_c = {r["doc_id"]: r.asDict() for r in tq.c4_rules(df).collect()}
    for i, t in docs:
        want = _c4_twin(t)
        if want is None:
            assert i not in got_c
        else:
            have = {k: v for k, v in got_c[i].items() if k != "doc_id"}
            assert have == want, (i, t, have, want)


# --- 12. perceptual near-dup banding (NEW r15) -------------------------------


def test_phash_band_join_pigeonhole_on_constructed_signatures(spark):
    """The banded Hamming join's recall/precision contract on crafted
    32-bit signatures: a 3-bit spread-across-3-bands edit IS found (the
    pigeonhole guarantee: <= 3 flips can touch at most 3 of 4 bands), a
    4-bit one-flip-per-band edit shares NO band and is (correctly, by
    the threshold) not a candidate at all, a 4-bit two-band edit IS a
    candidate but the verify rejects it, and an exact duplicate reports
    Hamming 0."""
    from web_maxiv_hdbppviewer_spark.plans.extensions import (
        _phash_near_dup_pairs,
    )

    s = 0b10101010_11001100_11110000_00001111
    flip3 = s ^ (1 << 0) ^ (1 << 9) ^ (1 << 17)   # bands 0,1,2 touched
    flip4_spread = s ^ (1 << 0) ^ (1 << 9) ^ (1 << 17) ^ (1 << 25)  # all 4
    flip4_two_bands = s ^ 0b11 ^ (0b11 << 8)       # 4 flips in bands 0,1
    sigs = spark.createDataFrame(
        [(1, s), (2, flip3), (3, flip4_spread), (4, flip4_two_bands), (5, s)],
        "doc_id long, sig long",
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in _phash_near_dup_pairs(sigs).collect()
    }
    # exact expected pair set, hand-derived from the flip coordinates:
    #   (1,2) ham 3 (pigeonhole recall at the threshold)
    #   (1,5) ham 0 (exact duplicate), (2,5) ham 3 (via the duplicate)
    #   (2,3) ham 1 (they share flips 0/9/17; differ only at bit 25)
    #   (2,4) ham 3 (xor bits 1/8/17 leave band 3 shared)
    #   (1,3)/(3,5) ham 4 one-flip-per-band: no shared band, no candidate
    #   (1,4)/(4,5) ham 4 in two bands: candidates, verify rejects
    #   (3,4) ham 4 touching all four bands: no candidate
    assert got == {
        (1, 2): 3, (1, 5): 0, (2, 5): 3, (2, 3): 1, (2, 4): 3,
    }


# --- 13. embedding outlier pruning (NEW r15) ---------------------------------


def test_centroid_outliers_constructed_classes(spark):
    """A 10-inlier + 1-far-vector class must flag exactly the far
    vector (its ratio to the class mean lands near n, far above 4,
    while inliers sit near 0.1); a degenerate all-identical class has
    zero mean distance and must yield NULL ratios and no flags - the
    ANSI-safe contract."""
    from web_maxiv_hdbppviewer_spark.operators.similarity import (
        centroid_outliers,
    )

    rows = [(i, [1.0, 0.0], 0) for i in range(10)]
    rows.append((10, [9.0, 0.0], 0))          # the off-manifold vector
    rows += [(11, [2.0, 2.0], 1), (12, [2.0, 2.0], 1)]  # degenerate class
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label long"
    )
    got = {r["vec_id"]: r for r in centroid_outliers(df).collect()}
    assert [v for v in sorted(got) if got[v]["is_outlier"]] == [10]
    assert got[10]["ratio_r"] > 4.0
    for i in range(10):
        assert got[i]["ratio_r"] < 1.0
    for v in (11, 12):
        assert got[v]["ratio_r"] is None
        assert got[v]["is_outlier"] is False
        assert got[v]["dist_r"] == 0.0 and got[v]["mean_dist_r"] == 0.0


# --- 14. the RefinedWeb heuristic funnel (NEW r15) ---------------------------


def test_pipe_refinedweb_constructed_every_stage_drops(spark, tmp_path):
    """A 6-doc corpus where each stage's drop is known by construction:
    doc 1 (doc_id % 16 == 1 -> blocklisted best-casino-777.com URL)
    drops at url_filter; doc 9 (mislabeled fr on English-stopword-
    prefixed text) drops at lang_id; doc 8 (8 tokens) drops at Gopher's
    50-word floor; docs 3/4 are byte-identical 60-token texts, so the
    content-keyed derivation keeps them identical and exact_cleaned
    collapses them; doc 6 is a one-token edit of doc 3 (same token
    count -> same derivation keys, bigram Jaccard ~0.93) and is
    dominated at near_dup. The surviving ids all pass the URL rules
    (doc_id % 16 not in {1,5,11}, % 11 not in {2,5,7}, % 23 != 0,
    % 19 != 0). Exactly one document survives."""
    from web_maxiv_hdbppviewer_spark.plans import extensions

    # 60 DISTINCT tokens: bigram shingles must be ~59 distinct so the
    # one-token edit lands at J = 57/61 ~= 0.93 (a repeated-vocabulary
    # base collapses to 6 distinct shingles and the edit dives to 0.75)
    base = " ".join(f"tok{i:02d}" for i in range(60))
    edited = base.split(" ")
    edited[30] = "zzzzz"
    docs = spark.createDataFrame(
        [
            (1, "en", "src", base),
            (3, "en", "src", base),
            (4, "en", "src", base),
            (6, "en", "src", " ".join(edited)),
            (8, "en", "src", " ".join(f"tok{i:02d}" for i in range(8))),
            (9, "fr", "src", base),
        ],
        "doc_id long, lang string, source string, text string",
    )
    sf_dir = _constructed_corpus(spark, tmp_path, docs=docs)
    out = extensions.pipe_refinedweb(spark, sf_dir).collect()
    funnel = [(r["stage"], r["name"], r["n_in"], r["n_kept"]) for r in out]
    assert funnel == [
        (1, "url_filter", 6, 5),
        (2, "lang_id", 5, 4),
        (3, "gopher", 4, 3),
        (4, "c4", 3, 3),
        (5, "exact_cleaned", 3, 2),
        (6, "near_dup", 2, 1),
    ]


def test_pipe_refinedweb_funnel_is_self_auditing(spark):
    """On real testdata: stage k's n_in equals stage k-1's n_kept,
    counts monotonically non-increasing, stage-1 n_in is the derived
    corpus size (every raw doc tokenizes non-empty here)."""
    from web_maxiv_hdbppviewer_spark.plans import extensions
    from web_maxiv_hdbppviewer_spark.sources.tables import load_tables

    out = extensions.pipe_refinedweb(spark, SF_SMOKE).collect()
    assert [r["stage"] for r in out] == [1, 2, 3, 4, 5, 6]
    n_docs = load_tables(spark, SF_SMOKE)["documents"].count()
    assert out[0]["n_in"] == n_docs
    for prev, cur in zip(out, out[1:]):
        assert cur["n_in"] == prev["n_kept"]
    for r in out:
        assert 0 <= r["n_kept"] <= r["n_in"]
    assert out[0]["n_kept"] < out[0]["n_in"]  # url_filter really filters
    assert out[2]["n_kept"] < out[2]["n_in"]  # gopher really filters


def test_pipe_token_attribution_ties_to_doc_funnel(spark, tmp_path):
    """The token funnel on the 6-doc constructed corpus: budgets are
    hand-knowable (60*5 + 8 = 308 raw tokens), tok_in chains stage to
    stage like the doc funnel (self-audit), stage 1 sheds doc 1's 60
    tokens (blocklisted URL), stage 2 sheds doc 9's 60, stage 3 sheds
    doc 8's 8, stage 5 sheds a 60-token duplicate, stage 6 sheds the
    60-token near-dup - one survivor with 60 tokens and exact round-6
    kept fractions."""
    from web_maxiv_hdbppviewer_spark.plans import extensions

    base = " ".join(f"tok{i:02d}" for i in range(60))
    edited = base.split(" ")
    edited[30] = "zzzzz"
    docs = spark.createDataFrame(
        [
            (1, "en", "src", base),
            (3, "en", "src", base),
            (4, "en", "src", base),
            (6, "en", "src", " ".join(edited)),
            (8, "en", "src", " ".join(f"tok{i:02d}" for i in range(8))),
            (9, "fr", "src", base),
        ],
        "doc_id long, lang string, source string, text string",
    )
    sf_dir = _constructed_corpus(spark, tmp_path, docs=docs)
    out = extensions.pipe_token_attribution(spark, sf_dir).collect()
    rows = [
        (r["stage"], r["name"], r["tok_in"], r["tok_kept"], r["kept_frac"])
        for r in out
    ]
    assert rows == [
        (1, "url_filter", 308, 248, round(248 / 308, 6)),
        (2, "lang_id", 248, 188, round(188 / 248, 6)),
        (3, "gopher", 188, 180, round(180 / 188, 6)),
        (4, "c4", 180, 180, 1.0),
        (5, "exact_cleaned", 180, 120, round(120 / 180, 6)),
        (6, "near_dup", 120, 60, 0.5),
    ]


# --- 15. CCNet perplexity terciles (NEW r15) ---------------------------------


def test_text_ppl_buckets_rank_cuts_match_python_replay(spark):
    """The tercile machinery replayed in Python from the collected
    surprisal values: per language, c1/c2 must equal the nll_r at
    1-based ranks ceil(n/3) and ceil(2n/3) of the (nll_r, doc_id) sort,
    and every bucket must follow the <=c1 / <=c2 / else rule - plus the
    structural facts: only labeled docs appear, buckets are monotone in
    nll_r within a language."""
    import math
    from collections import defaultdict

    from web_maxiv_hdbppviewer_spark.plans import extensions

    rows = extensions.text_ppl_buckets(spark, SF_SMOKE).collect()
    assert rows and all(r["lang"] is not None for r in rows)
    by_lang = defaultdict(list)
    for r in rows:
        by_lang[r["lang"]].append(r)
    for lang, rs in by_lang.items():
        srt = sorted(rs, key=lambda r: (r["nll_r"], r["doc_id"]))
        n = len(srt)
        c1 = srt[math.ceil(n / 3) - 1]["nll_r"]
        c2 = srt[math.ceil(2 * n / 3) - 1]["nll_r"]
        for r in rs:
            assert (r["c1"], r["c2"]) == (c1, c2), (lang, r)
            want = (
                "head" if r["nll_r"] <= c1
                else "middle" if r["nll_r"] <= c2
                else "tail"
            )
            assert r["bucket"] == want, (lang, r, want)
        # monotone in the sort: head block, then middle, then tail
        seq = [r["bucket"] for r in srt]
        assert seq == sorted(seq, key=["head", "middle", "tail"].index)
